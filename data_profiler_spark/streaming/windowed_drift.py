"""Per-window distribution drift over an event-time stream.

Composes the two §2.9 building blocks the engine already has — the
watermarked windowed aggregation (windowed_profile.py) and the
histogram-based drift scores (drift/drift.py) — into the monitoring shape a
continuously-landing clips table actually needs: every closed event-time
window is scored (PSI + binned KS) against the persisted baseline
histogram, and the per-window drift verdicts append to a TableIO table.

Dataflow per micro-batch (everything distributed; the only driver-side
value is the stream lifecycle itself):

    readStream ──watermark──► groupBy(window(ts), width_bucket(value))
               ──append mode──► foreachBatch:
                   closed-window bucket counts (HISTOGRAM rows + window)
                   ∪ baseline replicated per window   (≤ nbins × windows)
                   → pair_histograms → drift_paired
                     (group_cols=[window_start, window_end])
                   → left-anti join with the table's window keys
                   → io.append(table)

Scale notes: the stream state is O(open windows × buckets) thanks to the
watermark; a batch's drift math pairs two ≤(nbins+2)×windows-row frames in
one groupBy and scores them in one window pass — metadata at any data
scale. Scores and verdicts follow drift.py's rules (PSI_THRESHOLD,
KS_THRESHOLD; an empty side scores NULL and fails). Append output mode
means each window is emitted exactly once, when it closes, so (window_start,
window_end, column) is a key of the sink table. A micro-batch replayed after
a crash between its append and its checkpoint commit emits the same windows
again; the sink drops every window the table already holds, so the replay
appends nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_profiler_spark.drift.drift import drift_paired, pair_histograms
from data_profiler_spark.sources.tableio import ParquetTableIO, TableIO


def windowed_drift_stream(
    spark: SparkSession,
    input_path: str,
    schema: str,
    ts_col: str,
    column: str,
    baseline_hist: DataFrame,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    nbins: int = 20,
    window_size: str = "1 minute",
    watermark_delay: str = "2 minutes",
    io: TableIO | None = None,
    table: str = "window_drift",
    timeout_sec: float | None = None,
) -> DataFrame:
    """Drain pending files; score every newly closed window vs the baseline
    and append (window_start, window_end, column, psi, ks_d, psi_passed,
    ks_passed) rows to ``table``. Returns the table as a DataFrame.

    ``lo``/``hi``/``nbins`` MUST be the edges the baseline was built with
    (the engine persists them in the baseline snapshot) — PSI/KS compare
    bucket-by-bucket."""
    if io is None:
        io = ParquetTableIO(os.path.join(checkpoint_dir, "_tables"))
    if hi <= lo:
        hi = lo + 1.0
    # a multi-column persisted baseline frame is valid input: keep only the
    # streamed column's histogram, otherwise the cross-join below replicates
    # every other column into spurious (psi=null) drift rows per window
    base = baseline_hist.filter(F.col("column") == column).select(
        "column", "bucket", "count"
    )

    src = spark.readStream.schema(schema).parquet(input_path).withWatermark(
        ts_col, watermark_delay
    )
    bucket = F.width_bucket(
        F.col(column).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(nbins)
    )
    hist = (
        src.filter(F.col(column).isNotNull())
        .groupBy(
            F.window(F.col(ts_col), window_size).alias("w"),
            bucket.cast("int").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.lit(column).alias("column"),
            "bucket",
            "count",
        )
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # no window closed this batch
            return
        group = ["window_start", "window_end"]
        base_w = base.crossJoin(F.broadcast(batch_df.select(*group).distinct()))
        out = drift_paired(
            pair_histograms(batch_df, base_w, ["column", *group]), group
        ).select(
            *group,
            "column",
            F.round("psi", 6).alias("psi"),
            F.round("ks_d", 6).alias("ks_d"),
            "psi_passed",
            "ks_passed",
        )
        if io.exists(spark, table):
            key = [*group, "column"]
            out = out.join(io.read(spark, table).select(*key), key, "left_anti")
        io.append(out, table)

    q = (
        hist.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec) if timeout_sec else q.awaitTermination()
    if not io.exists(spark, table):  # nothing closed yet → typed empty frame
        return spark.createDataFrame(
            [],
            "window_start timestamp, window_end timestamp, column string, "
            "psi double, ks_d double, psi_passed boolean, ks_passed boolean",
        )
    return io.read(spark, table)
