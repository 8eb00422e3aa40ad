"""SparkSession factory with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster: every conf here is one
we would set identically on a 1000-executor cluster (AQE, Arrow, skew join),
except ``shuffle.partitions`` which scales with cluster cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs we would carry verbatim to a real cluster.
CLUSTER_CONFS: dict[str, str] = {
    # AQE: runtime re-planning — coalesces tiny post-shuffle partitions and
    # splits skewed ones; essential when decode cost varies by dur_ms/codec.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for all pandas UDF / mapInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Deterministic timestamp semantics vs external oracles (DuckDB is UTC).
    "spark.sql.session.timeZone": "UTC",
    # At 100TB the default 128MB split is right; keep explicit so it is a
    # conscious choice, not a default.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Whole-stage codegen keeps each generated class in one LRU cache per
    # JVM (the driver's, and each executor's on a cluster; a static conf, so
    # read once when the JVM's SQL layer starts). Spark's default of 100
    # entries is smaller than the engine's plan set, so every pass over the
    # corpus recompiled what the previous pass had compiled: bench.py's 17
    # headline entries compiled 381, 375, 375, 375, 375, 375 classes over six
    # passes in one session. Sized from a count (CodegenMetrics, local[4]):
    # one pass over all 53 corpus entries at sf0.01 compiles 761 classes,
    # and with this size the next two passes compiled 18 and 9 (the headline
    # passes 342, 6, 2, 4). 2,000 is ~2.5x the full corpus's count.
    "spark.sql.codegen.cache.maxEntries": "2000",
}

# Session confs for tables whose rows are WIDE (the ~100KB `bytes` audio
# payload column). Both are runtime-settable SQL confs, applied only to
# audio-table sessions so narrow relational scans keep the stock batching.
# Sizing rule: batch_rows ≈ clamp(target_batch_bytes / avg_row_bytes);
# defaults assume ~100KB rows → ~6MB reader batches, ~50MB Arrow batches.
# With the stock 4096-row batches a single columnar batch is ~400MB of
# binary, and the vectorized reader's WritableColumnVector grows by
# repeated doubling (copying) per batch — measured 10-15× slower scans of
# a 6GB clips table than with 64-row batches, before Python even runs.
AUDIO_TABLE_CONFS: dict[str, str] = {
    "spark.sql.parquet.columnarReaderBatchSize": "64",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
}


def get_spark(
    app_name: str = "data_profiler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to 2×cores (small local data; on a real cluster this
    is sized by data volume / 128MB and AQE coalesces down).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    mem = os.environ.get("SPARK_DRIVER_MEMORY", "12g")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", mem)
        # Pin the heap (-Xms = -Xmx), pre-touch it at JVM start, and use ZGC.
        # Without pinning, G1 uncommits idle regions and re-faults them under
        # load — on this sandbox kernel (DAMON proactive page reclaim active)
        # that produced ~125k minor faults/sec and >90% system CPU time with
        # 3-10× run-to-run variance on the decode path. A MODEST heap beats a
        # big one here: the spare RAM keeps the scanned input in page cache.
        # ZGC (concurrent, no stop-the-world young pauses) measured fastest
        # and most stable for the allocation-heavy wide-binary scan at 32
        # threads (best-of-5 decode: 11.7s vs 13.1s G1 vs 14.6s stock-heap).
        # A cluster deploy sets the same via spark.executor.extraJavaOptions.
        # NOTE: only effective when the JVM starts from this builder (plain
        # `python`); under spark-submit pass --driver-java-options instead.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseZGC",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in CLUSTER_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
