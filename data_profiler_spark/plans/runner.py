"""ValidationRun — the end-to-end suite: profile + constraints + drift +
verdicts + manifest, as one lazy Spark DAG per run.

This is the distributed re-expression of the reference's upload pipeline
(`DataProfiler.transform_and_upload_data`, data_profiler.py:302-393 →
`DataDirectory.read_and_validate_file_contents`, data_directory.py:176-392):
the reference validates eagerly, file by file, fail-fast on the first FK
error; here every check is declared lazily over the clips table, verdicts
come back from one aggregated pass, and fail-fast is a driver decision on
the (tiny) verdict frame.

Dataflow (all checks share ONE decode pass and ONE persisted stats frame):

    clips ──filter(pending partitions)──► decode_stats (mapInArrow,
          map-side: bytes never shuffled) ──► salt_repartition(stats) [persist]
          │   (meanwhile a pool thread reads the drift baseline)
          ├─► violations: row-level checks ∪ per-key counts (uniqueness and
          │   both referential directions from ONE groupBy over clip ids
          │   tagged by side) [persist] → append, count per check×partition
          ├─► profile: ONE groupBy(partition_id) agg — row count, column
          │   profile (one GK quartile sketch per numeric column), KLL
          │   sketch per SKETCH_COLUMNS column
          └─► drift: ONE histograms_multi groupBy — numeric columns binned
              with the baseline's edges, codec by stable-hash bucket → PSI/KS
    then verdicts (checks × partitions grid, built driver-side), profile,
    sketches and drift appended concurrently; the manifest commit is last.

Key scale property: duplicate keys hash to the same partition_id
(pmod(xxhash64(key), n)), so per-partition uniqueness verdicts are exact
even under resume — a duplicate can never straddle a completed and a
pending partition undetected unless it was already detected when the first
partition completed.
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from data_profiler_spark.audio import decode_stats, salt_repartition
from data_profiler_spark.checks import with_partition_id
from data_profiler_spark.checks.constraints import (
    key_violations,
    row_level_violations,
    verdict_rows,
)
from data_profiler_spark.drift import drift_from_hist_rows
from data_profiler_spark.functions.frames import local_frame
from data_profiler_spark.plans.manifest import Manifest
from data_profiler_spark.profiling import column_profile_collected, histograms_multi
from data_profiler_spark.schemas import (
    BASELINE_HIST_SCHEMA,
    BASELINE_META_SCHEMA,
    VERDICT_SCHEMA,
    VIOLATION_SCHEMA,
)
from data_profiler_spark.sources.tableio import TableIO

PROFILE_COLUMNS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
STATS_PROFILE_COLUMNS = ["decoded_ms", "rms", "peak", "clip_ratio", "zero_cross_rate"]
# Columns that persist a mergeable KLL quantile sketch per partition (Spark's
# kll_sketch_agg_double, computed inside the profile aggregation): quantiles
# across partitions profiled by DIFFERENT (resumed) runs come from one
# kll_merge_agg_double over the stored sketches, never from re-reading
# completed partitions.
SKETCH_COLUMNS = ["dur_ms", "decoded_ms", "rms"]
# KLL accuracy parameter. DataSketches' a-priori bound for a single quantile
# query, 2.296 / k**0.9723, is a normalized rank error of 1.33% at k = 200
# with 99% confidence, whatever the row count and however the sketches were
# split and merged. A sketch holds at most a few KB.
KLL_K = 200
KLL_RANK_ERROR = 0.0133
PROFILE_DDL = "partition_id int, column string, metric string, value double"
DUR_HIST_BINS = 40
# |dur_ms - decoded_ms| above this fails dur_ms_consistent
DUR_TOL_MS = 5.0
# Numeric profile columns the drift gate scores (PSI + binned-KS per
# column vs the baseline snapshot). dur_ms is declared metadata; decoded_ms
# and rms come out of the decode pass — a baseline snapshot is therefore a
# full decode run, same as the Describer profiling every selected column
# (reference data_profiler.py:523-601), not one hand-picked histogram.
DRIFT_COLUMNS = ["dur_ms", "decoded_ms", "rms"]
# Categorical columns scored by category-mix PSI (stable-hash buckets — a
# histograms_multi spec with nbins 0): a codec-mix shift changes decode cost
# and skew assumptions long before any numeric stat moves.
DRIFT_CATEGORICALS = ["codec"]


@dataclass
class RunResult:
    snapshot_id: str
    partitions_processed: list[int]
    rows: int
    verdicts: DataFrame
    violations: DataFrame
    profile: DataFrame
    drift: DataFrame | None
    clips_per_sec: float
    wall_sec: float
    all_passed: bool = True
    # seconds per phase of run(), summing to wall_sec: manifest_read, decode,
    # baseline (snapshot_baseline runs only), tail, writes, commit
    phases: dict[str, float] = field(default_factory=dict)


class ValidationRun:
    def __init__(
        self,
        spark: SparkSession,
        io: TableIO,
        n_partitions: int = 32,
        manifest_table: str = "manifest",
    ):
        self.spark = spark
        self.io = io
        self.n_partitions = n_partitions
        self.manifest = Manifest(io, spark, table=manifest_table)

    # -- committed reads -----------------------------------------------------
    def read_committed(self, table: str) -> DataFrame:
        """Read an output table filtered to manifest-committed snapshot ids.

        Output rows are appended BEFORE the manifest commit (crash-safe
        ordering), so a killed run — or a replayed streaming micro-batch —
        leaves orphan rows carrying a snapshot id the manifest never
        recorded. Every read of verdicts/violations/profile/sketches/drift
        must go through this filter: a left-semi join with the manifest's
        done rows (Manifest.committed), so neither the plan nor the driver
        grows with the number of committed runs."""
        return self.manifest.committed(self.io.read(self.spark, table))

    # -- cross-run quantiles from persisted sketches -------------------------
    def global_quantiles(self, column: str, qs: list[float]) -> dict[float, float]:
        """Table-level quantiles of ``column`` across ALL partitions in the
        sketches table — including partitions profiled by earlier (resumed)
        runs — from :meth:`global_quantiles_frame`. NaN when the column has
        no committed sketch rows."""
        got = {
            r["quantile"]: r["value"]
            for r in self.global_quantiles_frame(tuple(qs), [column]).collect()
        }
        return {q: got.get(float(q), float("nan")) for q in qs}

    def global_quantiles_frame(
        self,
        qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.99),
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Merged-sketch quantiles for every sketch column as one report frame
        (column, quantile, value) — the shape the html/xlsx sinks take.

        One Spark aggregation over the committed sketch rows: the per-partition
        KLL sketches merge per column (kll_merge_agg_double) and each merged
        sketch answers every quantile in one call; nothing is merged on the
        driver. Reads through the committed-snapshot filter (module contract):
        a run that crashed after appending its sketches but before the
        manifest commit must not double-weight its orphan partitions. Columns
        with no committed rows (or only empty sketches) are omitted rather
        than reported as zeros. Each value's rank is within ``KLL_RANK_ERROR``
        of its quantile (99% confidence)."""
        qarr = F.array(*[F.lit(float(q)) for q in qs])
        merged = (
            self.read_committed("sketches")
            .filter(F.col("column").isin(list(columns or SKETCH_COLUMNS)))
            .groupBy("column")
            .agg(F.kll_merge_agg_double("sketch").alias("merged"))
            # an empty sketch has no quantiles (the call raises), so drop it
            # before asking
            .filter(F.kll_sketch_get_n_double("merged") > 0)
        )
        return (
            merged.select(
                "column",
                F.explode(
                    F.arrays_zip(
                        qarr.alias("quantile"),
                        F.kll_sketch_get_quantile_double("merged", qarr).alias("value"),
                    )
                ).alias("q"),
            )
            .select("column", "q.quantile", "q.value")
            .orderBy("column", "quantile")
        )

    # -- baseline snapshot ---------------------------------------------------
    def write_baseline(
        self, clips: DataFrame | None, stats: DataFrame | None = None
    ) -> None:
        """Persist the drift baseline: one histogram per DRIFT_COLUMNS column
        with data-derived edges and one per DRIFT_CATEGORICALS column, plus
        the specs themselves (baseline_meta: lo/hi/nbins, nbins 0 for a
        categorical) so every later run bins its current histograms
        identically.

        Runs one decode pass (decoded_ms/rms are decode outputs) and one
        min/max agg to derive edges, then ONE scan for all histograms
        (histograms_multi over the one spec dict the meta rows are written
        from). The upper edge is padded so the observed max lands in the
        last interior bucket, not the overflow bucket — bucket nbins+1 stays
        reserved for values genuinely beyond the baseline.

        ``stats``: a pre-computed decode-stats frame (must carry the
        DRIFT_COLUMNS + DRIFT_CATEGORICALS columns). When provided, the
        decode pass is SKIPPED and the frame is used as-is (the caller owns
        its persistence) — ``run(snapshot_baseline=True)`` passes its own
        persisted stats cache here, so validating and snapshotting a
        baseline in one session costs ONE decode of the payload, not two.
        """
        own = stats is None
        if own:
            if clips is None:
                raise ValueError("write_baseline needs clips or a stats frame")
            stats = decode_stats(
                clips.select("clip_id", "bytes", "sr_hz", "codec", "dur_ms"),
                passthrough=["dur_ms", "codec"],
            ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            mm = stats.agg(
                *[F.min(c).cast("double").alias(f"lo_{c}") for c in DRIFT_COLUMNS],
                *[F.max(c).cast("double").alias(f"hi_{c}") for c in DRIFT_COLUMNS],
            ).collect()[0]
            specs: dict[str, tuple[float | None, float | None, int]] = {}
            for c in DRIFT_COLUMNS:
                lo = mm[f"lo_{c}"] if mm[f"lo_{c}"] is not None else 0.0
                hi = mm[f"hi_{c}"] if mm[f"hi_{c}"] is not None else lo + 1.0
                hi = hi + max((hi - lo) * 1e-6, 1e-9)
                specs[c] = (lo, hi, DUR_HIST_BINS)
            specs.update({c: (None, None, 0) for c in DRIFT_CATEGORICALS})
            # Both tables carry the same baseline_id: they are two
            # non-atomic overwrites, and a crash between them would
            # otherwise pair a new histogram with stale (or missing) edges —
            # bucket ids silently meaning different intervals. job_drift
            # refuses mismatched ids instead of scoring garbage.
            bid = uuid.uuid4().hex[:16]
            hist = histograms_multi(stats, specs)
            # meta FIRST: a crash after meta-only leaves baseline_hist
            # absent → drift is skipped entirely (the safe failure).
            meta = local_frame(
                self.spark, [(c, *spec, bid) for c, spec in specs.items()], BASELINE_META_SCHEMA
            )
            self.io.overwrite(meta, "baseline_meta")
            self.io.overwrite(hist.select(F.lit(bid).alias("baseline_id"), "*"), "baseline_hist")
        finally:
            if own:
                stats.unpersist()

    # -- main entry ----------------------------------------------------------
    def run(
        self,
        clips: DataFrame,
        transcripts: DataFrame | None = None,
        limit_partitions: int | None = None,
        filter_pending: bool = True,
        extra_metrics: dict | None = None,
        snapshot_baseline: bool = False,
    ) -> RunResult:
        """Validate all partitions not yet in the manifest.

        ``limit_partitions`` caps how many pending partitions this run
        processes — used by the resume test to simulate a killed job.
        ``filter_pending=False`` validates every row regardless of manifest
        state — the streaming path uses this: each micro-batch holds only
        NEW files (exactly-once via the stream checkpoint), so rows hashing
        into logical partitions completed by earlier batches must still be
        checked; the manifest then records per-batch lineage, not a skip
        filter.
        ``snapshot_baseline=True`` also persists this run's decoded stats
        as the drift baseline (``write_baseline(stats=...)``) off the SAME
        persisted stats cache — one decode pass feeds validation and the
        snapshot. The snapshot is written before the drift job runs, so the
        run's own drift scores compare it against itself (≈0, all passing)
        — the bootstrap shape for a first run on clean data.
        """
        t0 = last = time.monotonic()
        phases: dict[str, float] = {}

        def phase(name: str) -> None:
            """Close phase ``name``: it ran from the previous phase's end."""
            nonlocal last
            now = time.monotonic()
            phases[name] = now - last
            last = now

        clips = with_partition_id(clips, self.n_partitions)

        done = self.manifest.completed_partitions() if filter_pending else set()
        pending = sorted(set(range(self.n_partitions)) - done)
        if limit_partitions is not None:
            pending = pending[:limit_partitions]
        phase("manifest_read")
        if not pending:
            empty_v = self.spark.createDataFrame([], VIOLATION_SCHEMA)
            empty_verd = self.spark.createDataFrame([], VERDICT_SCHEMA)
            empty_prof = self.spark.createDataFrame([], PROFILE_DDL)
            return RunResult("", [], 0, empty_verd, empty_v, empty_prof, None, 0.0,
                             time.monotonic() - t0, phases=phases)

        # At 10^12 scale partition_id is the Iceberg partition column and this
        # filter is partition pruning; locally it's a pushed-down predicate.
        # Transcripts are filtered the same way: a transcript whose clip
        # hashes outside this run is not a referential violation of it.
        if done or limit_partitions is not None:
            clips = clips.filter(F.col("partition_id").isin(pending))
            if transcripts is not None:
                transcripts = with_partition_id(transcripts, self.n_partitions).filter(
                    F.col("partition_id").isin(pending)
                )

        # One decode pass; every scalar column rides through the UDF so
        # NOTHING downstream ever rescans clips — after this point the wide
        # `bytes` column is gone and the whole suite (checks, profile, drift)
        # runs off one persisted stats frame. The decode runs map-side
        # straight off the scan, so the `bytes` column never crosses a
        # shuffle: scan splits are already byte-proportional
        # (`maxPartitionBytes`) and PCM decode cost is proportional to bytes.
        # Only the decoded stats frame (≈30 bytes/row, ~0.03% of the input)
        # is salt-repartitioned, so every downstream pass sees balanced row
        # counts.
        stats = salt_repartition(
            decode_stats(
                clips.select(
                    "clip_id", "bytes", "sr_hz", "codec", "dur_ms", "transcript", "partition_id"
                ),
                passthrough=["sr_hz", "dur_ms", "codec", "transcript", "partition_id"],
            ),
            self.spark.sparkContext.defaultParallelism * 2,
        )

        # Everything after the decode runs under try/finally: any raising path
        # (a failed tail job, the baseline_id mismatch guard, a sink write)
        # must not leak the MEMORY_AND_DISK stats cache into the rest of the
        # session. The violations cache DELIBERATELY outlives a successful run
        # (it is returned in RunResult and read by callers), so it is dropped
        # on the except path only. The pool is left (every submitted job
        # finished) before either cache is dropped: a job still scanning a
        # dropped cache would silently re-run the decode.
        violations = None
        try:
            with ThreadPoolExecutor(max_workers=4) as pool:
                # The drift baseline is metadata-sized; read it while the
                # decode runs. A run that snapshots its own baseline reads it
                # after writing it instead.
                baseline = None if snapshot_baseline else pool.submit(self._read_baseline)
                # Materialize the cache BEFORE fanning out: tail jobs racing an
                # unpopulated cache would each re-run the decode.
                stats.persist(StorageLevel.MEMORY_AND_DISK).count()
                phase("decode")
                if snapshot_baseline:
                    self.write_baseline(None, stats=stats)
                    baseline = pool.submit(self._read_baseline)
                    phase("baseline")

                check_names, violations = self._violations(stats, transcripts)
                violations = violations.persist(StorageLevel.MEMORY_AND_DISK)

                # Every output row carries this run's snapshot id; a crash
                # before the manifest commit leaves orphan rows that reads
                # filter out by joining on manifest snapshot ids.
                snap = uuid.uuid4().hex[:16]
                tag = F.lit(snap).alias("snapshot_id")

                # The tail is three INDEPENDENT jobs over the persisted stats
                # cache, run concurrently from driver threads: Spark schedules
                # concurrent jobs fine and idle cores pick up the next job's
                # tasks, instead of serializing each small job's full latency.
                def job_violations():
                    # write first (fills the cache), then count off the cache
                    self.io.append(violations.select(tag, "*"), "violations")
                    return {
                        (r["check_name"], r["partition_id"]): r["n"]
                        for r in violations.groupBy("check_name", "partition_id")
                        .agg(F.count(F.lit(1)).alias("n"))
                        .collect()
                    }

                def job_profile():
                    # per-partition row count, column profile (clip scalars +
                    # decoded-audio metrics) and quantile sketches as ONE
                    # groupBy(partition_id) agg, melted driver-side
                    return column_profile_collected(
                        stats,
                        PROFILE_COLUMNS + STATS_PROFILE_COLUMNS,
                        group_cols=["partition_id"],
                        extra_aggs={
                            f"{c}__kll": F.kll_sketch_agg_double(F.col(c).cast("double"), KLL_K)
                            for c in SKETCH_COLUMNS
                        },
                    )

                def job_drift():
                    return self._drift(stats, baseline.result())

                f_counts = pool.submit(job_violations)
                f_prof = pool.submit(job_profile)
                f_drift = pool.submit(job_drift)
                counts = f_counts.result()
                prof_rows, groups = f_prof.result()
                drift_rows = f_drift.result()
                phase("tail")

                # The verdict grid (explicit PASS rows for clean partitions)
                # is |checks|×|partitions| rows of metadata: built
                # driver-side, not as a Spark DAG.
                rows_per_part = {g["partition_id"]: int(g["rows"]) for g in groups}
                grid = verdict_rows(check_names, rows_per_part, counts)
                # local_frame (Arrow path): a plain createDataFrame of Python
                # rows is RDD-backed and re-enters Python workers on every
                # write (~4s per tiny metadata write measured on this sandbox).
                verdict_df = local_frame(self.spark, grid, VERDICT_SCHEMA)
                profile = local_frame(self.spark, prof_rows, PROFILE_DDL)
                sketches = local_frame(
                    self.spark,
                    [(g["partition_id"], c, g[f"{c}__kll"]) for g in groups for c in SKETCH_COLUMNS],
                    "partition_id int, column string, sketch binary",
                )
                outputs = {"verdicts": verdict_df, "profile": profile, "sketches": sketches}
                drift = None
                if drift_rows is not None:
                    drift = local_frame(
                        self.spark, drift_rows,
                        "column string, psi double, ks_d double, psi_passed boolean, ks_passed boolean",
                    )
                    outputs["drift"] = drift
                # four independent tiny appends, concurrently
                writes = [
                    pool.submit(self.io.append, df.coalesce(1).select(tag, "*"), table)
                    for table, df in outputs.items()
                ]
                for w in writes:
                    w.result()
                phase("writes")

            # -- then the manifest, last (crash-safe ordering)
            viol_per_part: dict[int, int] = {}
            for r in grid:
                p = r["partition_id"]
                viol_per_part[p] = viol_per_part.get(p, 0) + r["violation_count"]
            rows = sum(rows_per_part.values())
            all_passed = all(r["passed"] for r in grid)
            part_stats = [
                {
                    "partition_id": p,
                    "rows": rows_per_part.get(p, 0),
                    "metrics": {
                        "violations": viol_per_part.get(p, 0),
                        **(extra_metrics or {}),
                    },
                }
                for p in pending
            ]
            self.manifest.commit(part_stats, snap, int((time.monotonic() - t0) * 1000))
            phase("commit")
        except BaseException:
            if violations is not None:
                violations.unpersist()
            raise
        finally:
            stats.unpersist()
        wall = time.monotonic() - t0
        return RunResult(
            snapshot_id=snap,
            partitions_processed=pending,
            rows=rows,
            verdicts=verdict_df,
            violations=violations,
            profile=profile,
            drift=drift,
            clips_per_sec=rows / wall if wall > 0 else 0.0,
            wall_sec=wall,
            all_passed=all_passed,
            phases=phases,
        )

    # -- tail helpers --------------------------------------------------------
    def _violations(
        self, stats: DataFrame, transcripts: DataFrame | None
    ) -> tuple[list[str], DataFrame]:
        """Check names (they drive the verdict grid) and the union of every
        check's violation rows.

        Row-level checks fuse into ONE scan of stats (no joins). Uniqueness
        and both referential directions are specs of ONE
        :func:`key_violations` call over the ``clips`` and ``transcripts``
        sides: a key counted more than once on the clip side is a
        duplicate, one with no transcript row is a clip without transcript,
        and one seen only on the transcript side is a transcript without
        clip. That is one exchange where a uniqueness groupBy plus two
        anti-joins took three, and the transcripts table is scanned once,
        so it needs no cache.
        """
        key = F.col("clip_id")
        row_specs = [
            (
                "pk_not_null",
                key.isNull() | (F.trim(key) == ""),
                F.lit("null or empty primary key"),
            ),
            (
                "audio_decodable",
                ~F.col("decode_ok"),
                F.coalesce(F.col("decode_err"), F.lit("decode failed")),
            ),
            (
                "dur_ms_consistent",
                F.col("decode_ok")
                & (F.abs(F.col("dur_ms") - F.col("decoded_ms")) > DUR_TOL_MS),
                F.concat(
                    F.lit("declared dur_ms="),
                    F.col("dur_ms").cast("string"),
                    F.lit(" decoded_ms="),
                    F.round("decoded_ms", 1).cast("string"),
                ),
            ),
            (
                "transcript_not_null",
                F.col("transcript").isNull() | (F.trim(F.col("transcript")) == ""),
                F.lit("null or empty transcript"),
            ),
        ]
        n_clip = F.col("clips")
        key_specs = [
            (
                "pk_unique",
                n_clip > 1,
                F.concat(F.lit("duplicate key, count="), n_clip),
            ),
        ]
        sides = {"clips": stats}
        if transcripts is not None:
            sides["transcripts"] = transcripts
            key_specs += [
                (
                    "clip_has_transcript",
                    (n_clip > 0) & (F.col("transcripts") == 0),
                    F.lit("clip has no transcript row"),
                ),
                (
                    "transcript_has_clip",
                    (F.col("transcripts") > 0) & (n_clip == 0),
                    F.lit("transcript row has no clip"),
                ),
            ]
        violations = row_level_violations(stats, row_specs).unionByName(
            key_violations(sides, "clip_id", key_specs, self.n_partitions)
        )
        return [s[0] for s in row_specs + key_specs], violations

    def _read_baseline(self) -> tuple[list, list] | None:
        """Collected (baseline_hist, baseline_meta) rows; None without a
        baseline_hist (write_baseline writes meta first, so a crash between
        its two writes leaves no baseline). A missing meta reads as no rows,
        which :meth:`_drift` refuses like any other id mismatch."""
        if not self.io.exists(self.spark, "baseline_hist"):
            return None
        hist = self.io.read(self.spark, "baseline_hist", schema=BASELINE_HIST_SCHEMA)
        if not self.io.exists(self.spark, "baseline_meta"):
            return hist.collect(), []
        meta = self.io.read(self.spark, "baseline_meta", schema=BASELINE_META_SCHEMA)
        return hist.collect(), meta.collect()

    def _drift(self, stats: DataFrame, baseline) -> list[dict] | None:
        """PSI + binned-KS rows per baseline column vs ``baseline`` (from
        :meth:`_read_baseline`). Current histograms are binned with the
        BASELINE's persisted specs (baseline_meta) — every column, numeric
        and categorical, in one histograms_multi scan of the stats cache.
        The histogram aggregation runs distributed; the comparison is
        ≤ nbins+2 rows per numeric column (one per category for a
        categorical), so it is computed driver-side (drift_from_hist_rows)
        instead of as a Spark job."""
        if baseline is None:
            return None
        base_rows, meta_rows = baseline
        # a table written before baselines were stamped reads its ids as NULL
        hist_ids = {r["baseline_id"] for r in base_rows} - {None}
        meta_ids = {r["baseline_id"] for r in meta_rows} - {None}
        # both tables stamped by ONE write_baseline, or the bucket ids may
        # mean different intervals (a crash between its two writes)
        if len(hist_ids) != 1 or hist_ids != meta_ids:
            raise RuntimeError(
                "baseline_hist/baseline_meta carry different baseline_ids "
                f"({hist_ids or '{none}'} vs {meta_ids or '{none}'}) — "
                "write_baseline crashed between its two table writes; "
                "re-run write_baseline"
            )
        cur = histograms_multi(stats, {r.column: (r.lo, r.hi, r.nbins) for r in meta_rows})
        return drift_from_hist_rows(cur.collect(), base_rows)


def summarize(result: RunResult) -> str:
    v = result.verdicts.groupBy("check_name").agg(
        F.min("passed").alias("passed"), F.sum("violation_count").alias("violations")
    )
    lines = [f"snapshot={result.snapshot_id} partitions={len(result.partitions_processed)} "
             f"rows={result.rows} clips/sec={result.clips_per_sec:.0f}"]
    for r in v.collect():
        lines.append(f"  {r['check_name']}: {'PASS' if r['passed'] else 'FAIL'} ({r['violations']} violations)")
    return "\n".join(lines)
