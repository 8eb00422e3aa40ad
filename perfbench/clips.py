"""clips_full: one full ``ValidationRun.run`` per op over a seeded clips table.

The input carries corruptions at the ``jobs/validate_clips.py --corrupt``
cadences, and its transcripts have orphans in both directions. Expected
outputs are derived without the engine: the decode-dependent checks from the
corruption cadences, the key and transcript checks by DuckDB over the input
parquet.
"""

from __future__ import annotations

import os
import shutil
import statistics

import duckdb

from data_profiler_spark import fixtures
from data_profiler_spark.plans.runner import ValidationRun
from data_profiler_spark.sources.tableio import ParquetTableIO

N_PARTITIONS = 32
CORRUPTIONS = fixtures.Corruptions(
    null_clip_id_every=997,
    duplicate_clip_id_every=491,
    bad_dur_every=379,
    undecodable_every=617,
    null_transcript_every=739,
)
ORPHAN_TRANSCRIPT_EVERY = 211  # transcript rows whose clip does not exist
MISSING_TRANSCRIPT_EVERY = 307  # clips with no transcript row
BASELINE_TABLES = ("baseline_meta", "baseline_hist")
DRIFT_COLUMNS = {"dur_ms", "decoded_ms", "rms", "codec"}


def _cadence(n: int, every: int, unless: tuple[int, ...] = ()) -> int:
    return sum(1 for i in range(every, n, every) if not any(i % u == 0 for u in unless))


def expected_violations(clips_dir: str, transcripts_dir: str, n: int) -> dict[str, int]:
    """Per-check violation counts, computed without the engine."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW c AS SELECT * FROM read_parquet('{clips_dir}/*.parquet')")
    con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{transcripts_dir}/*.parquet')")

    def one(sql: str) -> int:
        return int(con.sql(sql).fetchone()[0])

    anti = """SELECT count(DISTINCT a.clip_id) FROM {a} a WHERE a.clip_id IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {b} b WHERE b.clip_id = a.clip_id)"""
    out = {
        "pk_not_null": one("SELECT count(*) FROM c WHERE clip_id IS NULL OR trim(clip_id) = ''"),
        "pk_unique": one("SELECT count(*) FROM (SELECT clip_id FROM c WHERE clip_id IS NOT NULL "
                         "GROUP BY 1 HAVING count(*) > 1)"),
        "transcript_not_null": one(
            "SELECT count(*) FROM c WHERE transcript IS NULL OR trim(transcript) = ''"),
        "clip_has_transcript": one(anti.format(a="c", b="t")),
        "transcript_has_clip": one(anti.format(a="t", b="c")),
        # decoding is what the engine does, so these come from the cadences
        "audio_decodable": _cadence(n, CORRUPTIONS.undecodable_every),
        "dur_ms_consistent": _cadence(
            n, CORRUPTIONS.bad_dur_every, unless=(CORRUPTIONS.undecodable_every,)),
    }
    con.close()
    return out


class ClipsFull:
    """Workload state: the input table, the baseline tables and op roots."""

    def __init__(self, bench):
        self.bench = bench
        self.spark = bench.spark
        self.n = bench.size.clips
        self.work = bench.work
        self.clips = self.transcripts = None
        self.expected: dict[str, int] = {}

    # -- set-up -------------------------------------------------------------
    def build_input(self) -> None:
        """Materialise the seeded input as parquet."""
        seed = self.bench.seed
        d = os.path.join(self.work, "input")
        fixtures.generate_clips(self.spark, self.n, seed=seed, corruptions=CORRUPTIONS).write.parquet(
            f"{d}/clips")
        fixtures.generate_transcripts(
            self.spark, self.n, seed=seed,
            orphan_every=ORPHAN_TRANSCRIPT_EVERY, missing_every=MISSING_TRANSCRIPT_EVERY,
        ).write.parquet(f"{d}/transcripts")

    def warm_up(self) -> list[list[str]]:
        """Two untimed ops; returns each one's check errors. The first also
        snapshots the drift baseline from its own decode pass, and its two
        baseline tables seed every later op root. The second runs the timed
        op's path: in a fresh session the first timed op after a single
        warm-up op still ran ~10% slower than the ones after it."""
        d = os.path.join(self.work, "input")
        self.expected = expected_violations(f"{d}/clips", f"{d}/transcripts", self.n)
        self.clips = self.spark.read.parquet(f"{d}/clips")
        self.transcripts = self.spark.read.parquet(f"{d}/transcripts")
        root = self._root("warm_up", seed_baseline=False)
        errors, _ = self.check(self._run(root, snapshot_baseline=True))
        for t in BASELINE_TABLES:
            shutil.copytree(os.path.join(root, t), os.path.join(self.work, "baseline", t))
        shutil.rmtree(root)
        root = self.prepare("warm_up")
        second, _ = self.check(self.op(root))
        self.finish(root)
        return [errors, second]

    # -- one op -------------------------------------------------------------
    def _root(self, op: str, seed_baseline: bool = True) -> str:
        root = os.path.join(self.work, "ops", op)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.dirname(root), exist_ok=True)
        if seed_baseline:
            shutil.copytree(os.path.join(self.work, "baseline"), root)
        else:
            os.makedirs(root)
        return root

    def _run(self, root: str, **kw):
        run = ValidationRun(self.spark, ParquetTableIO(root), n_partitions=N_PARTITIONS)
        return run.run(self.clips, self.transcripts, **kw)

    def prepare(self, op: str) -> str:
        return self._root(op)

    def op(self, root: str):
        return self._run(root)

    def finish(self, root: str) -> int:
        """Delete the op's outputs; returns the files it wrote."""
        baseline = sum(len(f) for _, _, f in os.walk(os.path.join(self.work, "baseline")))
        written = sum(len(f) for _, _, f in os.walk(root)) - baseline
        shutil.rmtree(root)
        return written

    def summary(self, ops: list[dict]) -> tuple[float, float]:
        """run_s_p50 (median op) and rows_per_s (clips validated over the
        summed op time)."""
        walls = [o["wall_s"] for o in ops]
        return statistics.median(walls), sum(o["rows"] for o in ops) / sum(walls)

    # -- output check -------------------------------------------------------
    def check(self, res) -> tuple[list[str], dict]:
        """Compare one RunResult with the independently derived values, then
        drop the violations cache the runner leaves to its caller. Returns
        the errors and the op's row counts."""
        errors: list[str] = []
        info = {"rows": res.rows, "violation_rows": 0}
        try:
            if res.rows != self.n:
                errors.append(f"rows validated {res.rows} != {self.n}")
            verdicts = res.verdicts.collect()
            checks = sorted({v["check_name"] for v in verdicts})
            parts = {v["partition_id"] for v in verdicts}
            if checks != sorted(self.expected) or len(parts) != N_PARTITIONS:
                errors.append(f"verdict grid {checks} x {len(parts)} partitions")
            if len(verdicts) != len(self.expected) * N_PARTITIONS:
                errors.append(f"{len(verdicts)} verdict rows != {len(self.expected) * N_PARTITIONS}")
            got = {c: 0 for c in self.expected}
            checked = {c: 0 for c in self.expected}
            for v in verdicts:
                got[v["check_name"]] = got.get(v["check_name"], 0) + v["violation_count"]
                checked[v["check_name"]] = checked.get(v["check_name"], 0) + v["rows_checked"]
            if got != self.expected:
                errors.append(f"violation counts {got} != expected {self.expected}")
            if set(checked.values()) != {self.n}:
                errors.append(f"rows checked per check {checked} != {self.n}")
            info["violation_rows"] = res.violations.count()
            if info["violation_rows"] != sum(self.expected.values()):
                errors.append(
                    f"{info['violation_rows']} violation rows != {sum(self.expected.values())}")
            drift = res.drift.collect() if res.drift is not None else []
            if {r["column"] for r in drift} != DRIFT_COLUMNS or len(drift) != len(DRIFT_COLUMNS):
                errors.append(f"drift rows {[r['column'] for r in drift]}")
            # the baseline is this same input, so every score is exactly 0
            for r in drift:
                if r["psi"] > 1e-9 or r["ks_d"] > 1e-9 or not (r["psi_passed"] and r["ks_passed"]):
                    errors.append(f"drift {r['column']}: psi={r['psi']} ks={r['ks_d']}")
        finally:
            res.violations.unpersist()
        return errors, info
