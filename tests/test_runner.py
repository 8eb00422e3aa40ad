"""End-to-end ValidationRun + resume-from-manifest semantics
(SURVEY.md §5.2 items 4 and 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_profiler_spark import fixtures
from data_profiler_spark.plans.runner import ValidationRun

N = 240
SEED = 42
PARTS = 8


@pytest.fixture()
def corrupted(spark):
    corr = fixtures.Corruptions(
        null_clip_id_every=47,
        duplicate_clip_id_every=31,
        bad_dur_every=29,
        undecodable_every=53,
    )
    clips = fixtures.generate_clips(spark, N, seed=SEED, corruptions=corr)
    tr = fixtures.generate_transcripts(spark, N, seed=SEED, orphan_every=61, missing_every=71)
    return clips, tr


def test_end_to_end_verdicts(spark, tmp_io, corrupted):
    clips, tr = corrupted
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    res = run.run(clips, transcripts=tr)
    assert res.rows == N
    assert sorted(res.partitions_processed) == list(range(PARTS))
    assert not res.all_passed
    failed = {
        r["check_name"]
        for r in res.verdicts.filter(~F.col("passed")).select("check_name").distinct().collect()
    }
    assert {
        "pk_not_null",
        "pk_unique",
        "audio_decodable",
        "dur_ms_consistent",
        "clip_has_transcript",
        "transcript_has_clip",
    } <= failed
    # violation rows carry offending keys (reference logs bad_keys[:10];
    # data_directory.py:306-356) — here the full set is queryable.
    bad_dur = {
        r["clip_id"]
        for r in res.violations.filter("check_name='dur_ms_consistent'").collect()
    }
    exp_bad_dur = {
        f"clip-{i:012d}" for i in range(1, N) if i % 29 == 0 and i % 53 != 0 and i % 47 != 0
    }
    # clips with i%47==0 have null ids but still fail dur consistency (id null)
    assert {c for c in bad_dur if c is not None} >= exp_bad_dur - {None}
    # verdict violation totals == violation row counts per check
    vc = {
        r["check_name"]: r["s"]
        for r in res.verdicts.groupBy("check_name").agg(F.sum("violation_count").alias("s")).collect()
    }
    rc = {
        r["check_name"]: r["n"]
        for r in res.violations.groupBy("check_name").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for k, n in rc.items():
        assert vc[k] == n, k


def test_clean_run_passes_and_drift(spark, tmp_io):
    clips = fixtures.generate_clips(spark, N, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    run.write_baseline(clips)
    res = run.run(clips)
    assert res.all_passed
    assert res.drift is not None
    rows = {r["column"]: r for r in res.drift.collect()}
    # the drift gate scores EVERY baseline column (numeric + categorical),
    # not one hand-picked histogram
    assert set(rows) >= {"dur_ms", "decoded_ms", "rms", "codec"}
    for c, d in rows.items():
        assert d["psi_passed"] and d["ks_passed"], c


def test_drift_trips_only_shifted_column(spark, tmp_io):
    """A global amplitude (rms) shift must FAIL the rms drift row and leave
    dur_ms / decoded_ms passing — per-column baselines, not a single
    hardcoded dur_ms histogram."""
    clean = fixtures.generate_clips(spark, N, seed=SEED)
    louder = fixtures.generate_clips(
        spark, N, seed=SEED, corruptions=fixtures.Corruptions(gain_all=1.6)
    )
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    run.write_baseline(clean)
    res = run.run(louder)
    rows = {r["column"]: r for r in res.drift.collect()}
    assert not rows["rms"]["psi_passed"]
    assert rows["dur_ms"]["psi_passed"] and rows["dur_ms"]["ks_passed"]
    assert rows["decoded_ms"]["psi_passed"] and rows["decoded_ms"]["ks_passed"]
    assert rows["codec"]["psi_passed"]  # gain does not move the codec mix


def test_codec_mix_shift_trips_only_codec_drift(spark, tmp_io):
    """Forcing every clip to one codec (payload re-encoded accordingly, so
    every numeric distribution is untouched) must FAIL only the categorical
    codec drift row."""
    clean = fixtures.generate_clips(spark, N, seed=SEED)
    raw_only = fixtures.generate_clips(
        spark, N, seed=SEED, corruptions=fixtures.Corruptions(force_codec="pcm16_raw")
    )
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    run.write_baseline(clean)
    res = run.run(raw_only)
    rows = {r["column"]: r for r in res.drift.collect()}
    assert not rows["codec"]["psi_passed"]
    for c in ("dur_ms", "decoded_ms", "rms"):
        assert rows[c]["psi_passed"] and rows[c]["ks_passed"], c


def test_resume_from_manifest(spark, tmp_io):
    clips = fixtures.generate_clips(spark, N, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    # simulate a job killed after 3 of 8 partitions committed
    res1 = run.run(clips, limit_partitions=3)
    assert len(res1.partitions_processed) == 3
    assert res1.rows < N
    # restart: only the remaining 5 partitions are profiled
    res2 = run.run(clips)
    assert len(res2.partitions_processed) == PARTS - 3
    assert set(res1.partitions_processed).isdisjoint(res2.partitions_processed)
    assert res1.rows + res2.rows == N
    # third run: nothing pending
    res3 = run.run(clips)
    assert res3.partitions_processed == [] and res3.rows == 0

    # final metrics identical to a single fresh full run
    import shutil
    import tempfile

    from data_profiler_spark.sources.tableio import ParquetTableIO

    root = tempfile.mkdtemp(prefix="dps_fresh_")
    try:
        fresh = ValidationRun(spark, ParquetTableIO(root), n_partitions=PARTS).run(clips)
        resumed_prof = (
            res1.profile.unionByName(res2.profile)
            .orderBy("partition_id", "column", "metric")
            .collect()
        )
        fresh_prof = fresh.profile.orderBy("partition_id", "column", "metric").collect()
        assert [
            (r["partition_id"], r["column"], r["metric"], r["value"]) for r in resumed_prof
        ] == [(r["partition_id"], r["column"], r["metric"], r["value"]) for r in fresh_prof]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_partial_run_scores_only_its_own_transcripts(spark, tmp_io, corrupted):
    """A run over some partitions checks transcript_has_clip against the
    transcripts of THOSE partitions only: a transcript whose clip hashes
    to a partition outside the run is not a violation of this run. Its
    violation rows therefore match its verdict counts and stay inside
    partitions_processed."""
    clips, tr = corrupted
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    res = run.run(clips, transcripts=tr, limit_partitions=3)
    try:
        assert len(res.partitions_processed) == 3
        rows = res.violations.filter("check_name = 'transcript_has_clip'").collect()
        counted = (
            res.verdicts.filter("check_name = 'transcript_has_clip'")
            .agg(F.sum("violation_count"))
            .collect()[0][0]
        )
        assert rows and len(rows) == counted
        assert {r["partition_id"] for r in rows} <= set(res.partitions_processed)
    finally:
        res.violations.unpersist()


def test_manifest_snapshot_lineage(spark, tmp_io):
    clips = fixtures.generate_clips(spark, 80, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    res = run.run(clips)
    man = tmp_io.read(spark, "manifest")
    rows = man.collect()
    assert {r["partition_id"] for r in rows} == {0, 1, 2, 3}
    assert all(r["status"] == "done" for r in rows)
    assert all(r["snapshot_id"] == res.snapshot_id for r in rows)
    # outputs are tagged with the same snapshot id (lineage)
    prof = tmp_io.read(spark, "profile")
    assert prof.filter(F.col("snapshot_id") == res.snapshot_id).count() == prof.count()


def _fabricated_history(spark, root: str, n_runs: int):
    """A table root whose manifest records ``n_runs`` committed runs (one
    done row each, written as ONE append) and a verdicts table holding one
    row per committed run plus one orphan row no manifest row names."""
    from data_profiler_spark.functions.frames import local_frame
    from data_profiler_spark.schemas import MANIFEST_SCHEMA
    from data_profiler_spark.sources.tableio import ParquetTableIO

    io = ParquetTableIO(root)
    snaps = [f"{i:016x}" for i in range(n_runs)]
    manifest = [(i % PARTS, s, "done", 1, "{}", 0) for i, s in enumerate(snaps)]
    io.append(local_frame(spark, manifest, MANIFEST_SCHEMA).coalesce(1), "manifest")
    verdicts = [(s, "pk_unique") for s in snaps + ["orphan"]]
    io.append(
        local_frame(spark, verdicts, "snapshot_id string, check_name string").coalesce(1),
        "verdicts",
    )
    return ValidationRun(spark, io, n_partitions=PARTS)


def test_read_committed_cost_does_not_grow_with_history(spark, count_jobs):
    """Committed reads are a left-semi join with the manifest, not an
    IN-list of every committed snapshot id collected to the driver: over
    1,000 committed runs they run the same jobs as over one."""
    import re
    import shutil
    import tempfile

    counts = {}
    for n_runs in (1, 1000):
        root = tempfile.mkdtemp(prefix="dps_hist_")
        try:
            run = _fabricated_history(spark, root, n_runs)
            rows, jobs, stages = count_jobs(lambda: run.read_committed("verdicts").collect())
            assert len(rows) == n_runs  # the orphan row is dropped
            assert "orphan" not in {r["snapshot_id"] for r in rows}
            plan = run.read_committed("verdicts")._jdf.queryExecution().optimizedPlan().toString()
            assert "LeftSemi" in plan
            assert not re.search(r"snapshot_id#\d+ (IN|INSET) ", plan), plan
            counts[n_runs] = (jobs, stages)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    assert counts[1000] == counts[1], counts


def test_mismatched_baseline_tables_refuse_to_score(spark, tmp_io):
    """write_baseline is two table writes; if a crash pairs a histogram with
    another write's edges, job_drift must refuse loudly, not score garbage
    buckets."""
    import pytest
    from pyspark.sql import functions as F

    clips = fixtures.generate_clips(spark, 80, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    run.write_baseline(clips)
    # simulate the crash: replace baseline_meta with one from ANOTHER write
    # (materialize first — overwriting a table from a lazy read of itself
    # deletes the files out from under the scan)
    old = tmp_io.read(spark, "baseline_meta")
    rows = [r.asDict() for r in old.collect()]
    for r in rows:
        r["baseline_id"] = "deadbeefdeadbeef"
    meta = spark.createDataFrame(rows, old.schema)
    tmp_io.overwrite(meta, "baseline_meta")
    with pytest.raises(RuntimeError, match="baseline_id"):
        run.run(clips)


def test_histograms_multi_empty_specs_returns_empty_frame(spark):
    from data_profiler_spark.profiling import histograms_multi

    df = spark.range(5).selectExpr("id", "cast(id as double) v")
    out = histograms_multi(df, {})
    assert out.count() == 0
    assert out.columns == ["column", "bucket", "lo", "hi", "count"]


def test_mixed_generation_baseline_tables_also_refuse(spark, tmp_io):
    """One stamped table + one pre-stamping-era table is the exact state a
    crashed new-code write_baseline leaves over a legacy baseline — must
    raise, not silently mis-bin. A baseline_hist with no baseline_meta at
    all (no edges to bin with) refuses the same way."""
    import shutil

    import pytest

    clips = fixtures.generate_clips(spark, 80, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    run.write_baseline(clips)
    # strip baseline_id from the hist (simulate a legacy baseline_hist)
    old = tmp_io.read(spark, "baseline_hist")
    rows = [{k: v for k, v in r.asDict().items() if k != "baseline_id"} for r in old.collect()]
    legacy = spark.createDataFrame(
        rows, "column string, bucket int, lo double, hi double, count long"
    )
    tmp_io.overwrite(legacy, "baseline_hist")
    with pytest.raises(RuntimeError, match="baseline_id"):
        run.run(clips)
    run.write_baseline(clips)
    shutil.rmtree(f"{tmp_io.root}/baseline_meta")
    with pytest.raises(RuntimeError, match="baseline_id"):
        run.run(clips)


def test_raising_drift_does_not_leak_persisted_caches(spark, tmp_io):
    """A raising tail job (the baseline mismatch guard) must not leave the
    decoded-stats cache pinned for the life of the session."""
    import pytest

    clips = fixtures.generate_clips(spark, 80, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    run.write_baseline(clips)
    old = tmp_io.read(spark, "baseline_meta")
    rows = [r.asDict() for r in old.collect()]
    for r in rows:
        r["baseline_id"] = "deadbeefdeadbeef"
    tmp_io.overwrite(spark.createDataFrame(rows, old.schema), "baseline_meta")

    def cached_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()  # successful runs legitimately leave their
    # violations cache behind (returned in RunResult) — only NEW leaks count
    with pytest.raises(RuntimeError):
        run.run(clips)
    leaked = cached_ids() - before
    assert not leaked, f"RDDs newly cached after raising run: {leaked}"


def test_snapshot_baseline_shares_one_decode(spark, tmp_io, monkeypatch):
    """run(snapshot_baseline=True) must feed write_baseline the run's own
    persisted stats cache: ONE decode_stats plan in the whole session (the
    r4 verdict's profile-path fusion item), a usable baseline on disk, and
    a subsequent run scoring clean drift against it."""
    from data_profiler_spark.plans import runner as runner_mod
    from data_profiler_spark.plans.runner import ValidationRun

    calls = {"n": 0}
    real = runner_mod.decode_stats

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(runner_mod, "decode_stats", counting)
    clips = fixtures.generate_clips(spark, N, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    res = run.run(clips, snapshot_baseline=True)
    assert calls["n"] == 1, f"baseline+validate built {calls['n']} decode plans"
    assert res.all_passed
    # the run's own drift compares the snapshot against itself: all green
    rows = {r["column"]: r for r in res.drift.collect()}
    assert set(rows) >= {"dur_ms", "decoded_ms", "rms", "codec"}
    for c, d in rows.items():
        assert d["psi_passed"] and d["ks_passed"], c
    # the persisted baseline is the real thing: a later louder run trips rms
    louder = fixtures.generate_clips(
        spark, N, seed=SEED, corruptions=fixtures.Corruptions(gain_all=1.6)
    )
    run2 = ValidationRun(spark, tmp_io, n_partitions=PARTS, manifest_table="manifest2")
    res2 = run2.run(louder)
    rows2 = {r["column"]: r for r in res2.drift.collect()}
    assert not rows2["rms"]["psi_passed"]
    assert rows2["dur_ms"]["psi_passed"]


# Spark jobs of one ValidationRun at fixture size: 200 clips, 8 partitions,
# transcripts, no drift baseline. A budget may only go down; raising it
# needs a CHANGES.md line saying why.
RUN_JOB_BUDGET = 15


def test_run_job_budget_and_phases(spark, tmp_io, count_jobs):
    corr = fixtures.Corruptions(null_clip_id_every=47, duplicate_clip_id_every=31)
    clips = fixtures.generate_clips(spark, 200, seed=SEED, corruptions=corr)
    tr = fixtures.generate_transcripts(spark, 200, seed=SEED, orphan_every=61, missing_every=71)
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    res, jobs, _stages = count_jobs(lambda: run.run(clips, transcripts=tr))
    try:
        assert res.rows == 200
        assert jobs <= RUN_JOB_BUDGET, f"{jobs} jobs > budget {RUN_JOB_BUDGET}"
        assert {"manifest_read", "decode", "tail", "writes", "commit"} <= set(res.phases)
        assert abs(sum(res.phases.values()) - res.wall_sec) <= 0.05 * res.wall_sec
    finally:
        res.violations.unpersist()


# Spark jobs and stages of the same run against a seeded baseline: the
# drift fold (the baseline read and one histograms_multi collect over the
# numeric and categorical columns) on top of RUN_JOB_BUDGET's run. It was
# (22, 42) while the two baseline tables were read without their declared
# schemas (one inference job each). A budget may only go down; raising it
# needs a CHANGES.md line saying why.
DRIFT_RUN_JOB_STAGE_BUDGET = (20, 40)


def test_drift_run_job_and_stage_budget(spark, tmp_io, count_jobs):
    corr = fixtures.Corruptions(null_clip_id_every=47, duplicate_clip_id_every=31)
    clips = fixtures.generate_clips(spark, 200, seed=SEED, corruptions=corr)
    tr = fixtures.generate_transcripts(spark, 200, seed=SEED, orphan_every=61, missing_every=71)
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    run.write_baseline(clips)
    res, jobs, stages = count_jobs(lambda: run.run(clips, transcripts=tr))
    try:
        assert {r["column"] for r in res.drift.collect()} == {"dur_ms", "decoded_ms", "rms", "codec"}
        job_budget, stage_budget = DRIFT_RUN_JOB_STAGE_BUDGET
        assert jobs <= job_budget, f"{jobs} jobs > budget {job_budget}"
        assert stages <= stage_budget, f"{stages} stages > budget {stage_budget}"
    finally:
        res.violations.unpersist()


def test_failed_output_write_commits_nothing_and_leaks_no_cache(
    spark, tmp_io, corrupted, monkeypatch
):
    """The four output appends run concurrently; one of them failing must
    still fail the run BEFORE the manifest commit (crash-safe ordering: the
    other tables' rows stay orphans that committed reads filter out) and
    must not leave the stats or violations cache pinned."""
    from data_profiler_spark.sources.tableio import ParquetTableIO

    real_append = ParquetTableIO.append

    def append(self, df, table):
        if table == "profile":
            raise OSError("profile sink down")
        return real_append(self, df, table)

    monkeypatch.setattr(ParquetTableIO, "append", append)

    def cached_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    clips, tr = corrupted
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    before = cached_ids()
    with pytest.raises(OSError, match="profile sink down"):
        run.run(clips, transcripts=tr)
    assert run.manifest.completed_partitions() == set()
    assert not tmp_io.exists(spark, "manifest")
    assert tmp_io.exists(spark, "verdicts")  # written, but an orphan
    assert run.read_committed("verdicts").count() == 0
    leaked = cached_ids() - before
    assert not leaked, f"RDDs newly cached after raising run: {leaked}"
