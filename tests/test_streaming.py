"""Incremental (Structured Streaming) validation: exactly-once over landed
files via the stream checkpoint, full check suite per micro-batch."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_profiler_spark import fixtures
from data_profiler_spark.streaming import validate_stream

N1, N2 = 160, 90
PARTS = 8


@pytest.fixture()
def dirs():
    d = tempfile.mkdtemp(prefix="dps_stream_")
    yield f"{d}/in", f"{d}/cp"
    shutil.rmtree(d, ignore_errors=True)


def _land(spark, n, prefix=None):
    df = fixtures.generate_clips(spark, n, seed=7)
    if prefix:
        df = df.withColumn("clip_id", F.concat(F.lit(prefix), F.col("clip_id")))
    return df


def test_incremental_exactly_once(spark, tmp_io, dirs):
    in_dir, cp = dirs
    _land(spark, N1).write.mode("append").parquet(in_dir)

    run1 = validate_stream(spark, tmp_io, in_dir, cp, n_partitions=PARTS)
    assert run1.rows == N1
    assert run1.all_passed

    # no new files → no batches processed
    run_idle = validate_stream(spark, tmp_io, in_dir, cp, n_partitions=PARTS)
    assert run_idle.rows == 0

    # land a second tranche; only the NEW files are validated
    _land(spark, N2, prefix="b2-").write.mode("append").parquet(in_dir)
    run2 = validate_stream(spark, tmp_io, in_dir, cp, n_partitions=PARTS)
    assert run2.rows == N2

    # outputs accumulate across batches with distinct snapshot lineage
    verd = tmp_io.read(spark, "verdicts")
    snaps = {r["snapshot_id"] for r in verd.select("snapshot_id").distinct().collect()}
    assert len(snaps) == 2
    total_checked = (
        verd.filter(F.col("check_name") == "pk_not_null")
        .agg(F.sum("rows_checked"))
        .first()[0]
    )
    assert total_checked == N1 + N2


def test_stream_detects_corruptions(spark, tmp_io, dirs):
    in_dir, cp = dirs
    corr = fixtures.Corruptions(null_clip_id_every=31, undecodable_every=47)
    fixtures.generate_clips(spark, 120, seed=9, corruptions=corr).write.mode(
        "append"
    ).parquet(in_dir)
    run = validate_stream(spark, tmp_io, in_dir, cp, n_partitions=PARTS)
    assert run.rows == 120
    assert not run.all_passed
    failed = {
        r["check_name"]
        for r in run.batches[0]
        .verdicts.filter(~F.col("passed"))
        .select("check_name")
        .distinct()
        .collect()
    }
    assert {"pk_not_null", "audio_decodable"} <= failed


def test_stateful_sessionize_across_batches(spark, dirs):
    """A session spanning two micro-batches must be counted ONCE — the
    per-user GroupState carries last-event time across batches."""
    from data_profiler_spark.streaming.sessionize import sessionize_stream, sessions_dict

    in_dir, cp = dirs

    def land(rows):
        spark.createDataFrame(
            rows,
            "event_id string, ts timestamp, user_id string, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(in_dir)

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    # batch 1: u1 has one session (gap 10s), u2 one session
    land(
        [
            ("e1", ts(0), "u1", "view", 1.0, "{}"),
            ("e2", ts(10), "u1", "view", 1.0, "{}"),
            ("e3", ts(0), "u2", "view", 1.0, "{}"),
        ]
    )
    s1 = sessions_dict(sessionize_stream(spark, in_dir, cp, gap_s=1800))
    assert s1["u1"] == (1, 2) and s1["u2"] == (1, 1)

    # batch 2: u1 continues within the gap (NOT a new session) and later
    # starts a genuinely new session; u2 exceeds the gap → new session
    land(
        [
            ("e4", ts(100), "u1", "view", 1.0, "{}"),
            ("e5", ts(100 + 2000), "u1", "view", 1.0, "{}"),
            ("e6", ts(2000), "u2", "view", 1.0, "{}"),
        ]
    )
    sessions = sessionize_stream(spark, in_dir, cp, gap_s=1800)
    s2 = sessions_dict(sessions)
    assert s2["u1"] == (2, 4)  # continued + one new session
    assert s2["u2"] == (2, 2)  # gap exceeded → second session

    # the sink writes THROUGH the TableIO seam (no driver-side dict
    # accumulation): the sessions table exists on disk and re-reads clean
    import os

    assert os.path.isdir(os.path.join(cp, "_tables", "sessions"))
    # and the dict path is guarded, not unbounded
    import pytest

    with pytest.raises(ValueError, match="exceeds 1 rows"):
        sessions_dict(sessions, max_rows=1)


def test_stream_manifest_namespace_and_batch_idempotence(spark, tmp_io, dirs):
    """Round-2 hardening: (a) stream lineage lives in manifest_stream, so a
    later BATCH run with filter_pending=True still validates everything;
    (b) a replayed micro-batch whose manifest rows already committed is
    skipped via the recorded stream_batch_id."""
    from data_profiler_spark.plans.manifest import Manifest
    from data_profiler_spark.plans.runner import ValidationRun

    in_dir, cp = dirs
    _land(spark, N1).write.mode("append").parquet(in_dir)
    run = validate_stream(spark, tmp_io, in_dir, cp, n_partitions=PARTS)
    assert run.rows == N1

    # (a) namespace separation: batch manifest sees nothing as done
    batch_man = Manifest(tmp_io, spark)  # default 'manifest' table
    stream_man = Manifest(tmp_io, spark, table="manifest_stream")
    assert batch_man.completed_partitions() == set()
    assert len(stream_man.completed_partitions()) > 0

    # (b) idempotent replay: batch id 0 was committed by the stream run
    assert stream_man.has_batch(0)
    assert not stream_man.has_batch(1)
    assert not batch_man.has_batch(0)
    vr = ValidationRun(spark, tmp_io, n_partitions=PARTS, manifest_table="manifest_stream")
    assert vr.manifest.has_batch(0)  # the skip guard's input

    # a batch-mode run over the SAME table root validates all rows (no skip
    # from stream lineage)
    clips = spark.read.parquet(in_dir)
    res = ValidationRun(spark, tmp_io, n_partitions=PARTS).run(clips)
    assert res.rows == N1


def test_windowed_profile_stream_with_watermark_drops_late_rows(spark, dirs):
    """Watermarked windowed aggregation (§2.9 windowed profile): on-time
    rows aggregate per event-time window exactly like the batch groupBy;
    a row arriving LATER than the watermark is excluded from its
    already-closed window."""
    import time as _time

    from data_profiler_spark.streaming import windowed_profile

    in_dir, cp = dirs
    schema = "event_id long, ts timestamp, value double"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(in_dir)

    out_dir = in_dir + "_profile_out"

    def drain(name):
        # parquet sink (memory sink cannot recover from a checkpoint);
        # append mode emits each closed window exactly once
        stream = spark.readStream.schema(schema).parquet(in_dir)
        prof = windowed_profile(stream, "ts", ["value"], "1 minute", "2 minutes")
        q = (
            prof.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            str(r["window_start"]): r
            for r in spark.read.parquet(out_dir).collect()
        }

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    # batch 1: two windows' worth of on-time data, plus a max-ts row that
    # advances the watermark to 12:08 (12:10 - 2min)
    land(
        [(1, t0, 1.0), (2, t0 + dt.timedelta(seconds=30), 3.0),
         (3, t0 + m, 5.0), (4, t0 + 10 * m, 7.0)]
    )
    first = drain("wp1")
    # append mode: windows 12:00 and 12:01 are closed (watermark 12:08)
    assert str(t0) in first and first[str(t0)]["value_n"] == 2
    assert first[str(t0)]["value_mean"] == 2.0
    _time.sleep(1.1)  # distinct mtime so the file source sees a new file

    # batch 2 (same checkpoint → watermark persisted at 12:08):
    # late row at 12:01 (window already closed) must be DROPPED;
    # on-time row at 12:11 lands in a fresh window.
    land([(5, t0 + m, 100.0), (6, t0 + 11 * m, 9.0), (7, t0 + 14 * m, 1.0)])
    second = drain("wp2")
    # the sink is cumulative; the 12:01 row is drain1's single emission —
    # the late 100.0 row must neither re-emit nor alter the closed window
    all_rows = spark.read.parquet(out_dir).collect()
    w_1201 = [r for r in all_rows if str(r["window_start"]) == str(t0 + m)]
    assert len(w_1201) == 1  # exactly-once emission, no late resurrection
    assert w_1201[0]["value_n"] == 1 and w_1201[0]["value_mean"] == 5.0
    assert str(t0 + 11 * m) in second and second[str(t0 + 11 * m)]["value_n"] == 1

    # batch sanity: same function on a batch frame = plain window groupBy
    batch = windowed_profile(spark.read.schema(schema).parquet(in_dir), "ts", ["value"])
    rows = {str(r["window_start"]): r for r in batch.collect()}
    assert rows[str(t0)]["value_n"] == 2 and rows[str(t0 + m)]["value_n"] == 2


def test_windowed_drift_scores_closed_windows(spark, dirs):
    """§2.9 composition: every CLOSED event-time window is scored PSI/KS
    against the persisted baseline histogram, distributed end-to-end (the
    foreachBatch sink never collects). A same-distribution window passes;
    a shifted window fails PSI; a window whose KS sits exactly at its
    threshold passes it (drift.py's <= rule, shared with the batch paths)."""
    import datetime as dt
    import time as _time

    from data_profiler_spark.drift import KS_THRESHOLD
    from data_profiler_spark.profiling import histograms_multi
    from data_profiler_spark.streaming.windowed_drift import windowed_drift_stream

    in_dir, cp = dirs
    schema = "event_id long, ts timestamp, value double"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(in_dir)

    # baseline: uniform-ish values in [0, 10)
    base_df = spark.range(200).select(
        F.col("id"), (F.col("id") % 10).cast("double").alias("value")
    )
    baseline = histograms_multi(base_df, {"value": (0.0, 10.0, 10)})

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)

    def run():
        return windowed_drift_stream(
            spark, in_dir, schema, "ts", "value", baseline, cp,
            lo=0.0, hi=10.0, nbins=10,
            window_size="1 minute", watermark_delay="2 minutes",
        )

    # window 12:00 = same distribution; window 12:01 = shifted mass (all 9s);
    # window 12:02 = values 2..9 only, two of them 2s: its CDF trails the
    # baseline's by exactly 40/200 = 0.2 at value 1; a 12:10 row advances
    # the watermark past all three
    rows = [(i, t0 + dt.timedelta(seconds=i % 50), float(i % 10)) for i in range(100)]
    rows += [(1000 + i, t0 + m, 9.0) for i in range(40)]
    rows += [(1500 + i, t0 + 2 * m, float(v)) for i, v in enumerate([2, 2, 2, 3, 4, 5, 6, 7, 8, 9])]
    rows += [(2000, t0 + 10 * m, 5.0)]
    land(rows)
    out = {str(r["window_start"]): r for r in run().collect()}
    assert str(t0) in out and str(t0 + m) in out
    same, shifted, at_ks = out[str(t0)], out[str(t0 + m)], out[str(t0 + 2 * m)]
    assert same["psi_passed"] and same["ks_passed"] and same["psi"] < 0.05
    assert not shifted["psi_passed"] and shifted["psi"] > 1.0
    assert not shifted["ks_passed"]
    assert at_ks["ks_d"] == KS_THRESHOLD and at_ks["ks_passed"]
    assert not at_ks["psi_passed"]

    _time.sleep(1.1)
    # second drain on the same checkpoint: the 12:10 window closes once a
    # later row advances the watermark; already-scored windows do NOT re-emit
    land([(3000, t0 + 20 * m, 5.0)])
    out2 = run().collect()
    starts = [str(r["window_start"]) for r in out2]
    assert starts.count(str(t0)) == 1 and starts.count(str(t0 + m)) == 1
    assert str(t0 + 10 * m) in starts


def test_windowed_drift_replayed_batch_appends_nothing(spark, dirs):
    """A micro-batch replayed after a crash between the sink's append and
    the checkpoint commit re-emits the windows it already scored; the sink
    appends none of them again. The replay is forced by deleting the last
    commits/<n> file, so the next drain re-runs batch n with the same id."""
    import datetime as dt
    import os

    from data_profiler_spark.profiling import histograms_multi
    from data_profiler_spark.streaming.windowed_drift import windowed_drift_stream

    in_dir, cp = dirs
    schema = "event_id long, ts timestamp, value double"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [(i, t0 + (i % 3) * m + dt.timedelta(seconds=i % 50), float(i % 10)) for i in range(90)]
    rows += [(1000, t0 + 10 * m, 5.0)]  # advances the watermark past 12:00-12:03
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(in_dir)
    base_df = spark.range(200).select((F.col("id") % 10).cast("double").alias("value"))
    baseline = histograms_multi(base_df, {"value": (0.0, 10.0, 10)})

    def drain():
        return windowed_drift_stream(
            spark, in_dir, schema, "ts", "value", baseline, cp,
            lo=0.0, hi=10.0, nbins=10,
            window_size="1 minute", watermark_delay="2 minutes",
        ).collect()

    first = sorted(str(r["window_start"]) for r in drain())
    assert first == [str(t0 + k * m) for k in range(3)]
    commits = os.path.join(cp, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):  # the local fs keeps a checksum beside it
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    starts = [str(r["window_start"]) for r in drain()]
    assert sorted(starts) == first


def test_stream_dedup_drops_rearrivals_across_batches(spark, dirs):
    """dedup_doc_stream: a re-arrival of already-seen content in a LATER
    micro-batch run is dropped (state survives via the checkpoint); novel
    content passes. Fingerprint matches the batch exact-dedup definition."""
    import pandas as pd

    from data_profiler_spark.streaming import dedup_doc_stream

    in_dir, cp = dirs
    out_dir = cp + "_out"
    schema = "doc_id string, text string, event_time timestamp"

    def land(rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "event_time"])
        pdf["event_time"] = pd.to_datetime(pdf["event_time"])
        spark.createDataFrame(pdf, schema).write.mode("append").parquet(in_dir)

    def drain():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        deduped = dedup_doc_stream(stream, watermark="1 hour")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land(
        [
            ("a", "The  QUICK brown fox", "2026-01-01 10:00:00"),
            ("b", "something else", "2026-01-01 10:00:10"),
            # same-batch dup of a (normalization: case + whitespace folded)
            ("a2", "the quick BROWN fox", "2026-01-01 10:00:20"),
        ]
    )
    drain()
    land(
        [
            ("a3", "the quick brown fox", "2026-01-01 10:05:00"),  # cross-batch dup
            ("c", "genuinely new content", "2026-01-01 10:05:10"),
        ]
    )
    drain()

    got = spark.read.parquet(out_dir)
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert "b" in ids and "c" in ids
    assert "a3" not in ids  # cross-batch re-arrival dropped
    assert len({"a", "a2"} & ids) == 1  # same-batch dup collapsed
    # fingerprint agrees with batch exact dedup (md5 of normalized text)
    fps = got.filter(F.col("doc_id") == "b").select("fingerprint").collect()
    import hashlib

    assert fps[0]["fingerprint"] == hashlib.md5(b"something else").hexdigest()


def test_stream_neardup_marks_cross_batch_pair(spark, dirs):
    """mark_near_dups_stream: a near-dup (one-token edit) arriving in a
    LATER micro-batch run is marked against the original (band-key state
    survives via the checkpoint); novel docs produce no marking rows. See
    stream_neardup.py's design note — markings are banded candidates, not
    verified near-dups."""
    import pandas as pd

    from data_profiler_spark.streaming import mark_near_dups_stream

    in_dir, cp = dirs
    out_dir = cp + "_out"
    schema = "doc_id string, text string, event_time timestamp"
    base = (
        "the quick brown fox jumps over the lazy dog while data spark audio "
        "clips stream nicely through the validation engine tonight"
    )

    def land(rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "event_time"])
        pdf["event_time"] = pd.to_datetime(pdf["event_time"])
        spark.createDataFrame(pdf, schema).write.mode("append").parquet(in_dir)

    def drain():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        marks = mark_near_dups_stream(stream, watermark="1 hour")
        q = (
            marks.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land(
        [
            ("orig", base, "2026-01-01 10:00:00"),
            ("other", "completely unrelated words about database joins and shuffles here", "2026-01-01 10:00:10"),
        ]
    )
    drain()
    land(
        [
            ("near", base.replace("tonight", "today"), "2026-01-01 10:05:00"),
            ("novel", "yet another fully distinct document with no shared shingles at all whatsoever", "2026-01-01 10:05:10"),
        ]
    )
    drain()

    got = spark.read.parquet(out_dir)
    pairs = {
        (r["doc_id"], r["matched_doc_id"])
        for r in got.select("doc_id", "matched_doc_id").distinct().collect()
    }
    assert ("near", "orig") in pairs  # cross-batch near-pair marked
    marked_ids = {p[0] for p in pairs}
    assert "other" not in marked_ids and "novel" not in marked_ids


def test_stream_band_keys_match_batch_lsh(spark):
    """band_keys_per_row (per-row array_min signature) produces bit-identical
    band keys to the batch explode+groupBy path in operators/dedup — streamed
    markings and batch candidates must agree on what 'near' means."""
    import pandas as pd

    from pyspark.sql import functions as F
    from data_profiler_spark.operators.dedup import minhash_signatures
    from data_profiler_spark.streaming.stream_neardup import band_keys_per_row

    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog tonight"),
        ("d2", "completely different words describing spark shuffle behavior"),
        ("d3", "short doc"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["event_time"] = pd.to_datetime("2026-01-01 10:00:00")
    df = spark.createDataFrame(pdf, "doc_id string, text string, event_time timestamp")

    stream_keys = {
        (r["doc_id"], r["band_id"]): r["band_key"]
        for r in band_keys_per_row(df, num_hashes=8, rows_per_band=2).collect()
    }
    sig = minhash_signatures(df, "doc_id", "text", num_hashes=8, shingle_k=3)
    batch_keys = {}
    for r in sig.collect():
        for b in range(4):
            key = spark.sql(
                "select md5(concat_ws('', %s)) k"
                % ", ".join(f"'{r[f'h{b * 2 + j}']}'" for j in range(2))
            ).collect()[0]["k"]
            batch_keys[(r["id"], b)] = key
    assert stream_keys == batch_keys


def test_stream_band_keys_cast_long_ids_to_string(spark):
    """A long id column must come out of band_keys_per_row as STRING (the
    OUT_SCHEMA/state contract) — uncast, a doc's own re-arrival would never
    equal its state-held claim and it would mark itself."""
    import pandas as pd

    from data_profiler_spark.streaming.stream_neardup import band_keys_per_row

    pdf = pd.DataFrame({"doc_id": [7], "text": ["one two three four five"]})
    pdf["event_time"] = pd.to_datetime("2026-01-01")
    df = spark.createDataFrame(pdf, "doc_id long, text string, event_time timestamp")
    out = band_keys_per_row(df)
    assert dict(out.dtypes)["doc_id"] == "string"
    assert {r["doc_id"] for r in out.collect()} == {"7"}


def test_verify_markings_filters_banded_false_positives(spark):
    """The exact-Jaccard verifier keeps true near-pairs and kills banded
    false positives — markings are candidates, verification is the drop
    gate (stream_neardup design note)."""
    import pandas as pd

    from pyspark.sql import functions as F
    from data_profiler_spark.streaming import verify_markings

    base = (
        "the quick brown fox jumps over the lazy dog while data spark audio "
        "clips stream nicely through the validation engine tonight"
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, base),
                (2, base.replace("tonight", "today")),
                (3, "entirely different words about unrelated shuffle topics everywhere"),
            ],
            columns=["doc_id", "text"],
        ),
        "doc_id long, text string",
    )
    markings = spark.createDataFrame(
        [
            ("2", "1", 1, "k1"),  # true near pair
            ("3", "1", 2, "k2"),  # banded false positive
            ("2", "1", 3, "k3"),  # duplicate band marking of the same pair
            ("1", "2", 0, "k0"),  # REVERSED marking of the same pair (band-key
            #                       ownership flipped after a state eviction)
        ],
        "doc_id string, matched_doc_id string, band_id int, band_key string",
    )
    out = verify_markings(markings, docs, threshold=0.5).collect()
    # one row per unordered pair, canonical (least, greatest) orientation —
    # (2,1), its band duplicate, and the reversed (1,2) all collapse to one
    assert [(r["id_a"], r["id_b"]) for r in out] == [("1", "2")]
    assert out[0]["jaccard"] >= 0.5


def test_verify_markings_threshold_boundary_is_inclusive(spark):
    """jaccard == threshold must VERIFY (>= semantics) — pinned so the
    streaming drop decision can never diverge from batch
    ``lsh_verified_near_dups`` on the boundary."""
    import pandas as pd

    from data_profiler_spark.streaming import verify_markings

    # shingle_k=3 over 4 tokens → shingles {abc, bcd} vs {abc, bcx}:
    # |∩|=1, |∪|=3 → jaccard exactly 1/3 (0.333333 at 6dp rounding)
    docs = spark.createDataFrame(
        pd.DataFrame(
            [("a", "a b c d"), ("b", "a b c x")], columns=["doc_id", "text"]
        ),
        "doc_id string, text string",
    )
    markings = spark.createDataFrame(
        [("b", "a", 0, "k")],
        "doc_id string, matched_doc_id string, band_id int, band_key string",
    )
    at = verify_markings(markings, docs, threshold=0.333333).collect()
    assert [(r["id_a"], r["id_b"]) for r in at] == [("a", "b")]
    above = verify_markings(markings, docs, threshold=0.333334).collect()
    assert above == []


# ------------------------------------------------------------------------
# mark → verify → drop: the end-to-end streaming near-dup pipeline
# (streaming/neardup_pipeline.py, jobs/stream_neardup_docs.py)

BASE_DOC = (
    "the quick brown fox jumps over the lazy dog while data spark audio "
    "clips stream nicely through the validation engine tonight"
)
# Deterministic banded FALSE POSITIVE for (num_hashes=8, rows_per_band=1,
# shingle_k=3): shares the 6-word prefix with BASE_DOC, and the md5 min-hash
# for seed 2 deterministically lands on a shared prefix shingle for BOTH
# docs — so band 2 collides while exact Jaccard is only 4/34 ≈ 0.118
# (4 shared shingles of 19 each). Found by exhaustive search over seeded
# random tails; the collision is a pure function of the texts.
FP_DOC = (
    "the quick brown fox jumps over kappa psi kappa sigma mu zeta psi psi "
    "omega omicron upsilon gamma delta upsilon rho"
)


def _land_docs(spark, in_dir, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "event_time"])
    pdf["event_time"] = pd.to_datetime(pdf["event_time"])
    spark.createDataFrame(
        pdf, "doc_id string, text string, event_time timestamp"
    ).write.mode("append").parquet(in_dir)


def test_neardup_pipeline_mark_verify_drop_end_to_end(spark, dirs):
    """The full loop through REAL sinks: a true near-pair is marked AND
    dropped; a banded false positive (genuine band collision from the real
    LSH, not a synthesized marking row) is marked but NOT dropped — the
    round-4 verdict's 'verification is the drop gate' criterion."""
    from data_profiler_spark.streaming import neardup_pipeline as P

    in_dir, cp = dirs
    out = cp + "_out"
    _land_docs(spark, in_dir, [("a_orig", BASE_DOC, "2026-01-01 10:00:00")])
    P.drain_once(spark, in_dir, out, threshold=0.5, rows_per_band=1)
    _land_docs(
        spark,
        in_dir,
        [
            ("b_near", BASE_DOC.replace("tonight", "today"), "2026-01-01 10:05:00"),
            ("c_fp", FP_DOC, "2026-01-01 10:05:10"),
        ],
    )
    P.drain_once(spark, in_dir, out, threshold=0.5, rows_per_band=1)

    marked = {
        tuple(sorted((r["doc_id"], r["matched_doc_id"])))
        for r in spark.read.parquet(f"{out}/markings").collect()
    }
    assert ("a_orig", "b_near") in marked  # true near pair marked
    assert ("a_orig", "c_fp") in marked  # banded FP marked (candidate!)

    drops = {r["drop_id"] for r in spark.read.parquet(f"{out}/drops").collect()}
    assert drops == {"b_near"}  # verified near-dup dropped (keep least id)
    # the banded false positive survived verification — marked, NOT dropped
    kept = {r["doc_id"] for r in P.kept_docs(spark, out).collect()}
    assert kept == {"a_orig", "c_fp"}
    # and the drop decision carries the verified jaccard
    d = spark.read.parquet(f"{out}/drops").collect()[0]
    assert d["kept_id"] == "a_orig" and d["jaccard"] >= 0.5


def test_stream_neardup_job_entrypoint(spark, dirs, monkeypatch, capsys):
    """jobs/stream_neardup_docs.py: one drain over a landed batch, JSON
    summary + kept/ parquet output (the spark-submit surface)."""
    import json
    import sys

    from jobs import stream_neardup_docs

    in_dir, cp = dirs
    out = cp + "_job_out"
    _land_docs(
        spark,
        in_dir,
        [
            ("a_orig", BASE_DOC, "2026-01-01 10:00:00"),
            ("b_near", BASE_DOC.replace("tonight", "today"), "2026-01-01 10:00:05"),
            ("z_solo", "entirely unrelated content about iceberg manifest compaction cycles", "2026-01-01 10:00:10"),
        ],
    )
    monkeypatch.setattr(
        sys,
        "argv",
        ["stream_neardup_docs.py", "--input", in_dir, "--output", out,
         "--threshold", "0.5"],
    )
    assert stream_neardup_docs.main() == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["landed"] == 3 and rep["dropped"] == 1
    assert rep["marked_pairs"] >= 1
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/kept").collect()}
    assert kept == {"a_orig", "z_solo"}


def test_stream_neardup_lateness_decay_and_state_eviction(spark, dirs):
    """The design note's recall-decay contract, pinned: a near-dup arriving
    AFTER the watermark evicted the original's band state is marked novel
    (documented recall loss — the batch reconcile pass owns that tail), and
    the state store SHRINKS at eviction (bounded by the watermark window,
    not by stream length)."""
    from data_profiler_spark.streaming import mark_near_dups_stream

    in_dir, cp = dirs
    out_dir = cp + "_out"
    state_rows = []

    def drain():
        stream = spark.readStream.schema(
            "doc_id string, text string, event_time timestamp"
        ).parquet(in_dir)
        marks = mark_near_dups_stream(stream, watermark="10 minutes")
        q = (
            marks.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        progs = [p for p in q.recentProgress if p and p["stateOperators"]]
        if progs:
            state_rows.append(progs[-1]["stateOperators"][0]["numRowsTotal"])

    # batch 1: the original claims its band keys (timeout = 10:00 + 10min)
    _land_docs(spark, in_dir, [("orig", BASE_DOC, "2026-01-01 10:00:00")])
    drain()
    # batch 2: unrelated filler at 11:00 advances the watermark to 10:50,
    # far past the original's 10:10 timeout
    _land_docs(
        spark, in_dir,
        [("f1", "totally unrelated filler words one", "2026-01-01 11:00:00")],
    )
    drain()
    # batch 3: orig's band keys have NO data this batch and their timeout
    # passed -> hasTimedOut fires, state removed
    _land_docs(
        spark, in_dir,
        [("f2", "more unrelated filler words two", "2026-01-01 11:01:00")],
    )
    drain()
    # batch 4: the late near-dup finds no claim -> marked NOVEL (no row)
    _land_docs(
        spark, in_dir,
        [("late_near", BASE_DOC.replace("tonight", "today"), "2026-01-01 11:05:00")],
    )
    drain()

    try:
        marked = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    except Exception:  # no output at all ⇒ nothing was ever marked
        marked = set()
    assert "late_near" not in marked  # recall loss by design, not a match
    # Eviction bounds the store by the watermark window, never cumulative
    # stream length: 4 docs × 4 bands = 16 claims ever made, but orig's 4
    # were evicted once the watermark passed its timeout (availableNow runs
    # a trailing no-data micro-batch per drain, so the removal lands inside
    # the drain cycle that advanced the watermark — measured [4, 4, 8, 12]).
    assert len(state_rows) == 4, f"missing progress metrics: {state_rows}"
    assert state_rows[-1] < 16, f"state is cumulative, eviction failed: {state_rows}"
    assert state_rows[1] <= 8, (
        f"orig's bands were not evicted in the watermark-advancing drain: {state_rows}"
    )


def test_read_if_exists_missing_vs_corrupt(spark, tmp_path):
    """r5 review finding: only the missing-path condition may map to 'no
    rows yet'; any OTHER read failure (corrupt footer here) must raise —
    swallowing it would resurrect dropped docs / skip verification."""
    from data_profiler_spark.streaming.neardup_pipeline import _read_if_exists

    assert _read_if_exists(spark, str(tmp_path / "never_written")) is None
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"garbage, not a parquet footer")
    with pytest.raises(Exception, match="(?i)parquet|footer|failed_read"):
        _read_if_exists(spark, str(bad))


def test_read_if_exists_streaming_sink_dir_before_first_commit(spark, tmp_path):
    """r5 second-pass finding: a file-stream sink creates the dir +
    _spark_metadata at query START, before any batch commits — that state
    reads as UNABLE_TO_INFER_SCHEMA, and is the second legitimate
    'no rows yet' condition (the continuous-trigger race the pipeline
    docstring documents as doc-KEPT, never a crash)."""
    from data_profiler_spark.streaming.neardup_pipeline import _read_if_exists

    sink = tmp_path / "landing"
    (sink / "_spark_metadata").mkdir(parents=True)
    assert _read_if_exists(spark, str(sink)) is None
