"""Property-based tests (hypothesis) over the engine's pure-python kernels —
the reference has no property coverage at all (SURVEY.md §5.1); these pin
the invariants the Spark layers rely on, without spinning jobs per example.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from data_profiler_spark.audio.decode import decode_pcm16
from data_profiler_spark.fixtures import encode_pcm16_raw, encode_pcm16_wav

finite_pcm = arrays(
    np.float64,
    st.integers(min_value=1, max_value=4096),
    elements=st.floats(min_value=-2.0, max_value=2.0, allow_nan=False),
)


@given(pcm=finite_pcm, sr=st.sampled_from([8000, 16000, 44100]))
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_quantization_bound(pcm, sr):
    """encode→decode is lossless up to int16 quantization (the SNR≥30dB
    fidelity invariant rests on this)."""
    decoded = decode_pcm16(encode_pcm16_wav(pcm, sr), "pcm16_wav")
    clipped = np.clip(pcm, -1.0, 1.0)
    assert decoded.shape == pcm.shape
    assert np.max(np.abs(decoded - clipped)) <= 1.0 / 32767.0 + 1e-9


@given(pcm=finite_pcm)
@settings(max_examples=30, deadline=None)
def test_raw_and_wav_agree(pcm):
    raw = decode_pcm16(encode_pcm16_raw(pcm), "pcm16_raw")
    wav = decode_pcm16(encode_pcm16_wav(pcm, 16000), "pcm16_wav")
    assert np.array_equal(raw, wav)


@given(pcm=finite_pcm, cut=st.integers(min_value=0, max_value=43))
@settings(max_examples=30, deadline=None)
def test_truncated_wav_never_decodes_silently(pcm, cut):
    """A payload truncated inside the header must raise ValueError (→ a
    violation row), never return garbage PCM."""
    payload = encode_pcm16_wav(pcm, 16000)[:cut]
    with pytest.raises(ValueError):
        decode_pcm16(payload, "pcm16_wav")


@given(
    data=arrays(
        np.float64,
        st.integers(min_value=1, max_value=3000),
        elements=st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    ),
    n_splits=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=12, deadline=None)
def test_kll_split_merge_count_and_rank_error(spark, data, n_splits):
    """Per-split KLL sketches merged in Spark (the resume guarantee: the
    table's partitions are sketched by different runs) count every value
    once, and every quantile they answer is within the pinned rank-error
    bound of the exact one, however the data was split."""
    from pyspark.sql import functions as F

    from data_profiler_spark.functions.frames import local_frame
    from data_profiler_spark.plans.runner import KLL_K, KLL_RANK_ERROR

    qs = [0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    rows = [
        (split, float(v))
        for split, part in enumerate(np.array_split(data, n_splits))
        for v in part
    ]
    merged = (
        local_frame(spark, rows, "split int, v double")
        .groupBy("split")
        .agg(F.kll_sketch_agg_double("v", KLL_K).alias("sketch"))
        .agg(F.kll_merge_agg_double("sketch").alias("m"))
        .select(
            F.kll_sketch_get_n_double("m").alias("n"),
            F.kll_sketch_get_quantile_double("m", F.array(*[F.lit(q) for q in qs])).alias("v"),
        )
        .collect()[0]
    )
    assert merged["n"] == len(data)
    s = np.sort(data)
    for q, v in zip(qs, merged["v"]):
        # v's exact rank is an interval when v repeats; distance from q to it
        lo = np.searchsorted(s, v, "left") / len(s)
        hi = np.searchsorted(s, v, "right") / len(s)
        assert max(lo - q, q - hi) <= KLL_RANK_ERROR, (q, v, lo, hi)
    # the extremes are kept exactly
    assert merged["v"][0] == s[0] and merged["v"][-1] == s[-1]


from data_profiler_spark.operators.dedup import simhash_band_chunks


@given(
    a=st.integers(min_value=0, max_value=2**16 - 1),
    flips=st.lists(st.integers(min_value=0, max_value=15), max_size=3, unique=True),
)
@settings(max_examples=300, deadline=None)
def test_simhash_pigeonhole_band_guarantee(a, flips):
    """For ANY fingerprint and ANY <=3 bit flips, at least one of the
    max_hamming+1 bands is identical — the recall guarantee the banded
    equi-join in dedup.simhash_near_pairs relies on (VERDICT r1 fix)."""
    b = a
    for f in flips:
        b ^= 1 << f
    chunks = simhash_band_chunks(16, 3)
    assert any(((a >> s) & m) == ((b >> s) & m) for _, s, m in chunks)


@given(
    a=st.integers(min_value=0, max_value=2**16 - 1),
    flips=st.lists(st.integers(min_value=0, max_value=15), min_size=4, max_size=8, unique=True),
)
@settings(max_examples=100, deadline=None)
def test_simhash_bands_never_claim_distance(a, flips):
    """Band collision is only a CANDIDATE signal: the exact popcount filter
    decides membership, so pairs beyond max_hamming that happen to share a
    band must still be rejected by the hamming predicate."""
    b = a
    for f in flips:
        b ^= 1 << f
    assert bin(a ^ b).count("1") > 3  # by construction (unique flips)


@given(
    pcm=finite_pcm,
    sr=st.integers(min_value=1, max_value=192_000),
    pre_chunks=st.lists(
        st.binary(min_size=0, max_size=16), min_size=0, max_size=3
    ),
)
@settings(max_examples=60, deadline=None)
def test_wav_sample_rate_walks_any_chunk_layout(pcm, sr, pre_chunks):
    """wav_sample_rate must recover the encoded rate no matter how many
    foreign chunks precede 'fmt ' (legal RIFF layouts), and the payload
    must still decode — the pair of invariants the transform path's
    header-authoritative resampling stands on."""
    import struct

    from data_profiler_spark.audio.decode import wav_sample_rate

    canonical = encode_pcm16_wav(pcm, sr)
    body = canonical[12:]
    extra = b"".join(
        b"LIST" + struct.pack("<I", len(c) + (len(c) & 1)) + c + (b"\x00" * (len(c) & 1))
        for c in pre_chunks
    )
    weird = b"RIFF" + struct.pack("<I", 4 + len(extra) + len(body)) + b"WAVE" + extra + body
    assert wav_sample_rate(canonical) == sr
    assert wav_sample_rate(weird) == sr
    assert len(decode_pcm16(weird, "pcm16_wav")) == len(pcm)


@given(
    edges=st.lists(
        st.tuples(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.floats(min_value=1e-3, max_value=1e6, allow_nan=False),
            st.integers(min_value=1, max_value=40),
        ),
        min_size=1,
        max_size=3,
    ),
    values=st.lists(
        st.tuples(
            st.floats(min_value=-2e6, max_value=2e6, allow_nan=False),
            st.sampled_from(["mp3", "wav", "flac", "", None]),
        ),
        min_size=0,
        max_size=200,
    ),
)
@settings(max_examples=15, deadline=None)
def test_histograms_multi_equals_per_column_histogram(spark, edges, values):
    """One-scan multi-column binning ≡ a per-column reference for arbitrary
    edges and data (the binning the drift gate rests on). Numeric specs
    match numpy's width_bucket: 0 below lo, nbins+1 at/above hi, else
    floor(nbins·(v−lo)/(hi−lo)) + 1, evaluated in that order as Spark does.
    A categorical spec (nbins 0) over a string column with NULLs counts the
    NULLs in bucket 0, one bucket per distinct value otherwise, with NULL
    lo/hi."""
    from collections import Counter

    from data_profiler_spark.profiling import histograms_multi

    cols = [f"c{i}" for i in range(len(edges))]
    nums = [v for v, _ in values]
    cats = [c for _, c in values]
    df = spark.createDataFrame(
        [(*[v] * len(cols), c) for v, c in values],
        ", ".join(f"{c} double" for c in cols) + ", cat string",
    )
    specs = {c: (lo, lo + width, nb) for c, (lo, width, nb) in zip(cols, edges)}
    rows = histograms_multi(df, {**specs, "cat": (None, None, 0)}).collect()
    multi = {(r["column"], r["bucket"]): r["count"] for r in rows if r["column"] != "cat"}
    single = {}
    v = np.asarray(nums, dtype=np.float64)
    for c, (lo, hi, nb) in specs.items():
        b = np.where(v < lo, 0, np.where(v >= hi, nb + 1, np.floor(nb * (v - lo) / (hi - lo)) + 1))
        for k, n in zip(*np.unique(b.astype(int), return_counts=True)):
            single[(c, int(k))] = int(n)
    assert multi == single

    cat = [r for r in rows if r["column"] == "cat"]
    assert all(r["lo"] is None and r["hi"] is None for r in cat)
    n_null = cats.count(None)
    assert [r["count"] for r in cat if r["bucket"] == 0] == ([n_null] if n_null else [])
    seen = Counter(c for c in cats if c is not None)
    assert sorted(r["count"] for r in cat if r["bucket"] != 0) == sorted(seen.values())


_side = st.lists(st.sampled_from(["a", "b", "c", "d", "e", None]), max_size=12)


@given(left=_side, right=_side)
@settings(max_examples=12, deadline=None)
def test_key_violations_equal_set_logic(spark, left, right):
    """The side-tagged groupBy ≡ pure-Python set logic for uniqueness and
    both FK directions, over sides with NULL keys, duplicates and empty
    sides: one row per distinct failing key, NULL keys never reported, and
    each key in the with_partition_id bucket its rows land in."""
    from collections import Counter

    from pyspark.sql import functions as F

    from data_profiler_spark.checks import key_violations, with_partition_id

    def frame(keys):
        return spark.createDataFrame([(k,) for k in keys], "k string")

    n_left, n_right = F.col("left"), F.col("right")
    got = key_violations(
        {"left": frame(left), "right": frame(right)},
        "k",
        [
            ("left_unique", n_left > 1, F.concat(F.lit("count="), n_left)),
            ("left_in_right", (n_left > 0) & (n_right == 0), F.lit("orphan")),
            ("right_in_left", (n_right > 0) & (n_left == 0), F.lit("orphan")),
        ],
        n_partitions=4,
    ).collect()

    counts = Counter(k for k in left if k is not None)
    lkeys, rkeys = set(counts), {k for k in right if k is not None}
    expected = (
        {("left_unique", k, f"count={n}") for k, n in counts.items() if n > 1}
        | {("left_in_right", k, "orphan") for k in lkeys - rkeys}
        | {("right_in_left", k, "orphan") for k in rkeys - lkeys}
    )
    rows = [(r["check_name"], r["clip_id"], r["detail"]) for r in got]
    assert len(rows) == len(expected) and set(rows) == expected

    pids = {
        r["k"]: r["partition_id"]
        for r in with_partition_id(frame(sorted(lkeys | rkeys)), 4, key="k").collect()
    }
    assert all(r["partition_id"] == pids[r["clip_id"]] for r in got)
