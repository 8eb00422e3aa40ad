"""Tests for the training-data-pipeline operators (dedup, similarity, text)
and the fused row-level check path. Ground truths are computed in plain
Python/numpy on small frames — the reference-style semantics-parity strategy
(SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_profiler_spark.checks.constraints import row_level_violations
from data_profiler_spark.drift.drift import drift_from_hist_rows, drift_paired, pair_histograms
from data_profiler_spark.operators import dedup, multimodal, similarity, textops

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different content about spark engines"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "El perro corre por la calle y la casa"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    rows = {r["id"]: r for r in dedup.exact_duplicates(docs, "doc_id", "text").collect()}
    assert rows[3]["canonical_id"] == 0 and rows[3]["is_dup"] == 1
    assert rows[0]["is_dup"] == 0
    assert rows[1]["is_dup"] == 0  # near-dup is NOT an exact dup
    assert rows[0]["fingerprint"] == rows[3]["fingerprint"]


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(docs, "doc_id", "text", shingle_k=2).collect()
    }
    assert (0, 3) in pairs  # identical docs share every band
    assert (0, 1) in pairs  # 8/9 shared shingles → some band collides
    assert (0, 4) not in pairs and (2, 4) not in pairs


def test_minhash_bucket_cap_drops_only_oversize_buckets(docs):
    """max_bucket_size semantics: pairs confined to oversize buckets
    disappear, pairs that also collide in a within-cap bucket survive, and
    band_bucket_sizes discloses exactly the skipped buckets."""
    banded = dedup.minhash_bands(docs, "doc_id", "text", shingle_k=2)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.candidates_from_bands(banded).collect()
    }
    # cap=1: no bucket may pair two docs → zero candidates by construction
    assert dedup.candidates_from_bands(banded, max_bucket_size=1).count() == 0
    # a generous cap changes nothing
    wide = {
        (r["id_a"], r["id_b"])
        for r in dedup.candidates_from_bands(banded, max_bucket_size=100).collect()
    }
    assert wide == uncapped
    # cap=2: buckets holding the exact-identical trio {0,1,3}... docs 0 and 3
    # are identical (4 shared buckets of size >= 2); capped pairs must be a
    # subset of uncapped, and every surviving pair comes from a small bucket
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.candidates_from_bands(banded, max_bucket_size=2).collect()
    }
    assert capped <= uncapped
    sizes = {
        (r["band_id"], r["band_key"]): r["bucket_n"]
        for r in dedup.band_bucket_sizes(banded).collect()
    }
    n_over = sum(1 for v in sizes.values() if v > 2)
    if n_over == 0:
        assert capped == uncapped  # nothing to skip → identity


def test_simhash_distance_orders_similarity(docs):
    sig = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert sig[0] == sig[3]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sig[0], sig[1]) < ham(sig[0], sig[2])
    assert 0 <= sig[0] < 2**16


def test_ngram_jaccard_exact_values(docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_k=2, threshold=0.05
        ).collect()
    }
    assert got[(0, 3)] == 1.0
    # docs 0/1: 8 shingles each, 7 shared → 7/(8+8-7)
    assert got[(0, 1)] == round(7 / 9, 6)


def test_quality_scores_exact(spark):
    df = spark.createDataFrame([(1, "The cat and the dog!")], "doc_id long, text string")
    r = textops.quality_scores(df, "doc_id", "text").collect()[0]
    # normalized: "the cat and the dog!" → 5 tokens, 20 chars
    assert r["n_tokens"] == 5
    assert r["n_chars_norm"] == 20
    assert r["mean_token_len"] == round((20 - 4) / 5, 6)
    assert r["stopword_ratio"] == round(3 / 5, 6)  # the, and, the
    assert r["punct_ratio"] == round(1 / 20, 6)  # '!'
    assert 0.0 <= r["quality_score"] <= 1.0


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el perro y la casa de la calle"),
            (3, "zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: (r["lang_pred"], r["score"]) for r in textops.language_id(df, "doc_id", "text").collect()}
    assert got[1][0] == "en" and got[1][1] > 0
    assert got[2][0] == "es"
    assert got[3] == ("und", 0)


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello,  world 42!")], "doc_id long, text string")
    r = textops.token_counts(df, "doc_id", "text").collect()[0]
    assert r["ws_tokens"] == 3  # hello, | world | 42!
    assert r["bpe_tokens"] == 5  # hello , world 42 !


def test_fingerprint_stable_under_distant_edit(spark):
    base = "a" * 10 + "m" * 40 + "z" * 200
    edited = "a" * 10 + "m" * 40 + "z" * 199 + "y"  # tail edit far from min window
    df = spark.createDataFrame([(1, base), (2, edited)], "doc_id long, text string")
    fp = {r["id"]: r["fingerprint"] for r in textops.fingerprint(df, "doc_id", "text").collect()}
    assert fp[1] == fp[2]


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(20, 8)).astype(np.float32)
    vecs[5] = vecs[0] + rng.normal(scale=1e-3, size=8).astype(np.float32)  # near-dup
    rows = [(i, [float(x) for x in vecs[i]], int(i % 3)) for i in range(20)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int"),
        vecs.astype(np.float64),
    )


def test_cosine_topk_matches_numpy(embeddings):
    df, vecs = embeddings
    got = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    norms = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs[0]) / (norms * norms[0])
    sims[0] = -np.inf
    expect = np.argsort(-sims)[:3]
    assert [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])] == list(expect)
    top = sorted(got, key=lambda r: r["rank"])[0]
    assert top["cosine"] == pytest.approx(sims[expect[0]], abs=2e-6)


def test_embedding_neardup_pairs(embeddings):
    df, _ = embeddings
    pairs = similarity.embedding_neardup_pairs(df, threshold=0.999).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 5)}


def test_centroids_match_numpy(embeddings):
    df, vecs = embeddings
    got = {(r["label"], r["pos"]): r["value"] for r in similarity.centroids(df).collect()}
    for lbl in range(3):
        members = vecs[[i for i in range(20) if i % 3 == lbl]]
        for pos in range(8):
            assert got[(lbl, pos)] == pytest.approx(members[:, pos].mean(), abs=1e-6)


def test_row_level_violations_fused(spark):
    df = spark.createDataFrame(
        [("a", 5, 0), (None, -1, 1), ("", 3, 2), ("d", -2, 3)],
        "clip_id string, v int, partition_id int",
    )
    specs = [
        ("pk_not_null", F.col("clip_id").isNull() | (F.trim(F.col("clip_id")) == ""), F.lit("bad pk")),
        ("v_nonneg", F.col("v") < 0, F.concat(F.lit("v="), F.col("v").cast("string"))),
    ]
    rows = row_level_violations(df, specs).collect()
    got = {(r["check_name"], r["partition_id"]) for r in rows}
    assert got == {("pk_not_null", 1), ("pk_not_null", 2), ("v_nonneg", 1), ("v_nonneg", 3)}
    details = {r["partition_id"]: r["detail"] for r in rows if r["check_name"] == "v_nonneg"}
    assert details == {1: "v=-1", 3: "v=-2"}


def test_drift_from_hist_rows_matches_spark_ops(spark):
    cur = [{"column": "x", "bucket": b, "count": c} for b, c in [(1, 10), (2, 30), (3, 60)]]
    base = [{"column": "x", "bucket": b, "count": c} for b, c in [(1, 30), (2, 40), (3, 30)]]
    cur_df = spark.createDataFrame([(r["column"], r["bucket"], r["count"]) for r in cur],
                                   "column string, bucket int, count long")
    base_df = spark.createDataFrame([(r["column"], r["bucket"], r["count"]) for r in base],
                                    "column string, bucket int, count long")
    got = drift_paired(pair_histograms(cur_df, base_df, ["column"])).collect()[0]
    local = drift_from_hist_rows(cur, base)[0]
    assert local["psi"] == pytest.approx(got["psi"], rel=1e-9)
    assert local["ks_d"] == pytest.approx(got["ks_d"], rel=1e-9)
    assert (local["psi_passed"], local["ks_passed"]) == (got["psi_passed"], got["ks_passed"])


def test_media_decode_stats_exact(spark):
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    good = multimodal.encode_fake_rgb(px)
    rows = [
        ("m1", bytearray(good), "fake_rgb", 3, 2),
        ("m2", bytearray(b"\x00" * 4), "fake_rgb", 1, 1),  # too short
        ("m3", bytearray(good), "jpeg", 3, 2),  # unregistered codec → stub error
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.media_decode_stats(
        media, passthrough=["width", "height"]).collect()}
    assert got["m1"]["decode_ok"]
    assert got["m1"]["dec_height"] == 2 and got["m1"]["dec_width"] == 3
    assert got["m1"]["mean_intensity"] == pytest.approx(px.mean())
    assert not got["m2"]["decode_ok"]
    assert not got["m3"]["decode_ok"] and "no decoder registered" in got["m3"]["decode_err"]
    # dims check: m1 declared 3x2 decoded 3x2 → no violation
    v = multimodal.check_dims_consistency(
        multimodal.media_decode_stats(media, passthrough=["width", "height"])
    ).collect()
    assert v == []


def test_payload_fingerprint_dedup(spark):
    import hashlib

    p1, p2 = b"payload-one", b"payload-two"
    media = spark.createDataFrame(
        [("a", bytearray(p1)), ("b", bytearray(p1)), ("c", bytearray(p2))],
        "media_id string, payload binary",
    )
    got = {r["media_id"]: r["sha256"] for r in multimodal.payload_fingerprint(media).collect()}
    assert got["a"] == got["b"] == hashlib.sha256(p1).hexdigest()
    assert got["c"] == hashlib.sha256(p2).hexdigest()


# --- round-2 verdict fixes --------------------------------------------------


def test_simhash_near_pairs_pigeonhole_recall(spark):
    """A hamming-2 pair whose differing bits straddle the two 8-bit halves
    (bits 7 and 8) collides in NEITHER half — the old 2-band split silently
    dropped it. Pigeonhole banding (max_hamming+1 = 4 bands of 4 bits)
    guarantees >=1 clean band, so the pair must be found."""
    sim = spark.createDataFrame(
        [(1, 0), (2, (1 << 7) | (1 << 8)), (3, 0xFFFF)], "id long, simhash long"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(sim, max_hamming=3, bits=16).collect()
    }
    assert pairs == {(1, 2): 2}  # found, exact distance; (x,3) too far


def test_simhash_band_chunks_cover_all_bits():
    for bits, mh in [(16, 3), (16, 2), (64, 3), (10, 4)]:
        chunks = dedup.simhash_band_chunks(bits, mh)
        assert len(chunks) == mh + 1
        covered = 0
        for _, shift, mask in chunks:
            covered |= mask << shift
        assert covered == (1 << bits) - 1


def test_embedding_neardup_bucketed_is_subset_of_allpairs(embeddings):
    """The hyperplane-bucketed pair join returns a subset of the all-pairs
    truth with identical cosines (all-pairs stays the small-fixture oracle;
    the bucketed join is the 100TB path)."""
    df, _ = embeddings
    planes = [[float(((7 * p + 13 * j) % 11) - 5) for j in range(8)] for p in range(2)]
    allp = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_neardup_pairs(df, threshold=0.5).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_neardup_pairs(df, threshold=0.5, planes=planes).collect()
    }
    assert set(bucketed) <= set(allp)
    for k, v in bucketed.items():
        assert v == allp[k]
    # near-identical vectors agree on every sign bit -> always recalled
    assert (0, 5) in bucketed


def test_embedding_neardup_plan_is_bucketed(spark):
    """The corpus embedding_neardup entry must contain no cartesian /
    broadcast-nested-loop over the corpus x corpus pair space (VERDICT r1)."""
    from data_profiler_spark.operators.corpus_text import embedding_neardup

    plan = embedding_neardup(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_resize_media_nearest_neighbor_exact(spark):
    """resize_media: real numpy NN resample behind the codec registries —
    output pixels must equal the numpy ground truth, unregistered formats
    yield error rows instead of failing the job."""
    px = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    rows = [
        ("ok", bytearray(multimodal.encode_fake_rgb(px)), "fake_rgb", 6, 4),
        ("bad", bytearray(multimodal.encode_fake_rgb(px)), "jpeg", 6, 4),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.resize_media(media, 2, 3).collect()}
    assert got["ok"]["resize_err"] is None
    assert (got["ok"]["out_height"], got["ok"]["out_width"]) == (2, 3)
    expect = multimodal.nn_resize(px, 2, 3)
    decoded = multimodal.fake_rgb_decoder(bytes(got["ok"]["resized"]), "fake_rgb")
    assert np.array_equal(decoded, expect)
    # numpy truth for pixel-center NN on 4x6 -> 2x3: rows [1,3], cols [1,3,5]
    assert np.array_equal(expect, px[[1, 3]][:, [1, 3, 5]])
    assert "register" in got["bad"]["resize_err"]  # no codec for 'jpeg'


def test_lsh_verified_equals_candidates_intersect_truth(docs):
    """The LSH->Jaccard composition must equal: (all-pairs exact Jaccard at
    the threshold) restricted to LSH candidates — verification only ever
    REMOVES candidate pairs, and keeps exact scores."""
    truth = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=2, threshold=0.3).collect()
    }
    cands = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(docs, "doc_id", "text", shingle_k=2).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.lsh_verified_near_dups(docs, "doc_id", "text", shingle_k=2, threshold=0.3).collect()
    }
    assert set(got) == set(truth) & cands
    for k, v in got.items():
        assert v == truth[k]
    assert (0, 3) in got  # exact dups always survive both stages


def test_kmeans_train_recovers_clusters(spark):
    """Lloyd iterations (IVF coarse-quantizer training) recover two
    well-separated direction clusters from a deliberately WRONG seeding —
    the round-1 caveat (label-seeded, no iteration) is now a real trainer."""
    rng = np.random.default_rng(11)
    a = np.array([10.0, 0.0, 0.0, 0.0])
    b = np.array([0.0, 10.0, 0.0, 0.0])
    vecs = [a + rng.normal(scale=0.5, size=4) for _ in range(10)] + [
        b + rng.normal(scale=0.5, size=4) for _ in range(10)
    ]
    # seed labels by index parity — half the seeds are wrong for each cluster
    rows = [(i, [float(x) for x in v], int(i % 2)) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    assign, cents = similarity.kmeans_train(df, iters=3)
    got = {r["vec_id"]: r["list_id"] for r in assign.collect()}
    first = [got[i] for i in range(10)]
    second = [got[i] for i in range(10, 20)]
    # each true cluster maps to ONE list, and the two lists differ
    assert len(set(first)) == 1 and len(set(second)) == 1
    assert set(first) != set(second)


def test_ivf_quantizer_save_load_roundtrip(spark, tmp_io):
    """Train-once / assign-many: a persisted quantizer reloads bit-for-bit
    and ivf_topk(centroids=loaded) returns exactly what in-line training
    returns for the same codebook."""
    import numpy as np

    from data_profiler_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(v) for v in rng.normal(size=8)], int(i % 4)) for i in range(120)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    queries = corpus.limit(5)

    _, cents = S.kmeans_train(corpus, iters=2)
    S.save_quantizer(tmp_io, cents, "quant")
    loaded = S.load_quantizer(tmp_io, spark, "quant")

    a = {(r["label"], tuple(r["__centvec"])) for r in cents.collect()}
    b = {(r["label"], tuple(r["__centvec"])) for r in loaded.collect()}
    assert a == b

    direct = S.ivf_topk(corpus, queries, k=5, centroids=cents).collect()
    reloaded = S.ivf_topk(corpus, queries, k=5, centroids=loaded).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, direct), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, reloaded), key=lambda t: (t[0], t[3])
    )


def test_distinct_counts_builder_matches_pandas(spark):
    """distinct_counts (A8 exact universes) is public engine API but no
    corpus entry uses it since hll_distinct absorbed the semantics — pin it
    directly against a pandas nunique oracle so it cannot rot unnoticed."""
    import pandas as pd

    from data_profiler_spark.operators.corpus_relational import distinct_counts

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: (r["distinct_parts"], r["distinct_supps"], r["distinct_orders"])
        for r in distinct_counts(spark, sf).collect()
    }
    pdf = pd.read_parquet(f"{sf}/lineitem.parquet",
                          columns=["l_returnflag", "l_partkey", "l_suppkey", "l_orderkey"])
    want = {
        flag: (g["l_partkey"].nunique(), g["l_suppkey"].nunique(), g["l_orderkey"].nunique())
        for flag, g in pdf.groupby("l_returnflag")
    }
    assert got == want


def test_candidates_from_bands_rejects_orphan_bucket_sizes(spark):
    """r5 second-pass finding: a bucket_sizes frame passed without
    max_bucket_size would be silently ignored — must raise instead."""
    import pytest as _pytest

    from data_profiler_spark.operators import dedup

    docs = spark.createDataFrame([(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    banded = dedup.minhash_bands(docs, "doc_id", "text")
    sizes = dedup.band_bucket_sizes(banded)
    with _pytest.raises(ValueError, match="bucket_sizes"):
        dedup.candidates_from_bands(banded, bucket_sizes=sizes)
