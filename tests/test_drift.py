"""PSI / KS drift tests vs hand-computed oracles and the driver-side twin
(drift_from_hist_rows) as the reference for the Spark core."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_profiler_spark.drift import (
    KS_THRESHOLD,
    drift_from_hist_rows,
    drift_paired,
    ks_exact_by_group,
    pair_histograms,
)
from data_profiler_spark.profiling import histograms_multi


def _hist(spark, values, lo, hi, nb, col="v"):
    df = spark.createDataFrame(pd.DataFrame({col: values}))
    return histograms_multi(df, {col: (lo, hi, nb)})


def _score(cur, base):
    return drift_paired(pair_histograms(cur, base, ["column"])).collect()[0]


def test_psi_zero_for_identical(spark):
    rng = np.random.default_rng(1)
    x = rng.normal(50, 10, 4000)
    h = _hist(spark, x, 0, 100, 20)
    r = _score(h, h)
    assert r["psi"] == pytest.approx(0.0, abs=1e-9)
    assert r["ks_d"] == 0.0 and r["psi_passed"] and r["ks_passed"]


def test_psi_detects_shift(spark):
    rng = np.random.default_rng(2)
    base = _hist(spark, rng.normal(50, 10, 4000), 0, 100, 20)
    cur = _hist(spark, rng.normal(65, 10, 4000), 0, 100, 20)
    r = _score(cur, base)
    assert r["psi"] > 0.25  # standard "drifted" threshold
    assert not r["psi_passed"]


def test_drift_paired_psi_equals_hist_rows_reference(spark):
    """pair_histograms → drift_paired == the driver-side twin over the same
    collected histograms, including one-sided buckets (present in only one
    population → the other side is a 0 count)."""
    rng = np.random.default_rng(7)
    a = rng.normal(35, 6, 3000)  # leaves high buckets empty
    b = rng.normal(65, 6, 3000)  # leaves low buckets empty
    lo, hi, nb = 0.0, 100.0, 20
    cur, base = _hist(spark, a, lo, hi, nb), _hist(spark, b, lo, hi, nb)
    want = drift_from_hist_rows(cur.collect(), base.collect())[0]["psi"]
    assert _score(cur, base)["psi"] == pytest.approx(want, rel=1e-12)


def test_psi_window_core_matches_joined_oracle_grouped(spark):
    """The r5 window-totals core against a hand-computed per-group oracle,
    through the GROUPED path windowed_drift uses (group_cols): random
    per-(group, bucket) count pairs incl. zero-count buckets, PSI computed
    independently in numpy per group."""
    rng = np.random.default_rng(11)
    rows = []
    for g in ("w1", "w2", "w3"):
        for b in range(8):
            c, base = int(rng.integers(0, 50)), int(rng.integers(0, 50))
            if c or base:
                rows.append(("v", g, b, c, base))
    counts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["column", "grp", "bucket", "c_cnt", "b_cnt"])
    )
    got = {
        r["grp"]: r["psi"]
        for r in drift_paired(counts, group_cols=["grp"]).collect()
    }
    for g in ("w1", "w2", "w3"):
        sub = [(c, b) for (_, gg, _, c, b) in rows if gg == g]
        ca = np.array([c for c, _ in sub], dtype=float)
        cb = np.array([b for _, b in sub], dtype=float)
        p = ca / ca.sum() + 1e-6
        q = cb / cb.sum() + 1e-6
        want = float(((p - q) * np.log(p / q)).sum())
        assert got[g] == pytest.approx(want, rel=1e-12), g


def test_psi_matches_numpy_oracle(spark):
    rng = np.random.default_rng(3)
    a, b = rng.normal(48, 9, 3000), rng.normal(52, 11, 3000)
    lo, hi, nb = 0.0, 100.0, 10
    cur, base = _hist(spark, a, lo, hi, nb), _hist(spark, b, lo, hi, nb)
    got = _score(cur, base)["psi"]
    edges = np.linspace(lo, hi, nb + 1)
    ca = np.histogram(a, bins=edges)[0].astype(float)
    cb = np.histogram(b, bins=edges)[0].astype(float)
    # align to width_bucket buckets incl. under/overflow (none here)
    p = ca / ca.sum() + 1e-6
    q = cb / cb.sum() + 1e-6
    exp = float(((p - q) * np.log(p / q)).sum())
    assert got == pytest.approx(exp, rel=1e-6)


def test_ks_binned_approximates_exact(spark):
    rng = np.random.default_rng(4)
    a, b = rng.normal(50, 10, 5000), rng.normal(56, 10, 5000)
    cur, base = _hist(spark, a, 0, 100, 50), _hist(spark, b, 0, 100, 50)
    got = _score(cur, base)["ks_d"]
    sa, sb = np.sort(a), np.sort(b)
    allv = np.concatenate([sa, sb])
    exact = np.max(
        np.abs(
            np.searchsorted(sa, allv, side="right") / len(sa)
            - np.searchsorted(sb, allv, side="right") / len(sb)
        )
    )
    assert got == pytest.approx(exact, abs=0.03)  # ≤ max bucket mass


def test_ks_exact_by_group(spark):
    rng = np.random.default_rng(5)
    base = pd.DataFrame({"v": rng.normal(0, 1, 2000)})
    same = rng.normal(0, 1, 1500)
    shifted = rng.normal(1.0, 1, 1500)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"g": ["same"] * len(same) + ["shift"] * len(shifted), "v": np.concatenate([same, shifted])}
        )
    )
    got = {r["g"]: r["ks_d"] for r in ks_exact_by_group(df, "v", ["g"], base).collect()}
    assert got["same"] < 0.05
    assert got["shift"] > 0.3


def test_drift_scores_global_row_matches_psi_drift(spark):
    """The r5 drift_scores fusion derives the global 'psi:value' row by
    re-aggregating the pinned (day, bucket)-grain counts across days; that
    must stay bit-identical (at the entry's 6-dp rounding) to psi_drift's
    direct bucket-grain aggregation, and the grouped rows must cover every
    event day exactly once."""
    from data_profiler_spark.operators.corpus_engine import drift_scores, psi_drift

    sf = "/root/testdata/sf0.001"
    rows = {r["metric"]: r["value"] for r in drift_scores(spark, sf).collect()}
    direct = psi_drift(spark, sf).collect()[0]["psi"]
    assert rows["psi:value"] == direct
    days = sorted(m.split(":")[2] for m in rows if m.startswith("psi:value:"))
    expected = sorted(
        r[0]
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view", "click")
        )
        .select(F.date_format("ts", "yyyy-MM-dd"))
        .distinct()
        .collect()
    )
    assert days == expected and len(days) > 1


def test_drift_paired_ks_equals_hist_rows_reference(spark):
    """drift_paired's binned KS == the driver-side twin over the same
    collected histograms, including one-sided buckets, globally and per
    group."""
    rng = np.random.default_rng(11)
    a = rng.normal(35, 6, 3000)
    b = rng.normal(58, 9, 3000)
    lo, hi, nb = 0.0, 100.0, 20
    cur, base = _hist(spark, a, lo, hi, nb), _hist(spark, b, lo, hi, nb)
    want = drift_from_hist_rows(cur.collect(), base.collect())[0]["ks_d"]
    counts = pair_histograms(cur, base, ["column"])
    assert drift_paired(counts).collect()[0]["ks_d"] == pytest.approx(want, rel=1e-12)

    # grouped: two groups with different shift sizes must score independently
    g_counts = counts.withColumn("g", F.lit("g1")).unionByName(
        counts.withColumn("g", F.lit("g2")).withColumn(
            "b_cnt", F.col("c_cnt")  # g2: baseline == current → D = 0
        )
    )
    rows = {
        r["g"]: r["ks_d"]
        for r in drift_paired(g_counts, group_cols=["g"]).collect()
    }
    assert rows["g1"] == pytest.approx(want, rel=1e-12)
    assert rows["g2"] == pytest.approx(0.0, abs=1e-15)


def test_drift_paired_ks_absorbs_duplicate_buckets(spark):
    """A counts frame where one bucket is split across several rows (two
    histograms stacked WITHOUT re-grouping) must score KS exactly like the
    pre-aggregated frame: the RANGE-frame CDF includes every row of a tied
    bucket at once, so there is no shuffle-order-dependent mid-bucket CDF
    point. A ROWS frame breaks this — that's the regression being pinned."""
    rng = np.random.default_rng(13)
    a = rng.normal(35, 6, 2000)
    b = rng.normal(60, 8, 2000)
    lo, hi, nb = 0.0, 100.0, 20
    cur, base = _hist(spark, a, lo, hi, nb), _hist(spark, b, lo, hi, nb)
    want = drift_from_hist_rows(cur.collect(), base.collect())[0]["ks_d"]

    stacked = cur.selectExpr(
        "column", "bucket", "count AS c_cnt", "CAST(0 AS LONG) AS b_cnt"
    ).unionByName(
        base.selectExpr(
            "column", "bucket", "CAST(0 AS LONG) AS c_cnt", "count AS b_cnt"
        )
    )
    # no groupBy: shared buckets appear on two rows
    got = drift_paired(stacked).collect()[0]["ks_d"]
    assert got == pytest.approx(want, rel=1e-12)

    grouped = {
        r["g"]: r["ks_d"]
        for r in drift_paired(
            stacked.withColumn("g", F.lit("g1")).unionByName(
                stacked.withColumn("g", F.lit("g2"))
            ),
            group_cols=["g"],
        ).collect()
    }
    assert grouped["g1"] == pytest.approx(want, rel=1e-12)
    assert grouped["g2"] == pytest.approx(want, rel=1e-12)


def test_drift_paired_and_hist_rows_share_edge_rules(spark):
    """The Spark core and its driver-side twin give the same scores and
    verdicts on the edges: an empty population on either side scores NULL
    and fails both verdicts; a KS exactly at its threshold passes (the rule
    is <=); ordinary columns agree to float precision."""
    cur = [
        ("empty_cur", 1, 0),  # a zero-count row: present, but an empty side
        ("empty_base", 1, 5),  # no baseline rows at all
        ("at_ks", 1, 1), ("at_ks", 2, 4),  # CDF at bucket 1: 1/5 vs 0/5
        ("shift", 1, 10), ("shift", 2, 30), ("shift", 3, 60),
    ]
    base = [
        ("empty_cur", 1, 7), ("empty_cur", 2, 3),
        ("at_ks", 2, 5),
        ("shift", 1, 30), ("shift", 2, 40), ("shift", 3, 30),
    ]
    ddl = "column string, bucket int, count long"
    as_rows = [
        [{"column": c, "bucket": b, "count": n} for c, b, n in rows] for rows in (cur, base)
    ]
    want = {d["column"]: d for d in drift_from_hist_rows(*as_rows)}
    got = {
        r["column"]: r.asDict()
        for r in drift_paired(
            pair_histograms(
                spark.createDataFrame(cur, ddl), spark.createDataFrame(base, ddl), ["column"]
            )
        ).collect()
    }
    assert set(got) == set(want) == {"empty_cur", "empty_base", "at_ks", "shift"}
    for c in ("empty_cur", "empty_base"):
        for d in (got[c], want[c]):
            assert d["psi"] is None and d["ks_d"] is None, c
            assert d["psi_passed"] is False and d["ks_passed"] is False, c
    for d in (got["at_ks"], want["at_ks"]):
        assert d["ks_d"] == KS_THRESHOLD and d["ks_passed"] is True
        assert d["psi_passed"] is False  # bucket 1 empty in the baseline: PSI ≈ 2.5
    for k in ("psi", "ks_d"):
        assert got["shift"][k] == pytest.approx(want["shift"][k], rel=1e-12)
        assert got["at_ks"][k] == pytest.approx(want["at_ks"][k], rel=1e-12)
    for k in ("psi_passed", "ks_passed"):
        assert got["shift"][k] == want["shift"][k]


def _drift_scores_vs_oracle(spark, tmp_path, pdf):
    """drift_scores over ``pdf`` as the events table, checked row for row
    against DRIFT_SCORES_SQL on DuckDB (a NULL value must be NULL on both
    sides); returns the engine's {metric: (value, n)}."""
    import duckdb

    from data_profiler_spark.operators.corpus_engine import (
        DRIFT_SCORES_SQL,
        drift_scores,
    )

    # Spark can't read TIMESTAMP(NANOS) parquet — write microsecond precision
    pdf.assign(ts=pdf["ts"].astype("datetime64[us]")).to_parquet(
        tmp_path / "events.parquet", index=False
    )
    got = {
        r["metric"]: (r["value"], r["n"])
        for r in drift_scores(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = {m: (v, k) for m, v, k in con.sql(DRIFT_SCORES_SQL).fetchall()}
    assert set(got) == set(want)
    for m in want:
        if want[m][0] is None:
            assert got[m][0] is None, m
        else:
            assert got[m][0] == pytest.approx(want[m][0], abs=1e-9), m
        assert got[m][1] == want[m][1], m
    return got


def test_drift_scores_null_ts_matches_oracle(spark, tmp_path):
    """NULL-ts events must count toward the GLOBAL psi/ksb rows (they are
    part of psi_drift's population — it never looked at ts) while the
    per-day rows exclude them. Pins the Spark entry against its DuckDB
    oracle on data the read-only testdata doesn't have: before this test,
    the oracle's counts CTE filtered ts IS NOT NULL and would have
    diverged from the engine on the first NULL-ts event."""
    rng = np.random.default_rng(17)
    n = 240
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime("2024-03-01")
            + pd.to_timedelta(rng.integers(0, 48, n), unit="h"),
            "user_id": rng.integers(0, 40, n).astype(np.int64),
            "event_type": rng.choice(["purchase", "view", "click"], n),
            "value": rng.normal(90, 30, n),
            "props": "{}",
        }
    )
    # NULL-ts rows skewed far from the rest so the global ksb/psi values
    # visibly depend on their inclusion; one NULL value (excluded everywhere)
    pdf.loc[:8, "ts"] = pd.NaT
    pdf.loc[:8, "value"] = 195.0
    pdf.loc[:4, "event_type"] = "purchase"
    pdf.loc[5:8, "event_type"] = "view"
    pdf.loc[9, "value"] = np.nan
    got = _drift_scores_vs_oracle(spark, tmp_path, pdf)
    # the per-day keys never include a NULL day; both days are present
    days = {m.split(":")[-1] for m in got if m.startswith("psi:value:")}
    assert days == {"2024-03-01", "2024-03-02"}


def test_drift_scores_purchase_free_day_matches_oracle(spark, tmp_path):
    """A day with no purchase events has an empty current population: its
    per-day psi and ksb rows are NULL in Spark exactly as in the DuckDB
    oracle (x / 0 is NULL there; drift_paired uses try_divide), and the
    rest of the report still computes — no DIVIDE_BY_ZERO failing the job
    under ANSI mode."""
    rng = np.random.default_rng(23)
    n = 240
    day = np.repeat([0, 1], n // 2)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime("2024-03-01")
            + pd.to_timedelta(day * 24 + rng.integers(0, 24, n), unit="h"),
            "user_id": rng.integers(0, 40, n).astype(np.int64),
            # day 2 holds only views and clicks
            "event_type": np.where(
                day == 0,
                rng.choice(["purchase", "view", "click"], n),
                rng.choice(["view", "click"], n),
            ),
            "value": rng.normal(90, 30, n),
            "props": "{}",
        }
    )
    got = _drift_scores_vs_oracle(spark, tmp_path, pdf)
    nulls = {m for m, (v, _) in got.items() if v is None}
    assert nulls == {"psi:value:2024-03-02", "ksb:value:2024-03-02"}


def test_pair_histograms_drift_paired_plan_has_no_join(spark):
    """The drift core's plan: pairing is a union + one groupBy (no join),
    and scoring is ONE Window operator after one exchange whose
    partitioning the final aggregation reuses — two exchanges in all."""
    ddl = "column string, w string, bucket int, count long"
    cur = spark.createDataFrame([("v", "a", 1, 3), ("v", "a", 2, 4), ("v", "b", 1, 2)], ddl)
    base = spark.createDataFrame([("v", "a", 1, 5), ("v", "b", 2, 4)], ddl)
    df = drift_paired(pair_histograms(cur, base, ["column", "w"]), ["w"])
    p = df._jdf.queryExecution().executedPlan()
    plan = p.initialPlan() if p.nodeName() == "AdaptiveSparkPlan" else p
    names = []

    def walk(node):
        names.append(node.nodeName())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(plan)
    assert not [n for n in names if "Join" in n], names
    assert names.count("Window") == 1, names
    assert sum("Exchange" in n for n in names) == 2, names

