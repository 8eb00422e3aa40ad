"""Profiling parity vs pandas oracles — the Data Describer's math
(/root/reference/data_profiler/data_profiler.py:503-562) re-checked against
the Spark implementation on small frames (SURVEY.md §5.2 item 2)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_profiler_spark.profiling import (
    column_profile,
    fences_from_profile,
    histograms_multi,
    outlier_counts,
    top_freq,
)


@pytest.fixture(scope="module")
def pdf():
    rng = np.random.default_rng(123)
    n = 2000
    x = rng.lognormal(3.0, 1.0, n)
    x[::50] = np.nan
    y = rng.integers(-5, 100, n).astype(float)
    g = rng.choice(list("abc"), n)
    return pd.DataFrame({"x": x, "y": y, "g": g})


@pytest.fixture(scope="module")
def sdf(spark, pdf):
    return spark.createDataFrame(pdf)


def _metrics(df, col):
    rows = df.filter(F.col("column") == col).collect()
    return {r["metric"]: r["value"] for r in rows}


def test_basic_stats_match_pandas(sdf, pdf):
    m = _metrics(column_profile(sdf, ["x", "y"]), "x")
    s = pdf["x"]
    assert m["count"] == s.notna().sum()
    assert m["null_count"] == s.isna().sum()
    assert m["null_rate"] == pytest.approx(s.isna().mean())
    assert m["min"] == pytest.approx(s.min())
    assert m["max"] == pytest.approx(s.max())
    assert m["mean"] == pytest.approx(s.mean())
    assert m["stddev"] == pytest.approx(s.std(ddof=1), rel=1e-9)
    # GK sketch at accuracy 10000 on 2000 rows is exact on rank; pandas
    # interpolates between order stats → compare with rank tolerance.
    for q, name in [(0.25, "q25"), (0.5, "q50"), (0.75, "q75")]:
        lo, hi = s.dropna().quantile([max(q - 0.01, 0), min(q + 0.01, 1)])
        assert lo <= m[name] <= hi


def test_string_column_profile(sdf, pdf):
    m = _metrics(column_profile(sdf, ["g"]), "g")
    assert m["count"] == len(pdf)
    assert m["null_count"] == 0
    assert 2 <= m["approx_distinct"] <= 4  # HLL on 3 values is exact-ish


def test_fences_and_outliers_match_reference_formula(sdf, pdf):
    prof = column_profile(sdf, ["y"]).collect()
    fences = fences_from_profile(prof)
    q25, q75 = np.percentile(pdf["y"], [25, 75])
    iqr = q75 - q25
    # reference: data_profiler.py:505-508
    assert fences["y"]["lower_fence"] == pytest.approx(q25 - 1.5 * iqr, abs=1.0)
    assert fences["y"]["upper_fence"] == pytest.approx(q75 + 1.5 * iqr, abs=1.0)
    oc = {r["metric"]: r["value"] for r in outlier_counts(sdf, {"y": fences["y"]}).collect()}
    lf, uf, ef = (
        fences["y"]["lower_fence"],
        fences["y"]["upper_fence"],
        fences["y"]["extreme_upper_fence"],
    )
    assert oc["negative_count"] == (pdf["y"] < 0).sum()
    assert oc["zero_count"] == (pdf["y"] == 0).sum()
    assert oc["below_lower_fence"] == (pdf["y"] < lf).sum()
    assert oc["above_upper_fence"] == (pdf["y"] > uf).sum()
    assert oc["above_extreme_fence"] == (pdf["y"] > ef).sum()


def test_histogram_matches_numpy(sdf, pdf):
    lo, hi, nb = 0.0, 100.0, 10
    rows = histograms_multi(sdf, {"y": (lo, hi, nb)}).collect()
    got = {r["bucket"]: r["count"] for r in rows}
    y = pdf["y"].to_numpy()
    width = (hi - lo) / nb
    for b in range(1, nb + 1):
        lo_b, hi_b = lo + (b - 1) * width, lo + b * width
        exp = ((y >= lo_b) & (y < hi_b)).sum() if b < nb else ((y >= lo_b) & (y < hi_b)).sum()
        assert got.get(b, 0) == exp, f"bucket {b}"
    # underflow / overflow buckets
    assert got.get(0, 0) == (y < lo).sum()
    assert got.get(nb + 1, 0) == (y >= hi).sum()


def test_top_freq(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"v": ["a"] * 5 + ["b"] * 3 + ["c"] * 5 + [None]})
    )
    r = top_freq(df, "v", k=1).collect()[0]
    assert r["top"] == "a" and r["freq"] == 5  # tie broken by value asc


def test_grouped_profile(sdf, pdf):
    prof = column_profile(sdf, ["y"], group_cols=["g"])
    got = {
        (r["g"], r["metric"]): r["value"]
        for r in prof.filter("metric in ('count','mean')").collect()
    }
    for g, grp in pdf.groupby("g"):
        assert got[(g, "count")] == len(grp)
        assert got[(g, "mean")] == pytest.approx(grp["y"].mean())


def test_histograms_multi_matches_per_column(sdf, pdf):
    """One-scan multi-column histograms == a per-column numpy width_bucket
    reference (same edges), including under/overflow buckets, lo/hi edge
    values and each bucket's interval."""
    specs = {"x": (0.0, 200.0, 8), "y": (-5.0, 100.0, 10)}
    multi = {
        (r["column"], r["bucket"]): (r["count"], round(r["lo"], 9), round(r["hi"], 9))
        for r in histograms_multi(sdf, specs).collect()
    }
    single = {}
    for c, (lo, hi, nb) in specs.items():
        v = pdf[c].dropna().to_numpy()
        b = np.where(v < lo, 0, np.where(v >= hi, nb + 1, np.floor(nb * (v - lo) / (hi - lo)) + 1))
        w = (hi - lo) / nb
        for k, n in zip(*np.unique(b.astype(int), return_counts=True)):
            single[(c, int(k))] = (int(n), round(lo + (k - 1) * w, 9), round(lo + k * w, 9))
    assert multi == single


def test_runner_profile_agg_keeps_one_gk_sketch_per_numeric_column(spark, tmp_io, monkeypatch):
    """The three quartiles of a numeric column are element reads of ONE
    percentile_approx, so the executed plan of the runner's profile agg
    holds exactly one GK aggregate per numeric column (in each of its
    partial and final aggregation nodes), not one per quartile."""
    import re

    from data_profiler_spark import fixtures
    from data_profiler_spark.plans.runner import ValidationRun

    clips = fixtures.generate_clips(spark, 64, seed=5)
    frame_cls = type(clips)
    real_collect = frame_cls.collect
    plans: list[str] = []

    def collect(self):
        rows = real_collect(self)
        # maxFields unbounded: the default truncates the 90-function list
        plans.append(self._jdf.queryExecution().executedPlan().treeString(False, False, 2**31 - 1, False, False))
        return rows

    monkeypatch.setattr(frame_cls, "collect", collect)
    res = ValidationRun(spark, tmp_io, n_partitions=4).run(clips)
    monkeypatch.undo()
    try:
        numeric = {r["column"] for r in res.profile.collect() if r["metric"] == "q50"}
    finally:
        res.violations.unpersist()
    assert numeric == {"sr_hz", "dur_ms", "decoded_ms", "rms", "peak", "clip_ratio", "zero_cross_rate"}
    agg_lines = [
        line for plan in plans for line in plan.splitlines() if "percentile_approx(" in line
    ]
    assert agg_lines, "no collect of the run planned a percentile_approx"
    for line in agg_lines:
        per_col = Counter(re.findall(r"percentile_approx\((?:cast\()?(\w+)#", line))
        assert per_col == {c: 1 for c in numeric}, line
