"""Distribution-drift tests vs a baseline profile snapshot: PSI and KS.

The reference's closest analog is the Data Describer's histogram + summary
stats (data_profiler.py:582-588) — it renders them for a human to eyeball;
here the comparison is a first-class operator against a persisted baseline
histogram (HISTOGRAM_SCHEMA), producing drift scores and pass/fail verdicts.

One core, two twins:
- :func:`pair_histograms` puts two histograms side by side as
  (keys…, bucket, c_cnt, b_cnt) rows — a side-tagged union and one groupBy,
  no join. A frame that already holds both populations (e.g. one
  conditional aggregation over an events table) is that shape directly.
- :func:`drift_paired` scores such a frame in Spark: one window
  partitioning and one aggregation give PSI, binned KS and both verdicts.
- :func:`drift_from_hist_rows` is the same math in plain Python over
  collected histogram rows (≤ nbins+2 rows per column at any data scale) —
  what ``ValidationRun`` uses once its histogram aggregation has run, and
  the reference the tests hold :func:`drift_paired` to.

Both apply the rules defined here and nowhere else:
- ε-smoothed PSI = Σ_b (p_b − q_b) · ln(p_b / q_b); binned KS
  D = max_b |CDF_cur(b) − CDF_base(b)| over bucket order. Binned KS is
  within the largest bucket's probability mass of the exact statistic.
- Empty population: a side whose total count is 0 has no distribution, so
  its ``psi`` and ``ks_d`` are NULL/None and both verdicts fail. The DuckDB
  oracle SQL (x / 0 is NULL there) gives the same NULLs.
- Pass rule: a score passes when it is ``<=`` its threshold
  (:data:`PSI_THRESHOLD`, :data:`KS_THRESHOLD`).

:func:`ks_exact_by_group` is the exact two-sample KS for *bounded* groups
(e.g. per-codec within a partition) via applyInPandas — Arrow-batched,
vectorized numpy inside, never applied to an unbounded global column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EPS = 1e-6  # smoothing for empty buckets (standard PSI practice)
# Rule of thumb for PSI: < 0.1 stable, 0.1–0.25 moderate, > 0.25 drifted.
PSI_THRESHOLD = 0.25
KS_THRESHOLD = 0.2


def _passed(score, threshold: float):
    """The pass rule, for a Spark column or a Python score: at or below the
    threshold passes; a missing score (empty population) fails."""
    if isinstance(score, Column):
        return F.coalesce(score <= threshold, F.lit(False))
    return score is not None and score <= threshold


def pair_histograms(cur: DataFrame, base: DataFrame, keys: list[str]) -> DataFrame:
    """(keys…, bucket, c_cnt, b_cnt) from two HISTOGRAM-shaped frames that
    both carry ``keys`` (normally ``["column", *group_cols]``), ``bucket``
    and ``count``. A bucket present on one side only gets a 0 count on the
    other. Both sides must be binned with the same edges."""
    zero = F.lit(0).cast("long")
    cnt = F.col("count").cast("long")
    return (
        cur.select(*keys, "bucket", cnt.alias("c_cnt"), zero.alias("b_cnt"))
        .unionByName(base.select(*keys, "bucket", zero.alias("c_cnt"), cnt.alias("b_cnt")))
        .groupBy(*keys, "bucket")
        .agg(F.sum("c_cnt").alias("c_cnt"), F.sum("b_cnt").alias("b_cnt"))
    )


def drift_paired(counts: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """(column, *group_cols, psi, ks_d, psi_passed, ks_passed) per
    (column, *group_cols) of a paired counts frame.

    ``counts`` carries (column, *group_cols, bucket, c_cnt, b_cnt) at that
    grain — :func:`pair_histograms` output, or one conditional aggregation
    over a table that holds both populations. A bucket split across several
    rows gets the ε smoothing once per row and inflates PSI (the RANGE-frame
    CDF makes KS immune), so re-aggregate a frame that isn't grouped.

    Totals and CDFs are two frames of ONE window spec (partition by the
    keys, order by bucket), so Spark evaluates them in one Window operator
    after one exchange, and the final groupBy reuses that partitioning. The
    frame is ≤ nbins+2 rows per key, so a key's single-task window is
    metadata at any data scale."""
    keys = ["column", *(group_cols or [])]
    w = Window.partitionBy(*keys).orderBy("bucket")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    upto = w.rangeBetween(Window.unboundedPreceding, 0)
    c_tot, b_tot = F.sum("c_cnt").over(whole), F.sum("b_cnt").over(whole)
    # try_divide: a 0 total yields NULL terms, so sum/max give NULL scores
    p = F.try_divide(F.col("c_cnt"), c_tot) + EPS
    q = F.try_divide(F.col("b_cnt"), b_tot) + EPS
    d = F.abs(
        F.try_divide(F.sum("c_cnt").over(upto), c_tot)
        - F.try_divide(F.sum("b_cnt").over(upto), b_tot)
    )
    scored = (
        counts.select(*keys, ((p - q) * F.log(p / q)).alias("__psi"), d.alias("__d"))
        .groupBy(*keys)
        .agg(F.sum("__psi").alias("psi"), F.max("__d").alias("ks_d"))
    )
    return scored.select(
        "*",
        _passed(F.col("psi"), PSI_THRESHOLD).alias("psi_passed"),
        _passed(F.col("ks_d"), KS_THRESHOLD).alias("ks_passed"),
    )


def drift_from_hist_rows(cur_rows: list, base_rows: list) -> list[dict]:
    """:func:`drift_paired` over two collected histogram row sets
    (``column``, ``bucket``, ``count``): one dict per column with ``psi``,
    ``ks_d``, ``psi_passed`` and ``ks_passed``. A column seen on one side
    only has an empty population on the other."""

    def acc(rows):
        d: dict[str, dict[int, int]] = {}
        for r in rows:
            col = d.setdefault(r["column"], {})
            col[r["bucket"]] = col.get(r["bucket"], 0) + r["count"]
        return d

    cur, base = acc(cur_rows), acc(base_rows)
    out = []
    for col in sorted(set(cur) | set(base)):
        c, b = cur.get(col, {}), base.get(col, {})
        c_tot, b_tot = sum(c.values()), sum(b.values())
        psi_v = ks = None
        if c_tot and b_tot:
            psi_v = ks = 0.0
            cum_c = cum_b = 0
            for k in sorted(set(c) | set(b)):
                p = c.get(k, 0) / c_tot + EPS
                q = b.get(k, 0) / b_tot + EPS
                psi_v += (p - q) * float(np.log(p / q))
                cum_c += c.get(k, 0)
                cum_b += b.get(k, 0)
                ks = max(ks, abs(cum_c / c_tot - cum_b / b_tot))
        out.append(
            {
                "column": col,
                "psi": psi_v,
                "ks_d": ks,
                "psi_passed": _passed(psi_v, PSI_THRESHOLD),
                "ks_passed": _passed(ks, KS_THRESHOLD),
            }
        )
    return out


def ks_exact_by_group(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    baseline_sample: pd.DataFrame,
) -> DataFrame:
    """Exact two-sample KS D per group vs a driver-small baseline sample.

    ``baseline_sample`` is a pandas frame with column ``value_col`` (e.g. the
    persisted baseline's reservoir sample). Shipped once per task via the
    closure (small by contract). Groups are bounded (codec × partition), so
    applyInPandas holds one group in memory — the supported Spark contract.
    """
    base = np.sort(baseline_sample[value_col].dropna().to_numpy(dtype=np.float64))
    out_schema = ", ".join(f"{g} string" for g in group_cols) + ", ks_d double, n long"

    def ks(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.sort(pdf[value_col].dropna().to_numpy(dtype=np.float64))
        keys = {g: [str(pdf[g].iloc[0])] for g in group_cols}
        if len(x) == 0 or len(base) == 0:
            return pd.DataFrame({**keys, "ks_d": [None], "n": [len(x)]})
        # D = sup_t |F1(t) − F2(t)| evaluated at all sample points.
        allv = np.concatenate([x, base])
        cdf_x = np.searchsorted(x, allv, side="right") / len(x)
        cdf_b = np.searchsorted(base, allv, side="right") / len(base)
        d = float(np.max(np.abs(cdf_x - cdf_b)))
        return pd.DataFrame({**keys, "ks_d": [d], "n": [len(x)]})

    return (
        df.select(*group_cols, value_col)
        .groupBy(*group_cols)
        .applyInPandas(ks, schema=out_schema)
    )
