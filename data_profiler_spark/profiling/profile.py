"""Per-column statistics engine — the Data Describer, distributed.

Reference semantics: ``DataProfiler.describe_data_frame``
(/root/reference/data_profiler/data_profiler.py:462-646) computes
``df.describe(include='all')`` (count/unique/top/freq/mean/std/min/
quartiles/max, :503), robust fences (:505-508), and conditional counts
(missing :510, negative/zero :541-545, outliers vs fences :556-562) plus
histograms (:582-588) — eagerly, in pandas, one column at a time.

Here the same metrics come out of **two fused aggregation passes** over the
table, regardless of column count:

- pass 1 (:func:`column_profile`): one ``agg`` computing count / null_count /
  distinct (HLL++ ``approx_count_distinct``) / min / max / mean / stddev /
  approx quartiles for every column at once. Each numeric column keeps ONE
  Greenwald-Khanna sketch (``percentile_approx`` over [.25, .5, .75]) that
  answers all three quartiles. Map-side partial aggregation means the
  shuffle carries sketches, not rows.
- pass 2 (:func:`outlier_counts` + :func:`histograms_multi`):
  fence-dependent conditional counts, and histograms of numeric
  (width_bucket) and categorical (stable-hash bucket) columns in one
  explode + groupBy.

Both support an optional grouping column, which is how per-partition
profiles are computed (one shuffle keyed by partition — no driver loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

QUANTILE_ACCURACY = 10_000  # GK sketch accuracy: err <= 1/accuracy of rank


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_TYPES)


def _profile_exprs(df: DataFrame, columns: list[str]) -> tuple[list[Column], list[tuple[str, str, bool]]]:
    """Aggregation expressions + (column, metric, is_numeric) manifest."""
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    exprs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    manifest: list[tuple[str, str, bool]] = []

    for c in columns:
        num = _is_numeric(dtypes[c])
        col = F.col(c)
        base = [
            ("count", F.count(col)),
            ("null_count", F.count(F.when(col.isNull(), 1))),
            ("approx_distinct", F.approx_count_distinct(col)),
        ]
        if num:
            base += [
                ("min", F.min(col).cast("double")),
                ("max", F.max(col).cast("double")),
                ("mean", F.avg(col)),
                ("stddev", F.stddev_samp(col)),
            ]
            # one GK sketch answers all three quartiles: the three element
            # reads share one aggregate, so Catalyst keeps one buffer
            qs = F.percentile_approx(col, [0.25, 0.5, 0.75], QUANTILE_ACCURACY)
            base += [(m, qs[i]) for i, m in enumerate(("q25", "q50", "q75"))]
        for m, e in base:
            exprs.append(e.cast("double").alias(f"{c}__{m}"))
            manifest.append((c, m, num))
    return exprs, manifest


def column_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Long-format per-column profile: (group_cols..., column, metric, value).

    Adds a derived ``null_rate`` metric. One aggregation job total.
    """
    if columns is None:
        columns = [f.name for f in df.schema.fields if not isinstance(f.dataType, T.BinaryType)]
    group_cols = group_cols or []
    exprs, manifest = _profile_exprs(df, columns)
    wide = df.groupBy(*group_cols).agg(*exprs) if group_cols else df.groupBy().agg(*exprs)

    # Unpivot via stack(): constant-folded, single projection.
    pairs: list[str] = []
    for c, m, _ in manifest:
        pairs += [f"'{c}'", f"'{m}'", f"`{c}__{m}`"]
        if m == "null_count":
            pairs += [f"'{c}'", "'null_rate'", f"(`{c}__null_count` / nullif(__rows, 0))"]
    n_tuples = len(pairs) // 3
    stack_expr = f"stack({n_tuples}, {', '.join(pairs)}) as (column, metric, value)"
    keep = [F.col(g) for g in group_cols]
    return wide.select(*keep, F.expr(stack_expr))


def column_profile_collected(
    df: DataFrame,
    columns: list[str] | None = None,
    group_cols: list[str] | None = None,
    extra_aggs: dict[str, Column] | None = None,
) -> tuple[list[dict], list[dict]]:
    """Same metrics as :func:`column_profile`, but the unpivot happens on the
    driver: one wide aggregation job (rows = |groups|, cols = |metrics|),
    collected and melted in Python.

    Why: the long format is |groups|·|columns|·|metrics| rows of *metadata* —
    tiny relative to the data — but expressing the melt as a 100+-branch
    stack() costs seconds of Catalyst analysis per query, which dominates
    small/medium runs. The wide agg result is bounded (partitions × metrics),
    so collecting it is safe by construction; callers that need a DataFrame
    re-create it from these rows for free.

    ``extra_aggs`` (name → aggregate Column) ride in the SAME aggregation,
    so a caller needing more per-group values (sketches, say) gets them
    without another pass over ``df``. Returns ``(profile_rows, group_rows)``:
    the melted profile, and one dict per group holding the group keys, its
    row count (``rows``) and each extra aggregate by name.
    """
    if columns is None:
        columns = [f.name for f in df.schema.fields if not isinstance(f.dataType, T.BinaryType)]
    group_cols = group_cols or []
    extra_aggs = extra_aggs or {}
    exprs, manifest = _profile_exprs(df, columns)
    exprs += [e.alias(name) for name, e in extra_aggs.items()]
    wide = df.groupBy(*group_cols).agg(*exprs) if group_cols else df.groupBy().agg(*exprs)
    out: list[dict] = []
    groups: list[dict] = []
    for row in wide.collect():
        d = row.asDict()
        keys = {g: d[g] for g in group_cols}
        rows_n = d["__rows"]
        groups.append({**keys, "rows": rows_n, **{name: d[name] for name in extra_aggs}})
        for c, m, _ in manifest:
            v = d[f"{c}__{m}"]
            out.append({**keys, "column": c, "metric": m, "value": v})
            if m == "null_count":
                rate = (v / rows_n) if rows_n and v is not None else None
                out.append({**keys, "column": c, "metric": "null_rate", "value": rate})
    return out, groups


def top_freq(df: DataFrame, column: str, k: int = 1) -> DataFrame:
    """Most frequent value(s) of a column — describe()'s top/freq.

    groupBy(col).count() is map-side combinable; the global top-k is a
    single-partition sort over the (already tiny) distinct values.
    """
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.col(column))
        .limit(k)
        .select(
            F.lit(column).alias("column"),
            F.col(column).cast("string").alias("top"),
            F.col("freq"),
        )
    )


def fences_from_profile(profile_rows: list) -> dict[str, dict[str, float]]:
    """Robust fences per column from collected pass-1 rows.

    IQR = q75 - q25; lower = q25 - 1.5·IQR; upper = q75 + 1.5·IQR;
    extreme_upper = q75 + 3·IQR — exactly data_profiler.py:505-508.
    The input is the tiny metrics result (driver-side by design).
    """
    byc: dict[str, dict[str, float]] = {}
    for r in profile_rows:
        byc.setdefault(r["column"], {})[r["metric"]] = r["value"]
    out: dict[str, dict[str, float]] = {}
    for c, m in byc.items():
        if m.get("q25") is None or m.get("q75") is None:
            continue
        iqr = m["q75"] - m["q25"]
        out[c] = {
            "iqr": iqr,
            "lower_fence": m["q25"] - 1.5 * iqr,
            "upper_fence": m["q75"] + 1.5 * iqr,
            "extreme_upper_fence": m["q75"] + 3.0 * iqr,
            "min": m.get("min"),
            "max": m.get("max"),
        }
    return out


def outlier_counts(
    df: DataFrame,
    fences: dict[str, dict[str, float]],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Pass 2: negative / zero / below-lower / above-upper / extreme counts.

    One fused agg (reference does these per column in a Python loop,
    data_profiler.py:523-562).
    """
    group_cols = group_cols or []
    exprs: list[Column] = []
    names: list[tuple[str, str]] = []
    for c, f in fences.items():
        col = F.col(c)
        conds = {
            "negative_count": col < 0,
            "zero_count": col == 0,
            "below_lower_fence": col < f["lower_fence"],
            "above_upper_fence": col > f["upper_fence"],
            "above_extreme_fence": col > f["extreme_upper_fence"],
        }
        for m, cond in conds.items():
            exprs.append(F.count(F.when(cond, 1)).cast("double").alias(f"{c}__{m}"))
            names.append((c, m))
    wide = df.groupBy(*group_cols).agg(*exprs) if group_cols else df.groupBy().agg(*exprs)
    pairs: list[str] = []
    for c, m in names:
        pairs += [f"'{c}'", f"'{m}'", f"`{c}__{m}`"]
    stack_expr = f"stack({len(names)}, {', '.join(pairs)}) as (column, metric, value)"
    keep = [F.col(g) for g in group_cols]
    return wide.select(*keep, F.expr(stack_expr))


def histograms_multi(
    df: DataFrame,
    specs: dict[str, tuple[float | None, float | None, int]],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Histograms for SEVERAL columns in ONE scan.

    ``specs``: column → (lo, hi, nbins), each column binned with its own
    edges but all counted in a single pass — each row explodes into one
    (column, bucket) entry per spec column, then one groupBy. N per-column
    histogram passes would scan the table N times; at 10^12 rows the scan
    IS the cost, so the drift path (dur_ms, decoded_ms, rms, codec) uses
    this. Output is HISTOGRAM_SCHEMA.

    - ``nbins > 0``: equi-width over [lo, hi). Bucket 0 = underflow,
      nbins+1 = overflow (width_bucket semantics), so a drifted
      distribution cannot silently fall off the histogram — the
      Describer's px.histogram (data_profiler.py:582-588) and the PSI
      input. NULLs are not counted.
    - ``nbins == 0`` (lo/hi ignored): CATEGORICAL. The bucket is a stable
      hash of the value, pmod(xxhash64(v), 2^31−2) + 1, NULL → bucket 0,
      and lo/hi are NULL. Current and baseline histograms share bucket ids
      per category, so PSI scores category-mix shift (e.g. codec mix).
      A 31-bit collision between two categories merges their buckets,
      masking mix drift between exactly those two (birthday bound ~1e-6 at
      ~65 categories). Binned KS over these buckets uses an arbitrary but
      stable order: PSI is the meaningful score for a categorical.

    Buckets are materialized behind a projection boundary before the
    explode — Catalyst re-inlines referenced subtrees per use site, so
    computing a bucket inside the struct would evaluate it once per
    struct field.
    """
    group_cols = group_cols or []
    if not specs:  # nothing to bin (explode needs at least one entry)
        # schema must match the non-empty path exactly: group columns in
        # group_cols ORDER (not df order), and an unknown name fails here
        # just as it would fail the groupBy
        field_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        missing = [g for g in group_cols if g not in field_types]
        if missing:
            raise ValueError(f"group_cols not in dataframe: {missing}")
        gc_ddl = "".join(f"{g} {field_types[g]}, " for g in group_cols)
        return df.sparkSession.createDataFrame(
            [], gc_ddl + "column string, bucket int, lo double, hi double, count long"
        )
    buckets: dict[str, Column] = {}
    edges: dict[str, tuple[float, float]] = {}  # numeric column → (lo, width)
    for c, (lo, hi, nb) in specs.items():
        if nb == 0:
            buckets[c] = F.when(F.col(c).isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(F.col(c)), F.lit(2_147_483_646)) + 1
            )
            continue
        lo, hi, nb = float(lo), float(hi), int(nb)
        if hi <= lo:
            hi = lo + 1.0
        buckets[c] = F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(nb))
        edges[c] = (lo, (hi - lo) / nb)
    proj = df.select(*group_cols, *[b.cast("int").alias(f"__b_{c}") for c, b in buckets.items()])
    entries = [
        F.when(
            F.col(f"__b_{c}").isNotNull(),
            F.struct(F.lit(c).alias("column"), F.col(f"__b_{c}").alias("bucket")),
        )
        for c in buckets
    ]
    counts = (
        proj.select(*group_cols, F.explode(F.array_compact(F.array(*entries))).alias("__e"))
        .groupBy(*group_cols, F.col("__e.column").alias("column"), F.col("__e.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    lo_expr = hi_expr = F.lit(None).cast("double")
    for c, (lo, w) in edges.items():
        cond = F.col("column") == c
        lo_expr = F.when(cond, F.lit(lo) + (F.col("bucket") - 1) * F.lit(w)).otherwise(lo_expr)
        hi_expr = F.when(cond, F.lit(lo) + F.col("bucket") * F.lit(w)).otherwise(hi_expr)
    return counts.select(
        *[F.col(g) for g in group_cols],
        "column",
        "bucket",
        lo_expr.alias("lo"),
        hi_expr.alias("hi"),
        "count",
    )
