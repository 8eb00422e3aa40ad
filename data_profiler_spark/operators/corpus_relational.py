"""Operator-parity corpus, relational half: one query per SURVEY.md §2
operator family over the driver's TPC-H-ish testdata, each with an ANSI-SQL
DuckDB oracle.

Cross-engine determinism rules used throughout (and mirrored in every
oracle string):
- money sums go through DECIMAL(18,4) so addition is exact and
  order-independent (double sums differ between engines in the last ulps);
- every double output is rounded (4-6 dp) on BOTH sides;
- temporal outputs are cast to string (session TZ pinned to UTC);
- any LIMIT/top-k is preceded by a total order with a unique tie-break;
- counts cast to bigint (DuckDB sums of ints widen to int128 otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_profiler_spark.functions.dates import WEEKEND_DATE_RULES, adjust_weekend_dates
from data_profiler_spark.functions.text import scrub
from data_profiler_spark.functions.topk import grouped_topk
from data_profiler_spark.functions.windows import distributed_cumsum, pin_cache
from data_profiler_spark.sources.tpch import load_table

DEC = "decimal(18,4)"


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _utc(spark)
    return load_table(spark, sf_dir, name)


# --- A1/A10-style fused aggregation (ref: transform_service.py:312-316) ----

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    # Money sums are exact decimals on both engines, but the final
    # decimal(38,8)→double cast can differ in the last ulp once the sum
    # outgrows double's ~16 exact digits (seen at sf0.1). Rounding the
    # DECIMAL to 2dp first keeps every converted value within the exact
    # range, so the cast is bit-identical across engines.
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast(DEC)), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(price * (F.lit(1).cast(DEC) - disc)), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(price * (F.lit(1).cast(DEC) - disc) * (F.lit(1).cast(DEC) + tax)), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- J10 fact-fact-dim chain + O1/O4 top-k (ref: select_from_outbound.sql) -

def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.max(F.col("o_orderdate").cast("string")).alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


TOP_REVENUE_ORDERS_SQL = """
SELECT o_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
       MAX(CAST(o_orderdate AS VARCHAR)) AS orderdate
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# --- J1/J3 broadcast dim enrichment (ref: transform_service.py:344-347) ----

def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


BRAND_REVENUE_SQL = """
SELECT p_brand,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --- J7/U1 anti-join referential core (ref: functions.py:68-78) ------------

def orphan_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    small_parts = T(spark, sf_dir, "part").filter(F.col("p_size") < 25).select("p_partkey")
    return (
        li.select("l_partkey")
        .distinct()
        .join(small_parts, li.l_partkey == small_parts.p_partkey, "left_anti")
        .select(F.col("l_partkey").alias("orphan_partkey"))
    )


ORPHAN_PARTKEYS_SQL = """
SELECT DISTINCT l_partkey AS orphan_partkey
FROM lineitem
WHERE NOT EXISTS (
  SELECT 1 FROM part WHERE p_size < 25 AND p_partkey = l_partkey
)
"""


# --- P5/J8 semi-join membership (ref: data_profiler.py:275-282) ------------

def building_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        orders.join(cust.select("c_custkey"), orders.o_custkey == cust.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


BUILDING_ORDERS_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
"""


# --- A4/W3 group-by-first header extraction (ref: data_directory.py:419-440)

def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").cast("string").alias("first_orderdate"),
        )
    )


FIRST_ORDER_SQL = """
SELECT o_custkey AS custkey, o_orderkey AS first_orderkey,
       CAST(o_orderdate AS VARCHAR) AS first_orderdate
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


# --- W1 Pareto/ABC cumulative classification (ref: transform_service.py:825-850)

def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity/ABC: classify by the cumulative share *before* the current
    row (find_velocity semantics, transform_service.py:825-836).

    Scale note: the ranking runs over ALL parts, so the running total uses
    the two-phase distributed_cumsum (range-partition + offset join) rather
    than a global Window.orderBy, which would funnel every part through one
    task at 10^9-part scale."""
    li = T(spark, sf_dir, "lineitem")
    # pin the tiny per-part aggregate: repartitionByRange executes its child
    # TWICE (once for boundary sampling, once for the real exchange), so an
    # unpinned base re-runs the full lineitem agg inside the cumsum — the
    # residual half of the r2 pareto regression (the other half was the
    # pickled offsets frame, fixed via local_frame).
    per_part = pin_cache(
        li.groupBy("l_partkey").agg(
            F.count(F.lit(1)).alias("lines"),
            F.sum(F.col("l_quantity").cast(DEC)).alias("units_dec"),
        )
    )
    cum = distributed_cumsum(
        per_part,
        [F.desc("lines"), F.asc("l_partkey")],
        ["lines"],
        include_total=True,
    )
    cum_prev = (F.col("cum_lines") - F.col("lines")) / F.col("total_lines")
    # <= boundaries exactly as find_velocity (transform_service.py:825-836)
    cls = (
        F.when(cum_prev <= 0.25, "A")
        .when(cum_prev <= 0.80, "B")
        .when(cum_prev <= 0.95, "C")
        .when(cum_prev <= 0.99, "D")
        .otherwise("E")
    )
    return cum.select(
        F.col("l_partkey").alias("partkey"),
        F.col("lines").cast("long").alias("lines"),
        F.col("units_dec").cast("double").alias("units"),
        F.round(cum_prev, 6).alias("cum_prev_share"),
        cls.alias("velocity"),
    )


PARETO_ABC_SQL = """
WITH per_part AS (
  SELECT l_partkey AS partkey, COUNT(*) AS lines,
         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS units_dec
  FROM lineitem GROUP BY l_partkey
), c AS (
  SELECT *,
    (SUM(lines) OVER (ORDER BY lines DESC, partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - lines)
      / CAST(SUM(lines) OVER () AS DOUBLE) AS cum_prev
  FROM per_part
)
SELECT partkey, CAST(lines AS BIGINT) AS lines, CAST(units_dec AS DOUBLE) AS units,
       ROUND(cum_prev, 6) AS cum_prev_share,
       CASE WHEN cum_prev <= 0.25 THEN 'A' WHEN cum_prev <= 0.80 THEN 'B'
            WHEN cum_prev <= 0.95 THEN 'C' WHEN cum_prev <= 0.99 THEN 'D'
            ELSE 'E' END AS velocity
FROM c
"""


# --- VelocityByMonth: per-month ABC re-classification (ref: transform_service.py:669-731)

def velocity_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference VelocityByMonth: rerun the ABC/velocity analysis per month
    ('%B-%Y' grain), fill SKUs inactive that month with 'X', join back the
    overall velocity and an EqualsOverall flag
    (transform_service.py:669-731; thresholds find_velocity :825-836, note
    `<=` boundaries).

    Scale: BOTH rankings go through distributed_cumsum — the per-month one
    with partition_by=["month"] (months lead the range partitioning, local
    windows are per (physical partition, month), driver offsets reset per
    month), so no month is ever funneled through one task even with a
    10^9-SKU catalog. The months×SKUs fill grid is |SKUs|×|months| rows —
    same cardinality as the output, built from a broadcast of the (tiny)
    month list."""
    li = T(spark, sf_dir, "lineitem")
    month = F.date_format(F.col("l_shipdate"), "MMMM-yyyy")
    # ONE scan of the fact table: the monthly aggregate is the only pass
    # over row data; overall lines and the month list re-aggregate `per`
    # (|SKUs|x|months| rows), not lineitem — at 10^12 rows that's the
    # difference between one and three full passes. pin_cache makes the
    # one-scan claim physical: without it each of the four consumers
    # (monthly cumsum, overall base, month list, fill grid) would plan its
    # own lineitem scan+agg.
    per = pin_cache(
        li.groupBy(month.alias("month"), F.col("l_partkey")).agg(
            F.count(F.lit(1)).alias("lines")
        )
    )

    def classify(cum_prev):
        return (
            F.when(cum_prev <= 0.25, "A")
            .when(cum_prev <= 0.80, "B")
            .when(cum_prev <= 0.95, "C")
            .when(cum_prev <= 0.99, "D")
            .otherwise("E")
        )

    mcum = distributed_cumsum(
        per,
        [F.desc("lines"), F.asc("l_partkey")],
        ["lines"],
        include_total=True,
        partition_by=["month"],
    )
    cum_prev_m = (F.col("cum_lines") - F.col("lines")) / F.col("total_lines")
    monthly = mcum.select("month", "l_partkey", classify(cum_prev_m).alias("velocity"))

    overall_base = per.groupBy("l_partkey").agg(F.sum("lines").alias("lines"))
    cum = distributed_cumsum(
        overall_base, [F.desc("lines"), F.asc("l_partkey")], ["lines"], include_total=True
    )
    cum_prev_o = (F.col("cum_lines") - F.col("lines")) / F.col("total_lines")
    overall = cum.select("l_partkey", classify(cum_prev_o).alias("velocity_overall"))

    months = per.select("month").distinct()
    grid = overall_base.select("l_partkey").crossJoin(F.broadcast(months))
    filled = (
        grid.join(monthly, ["month", "l_partkey"], "left")
        .withColumn("velocity", F.coalesce("velocity", F.lit("X")))
    )
    return filled.join(overall, "l_partkey").select(
        F.col("l_partkey").alias("partkey"),
        "month",
        "velocity",
        "velocity_overall",
        (F.col("velocity") == F.col("velocity_overall")).cast("int").alias("equals_overall"),
    )


VELOCITY_BY_MONTH_SQL = """
WITH per AS (
  SELECT strftime(l_shipdate, '%B-%Y') AS month, l_partkey, COUNT(*) AS lines
  FROM lineitem GROUP BY 1, 2
), m AS (
  SELECT month, l_partkey,
    (SUM(lines) OVER (PARTITION BY month ORDER BY lines DESC, l_partkey ASC
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - lines)
      / CAST(SUM(lines) OVER (PARTITION BY month) AS DOUBLE) AS cum_prev
  FROM per
), mv AS (
  SELECT month, l_partkey,
    CASE WHEN cum_prev <= 0.25 THEN 'A' WHEN cum_prev <= 0.80 THEN 'B'
         WHEN cum_prev <= 0.95 THEN 'C' WHEN cum_prev <= 0.99 THEN 'D'
         ELSE 'E' END AS velocity
  FROM m
), ob AS (
  SELECT l_partkey, COUNT(*) AS lines FROM lineitem GROUP BY 1
), oc AS (
  SELECT l_partkey,
    (SUM(lines) OVER (ORDER BY lines DESC, l_partkey ASC
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - lines)
      / CAST(SUM(lines) OVER () AS DOUBLE) AS cum_prev
  FROM ob
), ov AS (
  SELECT l_partkey,
    CASE WHEN cum_prev <= 0.25 THEN 'A' WHEN cum_prev <= 0.80 THEN 'B'
         WHEN cum_prev <= 0.95 THEN 'C' WHEN cum_prev <= 0.99 THEN 'D'
         ELSE 'E' END AS velocity_overall
  FROM oc
), grid AS (
  SELECT s.l_partkey, mo.month FROM (SELECT l_partkey FROM ob) s
  CROSS JOIN (SELECT DISTINCT month FROM per) mo
)
SELECT g.l_partkey AS partkey, g.month,
       COALESCE(mv.velocity, 'X') AS velocity,
       ov.velocity_overall,
       CAST(COALESCE(mv.velocity, 'X') = ov.velocity_overall AS INT) AS equals_overall
FROM grid g
LEFT JOIN mv ON mv.month = g.month AND mv.l_partkey = g.l_partkey
JOIN ov ON ov.l_partkey = g.l_partkey
"""


# --- W2 bucketed running sums / velocity ladder (ref: transform_service.py:778-790)

def velocity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("lines"))
    # per-part ranking is unbounded → two-phase cumsum, not a global window
    cum = distributed_cumsum(
        per_part,
        [F.desc("lines"), F.asc("l_partkey")],
        ["lines"],
        include_total=True,
    )
    cum_share = F.col("cum_lines") / F.col("total_lines")
    bucketed = cum.select(
        F.col("l_partkey"),
        F.col("lines"),
        (F.ceil(cum_share / 0.05) * F.lit(5)).cast("int").alias("pct_bucket"),
    )
    per_bucket = bucketed.groupBy("pct_bucket").agg(
        F.count(F.lit(1)).alias("n_parts"), F.sum("lines").alias("bucket_lines")
    )
    # ladder frame is ≤20 rows (fixed 5%-buckets) — global window is safe here
    w_lad = Window.orderBy("pct_bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        "pct_bucket",
        F.col("n_parts").cast("long").alias("n_parts"),
        F.col("bucket_lines").cast("long").alias("bucket_lines"),
        F.sum("n_parts").over(w_lad).cast("long").alias("cum_parts"),
        F.sum("bucket_lines").over(w_lad).cast("long").alias("cum_lines"),
    )


VELOCITY_LADDER_SQL = """
WITH per_part AS (
  SELECT l_partkey, COUNT(*) AS lines FROM lineitem GROUP BY l_partkey
), b AS (
  SELECT l_partkey, lines,
    CAST(CEIL((SUM(lines) OVER (ORDER BY lines DESC, l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          / CAST(SUM(lines) OVER () AS DOUBLE)) / 0.05) * 5 AS INT) AS pct_bucket
  FROM per_part
), pb AS (
  SELECT pct_bucket, COUNT(*) AS n_parts, SUM(lines) AS bucket_lines FROM b GROUP BY pct_bucket
)
SELECT pct_bucket, CAST(n_parts AS BIGINT) AS n_parts, CAST(bucket_lines AS BIGINT) AS bucket_lines,
       CAST(SUM(n_parts) OVER (ORDER BY pct_bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_parts,
       CAST(SUM(bucket_lines) OVER (ORDER BY pct_bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_lines
FROM pb
"""


# --- A12/P4 conditional counts (ref: data_profiler.py:541-562) -------------

def conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(v.isNull(), 1)).alias("n_missing"),
        F.count(F.when(v < 0, 1)).alias("n_negative"),
        F.count(F.when(v == 0, 1)).alias("n_zero"),
        F.count(F.when(v > 100, 1)).alias("n_above_100"),
    )


CONDITIONAL_COUNTS_SQL = """
SELECT event_type, COUNT(*) AS n,
       COUNT(CASE WHEN value IS NULL THEN 1 END) AS n_missing,
       COUNT(CASE WHEN value < 0 THEN 1 END) AS n_negative,
       COUNT(CASE WHEN value = 0 THEN 1 END) AS n_zero,
       COUNT(CASE WHEN value > 100 THEN 1 END) AS n_above_100
FROM events GROUP BY event_type
"""


# --- A13 histogram via shared floor arithmetic (ref: data_profiler.py:582-588)

HIST_LO, HIST_HI, HIST_N = 0.0, 110000.0, 22


def histogram_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    width = (HIST_HI - HIST_LO) / HIST_N
    v = F.col("l_extendedprice")
    bucket = (
        F.when(v < HIST_LO, F.lit(0))
        .when(v >= HIST_HI, F.lit(HIST_N + 1))
        .otherwise(F.floor((v - HIST_LO) / width) + 1)
    )
    return (
        li.filter(v.isNotNull())
        .groupBy(bucket.cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


HISTOGRAM_SQL = f"""
SELECT CAST(CASE WHEN l_extendedprice < {HIST_LO} THEN 0
            WHEN l_extendedprice >= {HIST_HI} THEN {HIST_N + 1}
            ELSE FLOOR((l_extendedprice - {HIST_LO}) / {(HIST_HI - HIST_LO) / HIST_N}) + 1 END AS INT) AS bucket,
       COUNT(*) AS n
FROM lineitem WHERE l_extendedprice IS NOT NULL
GROUP BY 1
"""


# --- A15/F11/F12 CASE-bucket then agg (ref: inventory_stratification.sql) ---

def quantity_range_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    label = (
        F.when(q <= 1, "0-1")
        .when(q <= 5, "2-5")
        .when(q <= 10, "6-10")
        .when(q <= 25, "11-25")
        .when(q <= 50, "26-50")
        .otherwise(">50")
    )
    return (
        li.groupBy(label.alias("qty_range"), F.col("l_returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("units"),
            F.max("l_quantity").alias("range_max"),
        )
    )


QTY_RANGE_SQL = """
SELECT CASE WHEN l_quantity <= 1 THEN '0-1' WHEN l_quantity <= 5 THEN '2-5'
            WHEN l_quantity <= 10 THEN '6-10' WHEN l_quantity <= 25 THEN '11-25'
            WHEN l_quantity <= 50 THEN '26-50' ELSE '>50' END AS qty_range,
       l_returnflag,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS units,
       MAX(l_quantity) AS range_max
FROM lineitem GROUP BY 1, 2
"""


# --- F6-F9 date feature extraction (ref: transform_service.py:388-394, 685) -

def order_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        F.col("o_orderkey").alias("orderkey"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.date_trunc("week", d).cast("date").cast("string").alias("week_start"),
        F.date_format(d, "MMMM-yyyy").alias("month_label"),
    )


ORDER_DATE_FEATURES_SQL = """
SELECT o_orderkey AS orderkey,
       dayname(o_orderdate) AS day_name,
       CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
       CAST(CAST(date_trunc('week', o_orderdate) AS DATE) AS VARCHAR) AS week_start,
       strftime(o_orderdate, '%B-%Y') AS month_label
FROM orders
"""


# --- F10 weekend-date adjust, ALL 4 rules (ref: transform_service.py:869-883)

def weekend_rules_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every weekend-date rule applied to every order date, rule as a
    grouping column — one entry covers the reference's full dispatch
    (NEAREST_WEEKDAY / ALL_TO_MONDAY / ALL_TO_FRIDAY / AS_IS). The 4-way
    fan-out is an explode over literal structs: one projection, no shuffle,
    no UDF (functions/dates.py)."""
    orders = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    entries = [
        F.struct(
            F.lit(rule).alias("rule"),
            adjust_weekend_dates(d, rule).cast("string").alias("adjusted_date"),
        )
        for rule in WEEKEND_DATE_RULES
    ]
    return orders.select(
        F.col("o_orderkey").alias("orderkey"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.explode(F.array(*entries)).alias("e"),
    ).select("orderkey", "dow", F.col("e.rule").alias("rule"), F.col("e.adjusted_date").alias("adjusted_date"))


# DuckDB dayofweek: 0=Sunday..6=Saturday (Spark dayofweek is 1..7, hence +1).
WEEKEND_RULES_SQL = """
WITH rules(rule) AS (VALUES ('NEAREST_WEEKDAY'), ('ALL_TO_MONDAY'), ('ALL_TO_FRIDAY'), ('AS_IS')),
o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, dayofweek(o_orderdate) AS dw FROM orders)
SELECT o_orderkey AS orderkey, CAST(dw + 1 AS INT) AS dow, rule,
       CAST(CASE
         WHEN rule = 'NEAREST_WEEKDAY' AND dw = 6 THEN d - 1
         WHEN rule = 'NEAREST_WEEKDAY' AND dw = 0 THEN d + 1
         WHEN rule = 'ALL_TO_MONDAY'   AND dw = 6 THEN d + 2
         WHEN rule = 'ALL_TO_MONDAY'   AND dw = 0 THEN d + 1
         WHEN rule = 'ALL_TO_FRIDAY'   AND dw = 6 THEN d - 1
         WHEN rule = 'ALL_TO_FRIDAY'   AND dw = 0 THEN d - 2
         ELSE d END AS VARCHAR) AS adjusted_date
FROM o CROSS JOIN rules
"""


# --- F1/F2/P8 key synthesis + scrub (ref: transform_service.py:275-283) ----

def scrubbed_part_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = T(spark, sf_dir, "part")
    return part.select(
        F.concat_ws("-", F.col("p_brand"), F.col("p_partkey")).alias("synthetic_key"),
        scrub(F.col("p_name")).alias("clean_name"),
        F.round(F.col("p_retailprice"), 2).alias("price_2dp"),
    )


# Same char class as SCRUB_PATTERN, SQL-quoted for DuckDB/RE2 ('' = quote).
SCRUBBED_KEYS_SQL = r"""
SELECT concat_ws('-', p_brand, p_partkey) AS synthetic_key,
       regexp_replace(p_name, '["''\t\n<>\\/()]', '', 'g') AS clean_name,
       ROUND(p_retailprice, 2) AS price_2dp
FROM part
"""


# --- U2/U3/F17 union + fill-missing-members (ref: transform_service.py:695-715)

def monthly_type_counts_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month × type counts with missing (month, type) cells filled with 0.

    ONE events scan (r5; was five): a single groupBy over (month, etype)
    where etype maps non-click/error rows to NULL — the NULL groups keep
    months alive that have no click/error rows, so the month universe, the
    type universe, and the counts all come out of one tiny pinned
    (months × ≤3)-row aggregate instead of separate scans per population +
    a month-list scan + a re-derived join input. At 10^12 events that is
    the difference between one pass and five."""
    ev = T(spark, sf_dir, "events")
    month = F.date_format(F.col("ts"), "yyyy-MM").alias("month")
    etype = F.when(
        F.col("event_type").isin("click", "error"), F.col("event_type")
    ).alias("etype")
    counts = pin_cache(
        ev.groupBy(month, etype).agg(F.count(F.lit(1)).alias("n"))
    )
    both = counts.filter(F.col("etype").isNotNull())
    months = counts.select("month").distinct()
    types = both.select("etype").distinct()
    grid = months.crossJoin(F.broadcast(types))
    return (
        grid.join(both, ["month", "etype"], "left")
        .select("month", "etype", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
    )


MONTHLY_FILLED_SQL = """
WITH both_t AS (
  SELECT strftime(ts, '%Y-%m') AS month, 'click' AS etype, COUNT(*) AS n
  FROM events WHERE event_type = 'click' GROUP BY 1
  UNION ALL
  SELECT strftime(ts, '%Y-%m') AS month, 'error' AS etype, COUNT(*) AS n
  FROM events WHERE event_type = 'error' GROUP BY 1
), months AS (SELECT DISTINCT strftime(ts, '%Y-%m') AS month FROM events),
   types AS (SELECT DISTINCT etype FROM both_t)
SELECT m.month, t.etype, CAST(COALESCE(b.n, 0) AS BIGINT) AS n
FROM months m CROSS JOIN types t
LEFT JOIN both_t b ON b.month = m.month AND b.etype = t.etype
"""


# --- W2-style running aggregation over event time ---------------------------

def user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ev.select(
        F.col("event_id"),
        F.col("user_id"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("running_value"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("seq"),
    )


USER_RUNNING_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
FROM events
"""


# --- O4/W3 top-k per group --------------------------------------------------

def top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via the salted two-phase grouped_topk: 5 segments
    over 10^12 orders would funnel through 5 window tasks with a plain
    partitionBy — phase 1 keeps each (segment, salt)-bucket's local top 3,
    phase 2 re-ranks the <= 3·64 survivors per segment (functions/topk.py).
    Exact: any global top-3 row is its bucket's local top-3."""
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    top = grouped_topk(
        joined,
        ["c_mktsegment"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        salt_col="o_orderkey",
    )
    return top.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("rank").cast("int"),
        F.col("o_orderkey").alias("orderkey"),
        F.round("o_totalprice", 4).alias("totalprice"),
    )


TOP3_PER_SEGMENT_SQL = """
SELECT c_mktsegment AS segment, CAST(rank AS INT) AS rank, o_orderkey AS orderkey,
       ROUND(o_totalprice, 4) AS totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rank <= 3
"""


# --- A8 exact distinct universes (ref: data_directory.py:220-290) ----------

def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
    )


DISTINCT_COUNTS_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_supps,
       COUNT(DISTINCT l_orderkey) AS distinct_orders
FROM lineitem GROUP BY l_returnflag
"""


# --- A9 HLL++ approx distinct, oracle-verified error bound ------------------

def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx distinct per group, verified IN THE PLAN: the entry
    emits the exact distinct counts (hash-matched against DuckDB's COUNT
    DISTINCT) plus a boolean per sketch asserting |hll − exact|/exact ≤ 0.15
    (3σ of the rsd=0.05 sketch). The oracle pins the booleans to true, so a
    bucketing/precision regression in the sketch flips the driver row red —
    the r2 gap where sketch accuracy was only pytest-visible is closed.

    r3 slot reclaim: this entry also carries the A7/A8 exact distinct
    universes (parts/supps/orders per group — formerly the separate
    distinct_counts_exact entry, whose builder ``distinct_counts`` remains
    the engine API).

    r4 plan fix: the r3 version fused 3 countDistinct + 3 sketches into ONE
    agg — Catalyst plans multiple DISTINCT aggregates as an Expand that
    multiplies every scanned row by the number of distinct columns (6× the
    input through the first shuffle; bench 0.57 s → 2.93 s). Now the sketch
    agg is a single clean pass (the production one-pass shape the docs
    promise — no Expand, plan-audit-pinned), and each exact universe is its
    own two-level agg (distinct on (group, key), then count — map-side
    combinable partial-distinct, the shape that also survives skew at
    10^12 rows), broadcast-joined back on the tiny group key.

    Scale note: the exact counts are the verification harness, not the
    production path — at 10^12 rows the engine uses the sketch alone
    (profiling/profile.py approx path); this entry is what certifies it."""
    li = T(spark, sf_dir, "lineitem")
    # exact == 0 (a group whose keys are all NULL in this universe):
    # countDistinct would say 0 and the sketch agrees iff it also says 0 —
    # the division form would emit NULL (0/0) and silently drop the flag.
    rel_err_ok = lambda approx, exact: F.when(  # noqa: E731
        exact == 0, approx.cast("double") == 0
    ).otherwise((F.abs(approx.cast("double") - exact) / exact) <= 0.15)
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.05).alias("__hp"),
        F.approx_count_distinct("l_suppkey", 0.05).alias("__hs"),
        F.approx_count_distinct("l_orderkey", 0.05).alias("__ho"),
    )
    # all 3 exact universes in ONE pass: explode (universe, key) pairs
    # (Generate, NOT Expand), partial-distinct map-side, count per universe.
    # Same shuffle bytes as 3 separate two-level aggs, a third the stages.
    exploded = li.select(
        "l_returnflag",
        F.explode(
            F.array(
                F.struct(F.lit("p").alias("u"), F.col("l_partkey").alias("key")),
                F.struct(F.lit("s").alias("u"), F.col("l_suppkey").alias("key")),
                F.struct(F.lit("o").alias("u"), F.col("l_orderkey").alias("key")),
            )
        ).alias("__e"),
    ).select("l_returnflag", F.col("__e.u").alias("__u"), F.col("__e.key").alias("__key"))
    exacts = (
        # null keys dropped to match COUNT(DISTINCT ...) / the replaced
        # countDistinct (the explode keeps a (group, universe, NULL) row
        # that distinct+count would otherwise tally)
        exploded.filter(F.col("__key").isNotNull())
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("__u") == "p", 1)).alias("exact_parts"),
            F.count(F.when(F.col("__u") == "s", 1)).alias("exact_supps"),
            F.count(F.when(F.col("__u") == "o", 1)).alias("exact_orders"),
        )
    )
    # LEFT from sketches: a group whose keys are all NULL in EVERY universe
    # has no exacts row at all (the null filter dropped it before the
    # distinct), but countDistinct semantics still owe it a row of zeros —
    # an inner join would silently drop the group from the entry's output.
    joined = sketches.join(exacts, "l_returnflag", "left")
    for c in ("exact_parts", "exact_supps", "exact_orders"):
        joined = joined.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return joined.select(
        "l_returnflag",
        "exact_parts",
        "exact_supps",
        "exact_orders",
        rel_err_ok(F.col("__hp"), F.col("exact_parts")).cast("int").alias("hll_parts_ok"),
        rel_err_ok(F.col("__hs"), F.col("exact_supps")).cast("int").alias("hll_supps_ok"),
        rel_err_ok(F.col("__ho"), F.col("exact_orders")).cast("int").alias("hll_orders_ok"),
    )


HLL_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(DISTINCT l_suppkey) AS exact_supps,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       1 AS hll_parts_ok,
       1 AS hll_supps_ok,
       1 AS hll_orders_ok
FROM lineitem GROUP BY l_returnflag
"""


# --- north-star quantile sketch (GK percentile_approx), oracle-verified -----

_GK_ACC = 10_000  # GK rank-error eps = 1/acc
_GK_PS = [0.25, 0.5, 0.75, 0.99]
_GK_TAGS = ["25", "50", "75", "99"]


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch quartiles per group (ref describe() quartiles,
    data_profiler.py:503-508), verified IN THE PLAN against the sketch's
    documented rank-error bound: for each p the entry counts the rows
    strictly below / at-or-below the sketch value (one extra pass with the
    tiny per-group sketch frame broadcast back onto lineitem) and asserts
    rank(gk_p) ∈ [p·n − εn − 1, p·n + εn + 1], ε = 1/accuracy. The exact
    interpolated percentiles ride along and hash-match DuckDB quantile_cont,
    so the oracle independently pins both halves: exact values by value,
    sketch values by their GK guarantee (booleans pinned to true).

    Scalar columns, not an array: the harness canonicalizer sorts/hashes row
    values, so array cells are out of contract."""
    li = T(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # pin: `agg` (a per-returnflag handful of rows) feeds BOTH the rank-check
    # join-back and the final assembly — unpinned, the second consumer
    # re-derives it with a third lineitem scan. Two scans are inherent (one
    # to sketch, one to count ranks against the sketch); a third is not.
    agg = pin_cache(li.groupBy("l_returnflag").agg(
        F.count("l_extendedprice").alias("n"),
        F.percentile_approx("l_extendedprice", _GK_PS, _GK_ACC).alias("__gk"),
        F.expr(
            "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.99D))"
        ).alias("__ex"),
    ))
    ranks = (
        li.join(F.broadcast(agg), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            *[
                F.sum(
                    (F.col("l_extendedprice") < F.col("__gk")[i]).cast("long")
                ).alias(f"__lo{t}")
                for i, t in enumerate(_GK_TAGS)
            ],
            *[
                F.sum(
                    (F.col("l_extendedprice") <= F.col("__gk")[i]).cast("long")
                ).alias(f"__hi{t}")
                for i, t in enumerate(_GK_TAGS)
            ],
        )
    )
    eps = 1.0 / _GK_ACC
    joined = agg.join(ranks, "l_returnflag")
    ok_cols = []
    for i, (p, t) in enumerate(zip(_GK_PS, _GK_TAGS)):
        target = F.col("n") * p
        slack = F.col("n") * eps + 1
        ok = (F.col(f"__lo{t}") <= target + slack) & (
            F.col(f"__hi{t}") >= target - slack
        )
        ok_cols.append(ok.cast("int").alias(f"gk{t}_ok"))
    return joined.select(
        "l_returnflag",
        "n",
        *[F.round(F.col("__ex")[i], 4).alias(f"ex{t}") for i, t in enumerate(_GK_TAGS)],
        *ok_cols,
    )


QUANTILE_SKETCH_SQL = """
SELECT l_returnflag, COUNT(l_extendedprice) AS n,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS ex25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS ex50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS ex75,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS ex99,
       1 AS gk25_ok, 1 AS gk50_ok, 1 AS gk75_ok, 1 AS gk99_ok
FROM lineitem GROUP BY l_returnflag
"""


# --- A14 grouped box-plot quartiles (ref: data_profiler.py:503-508 grouped) -

def grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles per group — the oracle-checked half of
    A14 (grouped box-plot stats; engine path: profiling.column_profile with
    group_cols). `percentile` is Spark's exact interpolated percentile —
    identical definition to DuckDB's quantile_cont ((n-1)*p linear
    interpolation) — so values hash-match at 4dp.

    Scale note: exact `percentile` buffers each group's values in the agg
    state, so it is the ORACLE-parity surface (bounded groups). At 10^12
    rows per group the engine path is the mergeable sketch pair —
    percentile_approx (quantile_sketch entry) or the persisted KLL sketches
    (ValidationRun.global_quantiles) — which trade exactness for O(sketch)
    state."""
    ev = T(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.count("value").alias("n_value"),
        F.expr("percentile(value, array(0.25D, 0.5D, 0.75D))").alias("__q"),
    )
    return q.select(
        "event_type",
        "n_value",
        F.round(F.col("__q")[0], 4).alias("q25"),
        F.round(F.col("__q")[1], 4).alias("q50"),
        F.round(F.col("__q")[2], 4).alias("q75"),
    )


GROUPED_QUANTILES_SQL = """
SELECT event_type, COUNT(value) AS n_value,
       ROUND(quantile_cont(value, 0.25), 4) AS q25,
       ROUND(quantile_cont(value, 0.50), 4) AS q50,
       ROUND(quantile_cont(value, 0.75), 4) AS q75
FROM events GROUP BY event_type
"""


# --- JSON extraction over the events props column ---------------------------

def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select(F.col("event_id"), k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod10"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").cast("bigint").alias("sum_k"))
    )


PROPS_JSON_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod10,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
FROM events GROUP BY 1
"""


# --- A5 two-level aggregation (ref: inventory_stratification.sql inner q) ---

def monthly_part_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    month = F.date_format(F.col("l_shipdate"), "yyyy-MM")
    per_month = li.groupBy(F.col("l_partkey"), month.alias("month")).agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("mqty")
    )
    return per_month.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("active_months"),
        F.round(F.avg(F.col("mqty").cast("double")), 4).alias("avg_monthly_qty"),
        F.max(F.col("mqty").cast("double")).alias("max_monthly_qty"),
    )


MONTHLY_PART_FLOW_SQL = """
WITH per_month AS (
  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS mqty
  FROM lineitem GROUP BY 1, 2
)
SELECT l_partkey, COUNT(*) AS active_months,
       ROUND(AVG(CAST(mqty AS DOUBLE)), 4) AS avg_monthly_qty,
       MAX(CAST(mqty AS DOUBLE)) AS max_monthly_qty
FROM per_month GROUP BY l_partkey
"""


# --- A2 sorted-distinct string reduce (ref: transform_service.py:401-406) ---

def returnflag_combo_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws("", F.array_sort(F.collect_set("l_returnflag"))).alias("flag_combo")
    )


RETURNFLAG_COMBO_SQL = """
SELECT l_orderkey,
       array_to_string(list_sort(list(DISTINCT l_returnflag)), '') AS flag_combo
FROM lineitem GROUP BY l_orderkey
"""


# --- A6 population std per group (ref: transform_service.py:641-649) --------

def event_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.round(F.stddev_pop("value"), 4).alias("std_pop_value"),
        F.round(F.stddev_samp("value"), 4).alias("std_samp_value"),
    )


EVENT_VALUE_STATS_SQL = """
SELECT event_type,
       ROUND(AVG(value), 4) AS mean_value,
       ROUND(stddev_pop(value), 4) AS std_pop_value,
       ROUND(stddev_samp(value), 4) AS std_samp_value,
FROM events GROUP BY event_type
"""


# --- A10 top/freq (ref describe() top/freq, data_profiler.py:503) -----------

def top_priority_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("o_orderpriority"))
        .limit(1)
    )


TOP_PRIORITY_SQL = """
SELECT o_orderpriority, COUNT(*) AS freq
FROM orders GROUP BY o_orderpriority
ORDER BY freq DESC, o_orderpriority ASC LIMIT 1
"""


# --- sessionization (gap > 30 min) — batch analog of stateful streaming -----

def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; NTZ→LTZ under the pinned UTC
    # session TZ gives the same epoch seconds DuckDB's epoch() returns.
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    starts = ev.withColumn(
        "is_start", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = starts.withColumn(
        "session_no",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id").agg(
        F.max("session_no").cast("int").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
), s AS (
  SELECT user_id,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM g
)
SELECT user_id, CAST(MAX(session_no) AS INT) AS n_sessions, COUNT(*) AS n_events
FROM s GROUP BY user_id
"""


RELATIONAL_QUERIES = {
    "pricing_summary": (pricing_summary, PRICING_SUMMARY_SQL),
    "top_revenue_orders": (top_revenue_orders, TOP_REVENUE_ORDERS_SQL),
    "brand_revenue_broadcast": (brand_revenue, BRAND_REVENUE_SQL),
    "orphan_partkeys_anti": (orphan_partkeys, ORPHAN_PARTKEYS_SQL),
    "building_orders_semi": (building_orders_by_priority, BUILDING_ORDERS_SQL),
    "first_order_per_customer": (first_order_per_customer, FIRST_ORDER_SQL),
    "pareto_abc_parts": (pareto_abc_parts, PARETO_ABC_SQL),
    "velocity_by_month": (velocity_by_month, VELOCITY_BY_MONTH_SQL),
    "velocity_ladder": (velocity_ladder, VELOCITY_LADDER_SQL),
    "conditional_counts": (conditional_counts, CONDITIONAL_COUNTS_SQL),
    "histogram_extendedprice": (histogram_extendedprice, HISTOGRAM_SQL),
    "quantity_range_buckets": (quantity_range_buckets, QTY_RANGE_SQL),
    "order_date_features": (order_date_features, ORDER_DATE_FEATURES_SQL),
    "weekend_rules": (weekend_rules_grid, WEEKEND_RULES_SQL),
    "scrubbed_part_keys": (scrubbed_part_keys, SCRUBBED_KEYS_SQL),
    "monthly_type_counts_filled": (monthly_type_counts_filled, MONTHLY_FILLED_SQL),
    "user_running_value": (user_running_value, USER_RUNNING_SQL),
    "top3_orders_per_segment": (top3_orders_per_segment, TOP3_PER_SEGMENT_SQL),
    "quantile_sketch": (quantile_sketch, QUANTILE_SKETCH_SQL),
    "hll_distinct": (hll_distinct, HLL_DISTINCT_SQL),
    "grouped_quantiles": (grouped_quantiles, GROUPED_QUANTILES_SQL),
    "props_json_extract": (props_json_extract, PROPS_JSON_SQL),
    "monthly_part_flow": (monthly_part_flow, MONTHLY_PART_FLOW_SQL),
    "returnflag_combo_per_order": (returnflag_combo_per_order, RETURNFLAG_COMBO_SQL),
    "event_value_stats": (event_value_stats, EVENT_VALUE_STATS_SQL),
    "top_priority_freq": (top_priority_freq, TOP_PRIORITY_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_SQL),
}
