"""The delegated-SQL surface: scan/filter/join/agg/window/sort/set ops.

The reference implements none of these itself — every template pushes
its SQL string down to Spanner or BigQuery (reference:
transforms/SpannerQueryIO.java:127, templates/BigQueryToSpanner.java:
101-103). In this engine Catalyst serves that surface, so the queries
below are the test matrix proving it end-to-end over the driver's
TPC-H-ish tables. DataFrame-API forms are used where they demonstrate
operator composition; `run_query` (the S1-S4 source operator) where the
pushed-down-SQL shape is the point.

Scale notes (100 TB design stance):
* fact-fact joins (lineitem x orders) shuffle on the join key — AQE
  re-plans and handles skew (session.py);
* dimension joins (region/nation/customer/supplier/part) are
  broadcast — Catalyst picks that from size, `F.broadcast` pins it
  where the dim is guaranteed small;
* every filter is a plain column predicate so it reaches the parquet
  scan (PushedFilters), every select keeps the ReadSchema narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dataflowtemplates_spark.catalog import register_tables
from dataflowtemplates_spark.plans import run_query


def _dec(c: str) -> F.Column:
    """Exact currency: 2-decimal values stored as double -> DECIMAL."""
    return F.col(c).cast("decimal(12,2)")


def _rate(c: str) -> F.Column:
    """Exact small rate (discount/tax, 0.00-0.10)."""
    return F.col(c).cast("decimal(4,2)")


def _one() -> F.Column:
    """Literal 1 as small decimal (keeps rate arithmetic exact)."""
    return F.lit(1).cast("decimal(4,2)")


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary (scan->filter->agg->sort)."""
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (_one() - _rate("l_discount")))
             .cast("double").alias("sum_disc_price"),
            F.sum(_dec("l_extendedprice") * (_one() - _rate("l_discount"))
                  * (_one() + _rate("l_tax"))).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(_rate("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q01_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q06_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped single-pass filtered aggregate (pushdown check)."""
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").cast("decimal(4,2)").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(_dec("l_extendedprice") * _rate("l_discount"))
              .cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


_Q06_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q09_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/count/count-distinct per group (exact distinct = shuffle)."""
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min(_dec("l_extendedprice")).cast("double").alias("min_price"),
            F.max(_dec("l_extendedprice")).cast("double").alias("max_price"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey", "l_suppkey").alias("n_part_supp"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


_Q09_ORACLE = """
SELECT l_returnflag,
       CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
       CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q150_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type second-moment statistics: Pearson correlation and
    OLS slope/intercept of event value against hour-of-day — the
    grouped CORR/REGR_* analytics surface, built on exact moment sums
    rather than the engines' float accumulators (whose results are
    partition-order-dependent and never cross-engine comparable).

    Exactness: value is floored to integer MILLI-units (declared
    fixed-point semantics, same stance as the currency casts — and
    floor, not cast, because double->int casts truncate in Spark but
    round in DuckDB), hour is an integer, so all five moments are
    EXACT BIGINT sums in any order. A bigint->double conversion is a
    SINGLE correctly-rounded IEEE operation in every engine — unlike
    decimal->double, which Java performs as unscaled/10^scale (two
    roundings, observed 1-ulp off DuckDB on this very query). The
    closed forms then run in double with one fixed operation order;
    IEEE sqrt is exactly rounded. Slope/intercept are divided back by
    1000 at the end (one more exact-ordered op) so they read in value
    units; corr is scale-invariant. Moment magnitude stays < 2^63
    through sf100 (sxx <= 3.2e11/row). One aggregation, map-side
    combined; no second pass, no window.
    """
    register_tables(spark, sf_dir)
    ev = spark.table("events")
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000.0)).cast("long").alias("x"),
        F.hour(F.col("ts").cast("timestamp")).cast("long").alias("y"))
    m = (base.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"),
              F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("y") * F.col("y")).alias("syy")))
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sxy_d = F.col("sxy").cast("double")
    syy_d = F.col("syy").cast("double")
    cov_n = n_d * sxy_d - sx_d * sy_d
    var_x_n = n_d * sxx_d - sx_d * sx_d
    var_y_n = n_d * syy_d - sy_d * sy_d
    # regress value (milli-units) on hour: value = slope*hour + icept.
    # Zero-variance guard: a constant column makes the denominator 0,
    # which ANSI Spark raises on (hypothesis found this; the sibling
    # q120 span guard exists for the same reason) — both engines
    # declare the degenerate statistics NULL instead.
    # <= 0, not == 0: once moments exceed 2^53 the computed variance
    # of a constant column rounds to a small NEGATIVE double (review
    # finding, verified at n=20001 of constant 999.999), which would
    # slip an == 0 guard straight into sqrt(negative)
    degenerate = (var_x_n <= F.lit(0.0)) | (var_y_n <= F.lit(0.0))
    slope = cov_n / var_y_n
    return (m.select(
                "event_type", "n",
                F.when(degenerate, F.lit(None).cast("double"))
                 .otherwise(cov_n / (F.sqrt(var_x_n) * F.sqrt(var_y_n)))
                 .alias("corr"),
                F.when(degenerate, F.lit(None).cast("double"))
                 .otherwise(slope / F.lit(1000.0)).alias("slope"),
                F.when(degenerate, F.lit(None).cast("double"))
                 .otherwise(((sx_d - slope * sy_d) / n_d)
                            / F.lit(1000.0)).alias("intercept"))
            .orderBy("event_type"))


_Q150_ORACLE = """
WITH base AS (
  SELECT event_type,
         CAST(FLOOR(value * CAST(1000 AS DOUBLE)) AS BIGINT) AS x,
         CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS y
  FROM events),
m AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM base GROUP BY event_type),
d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS var_x_n,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS var_y_n,
         CAST(sx AS DOUBLE) AS sx_d, CAST(sy AS DOUBLE) AS sy_d,
         CAST(n AS DOUBLE) AS n_d
  FROM m)
SELECT event_type, n,
       CASE WHEN var_x_n <= 0 OR var_y_n <= 0 THEN NULL
            ELSE cov_n / (SQRT(var_x_n) * SQRT(var_y_n)) END AS corr,
       CASE WHEN var_x_n <= 0 OR var_y_n <= 0 THEN NULL
            ELSE (cov_n / var_y_n) / CAST(1000 AS DOUBLE) END AS slope,
       CASE WHEN var_x_n <= 0 OR var_y_n <= 0 THEN NULL
            ELSE ((sx_d - (cov_n / var_y_n) * sy_d) / n_d)
                   / CAST(1000 AS DOUBLE) END AS intercept
FROM d ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

def q03_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: dim-filter -> fact join -> agg -> top-N."""
    register_tables(spark, sf_dir)
    cust = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = spark.table("orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp"))
    li = spark.table("lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp"))
    # customer GROWS with scale factor (150k x SF rows) — never pin a
    # broadcast on it; AQE/autoBroadcastJoinThreshold decides from size
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_dec("l_extendedprice") * (_one() - _rate("l_discount")))
              .cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_Q03_ORACLE = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q05_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: snowflake dims broadcast, facts shuffle."""
    register_tables(spark, sf_dir)
    region = spark.table("region").filter(F.col("r_name") == "ASIA")
    nation = spark.table("nation")
    cust = spark.table("customer")
    sup = spark.table("supplier")
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    li = spark.table("lineitem")
    # broadcast pins ONLY on the bounded dims (region: 5 rows, nation:
    # 25 — fixed regardless of SF); customer/supplier grow linearly
    # with SF, so their join strategy is left to AQE/size thresholds
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup,
              (li.l_suppkey == sup.s_suppkey)
              & (cust.c_nationkey == sup.s_nationkey))
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_dec("l_extendedprice") * (_one() - _rate("l_discount")))
              .cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


_Q05_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q07_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer, order count may be 0."""
    register_tables(spark, sf_dir)
    cust = spark.table("customer")
    orders = spark.table("orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.coalesce(F.sum(_dec("o_totalprice")).cast("double"), F.lit(0.0))
              .alias("total_spent"))
        .filter(F.col("n_orders") <= 2)
        .orderBy("c_custkey")
    )


_Q07_ORACLE = """
SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
HAVING COUNT(o_orderkey) <= 2
ORDER BY c_custkey
"""


def q08_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS) and left-anti (NOT EXISTS) per nation."""
    register_tables(spark, sf_dir)
    cust = spark.table("customer")
    big = spark.table("orders").filter(F.col("o_totalprice") > 300000.0)
    with_big = (cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
                .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
                .withColumn("bucket", F.lit("has_big_order")))
    without = (cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
               .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
               .withColumn("bucket", F.lit("no_big_order")))
    return with_big.unionAll(without).select("bucket", "c_nationkey", "n") \
        .orderBy("bucket", "c_nationkey")


_Q08_ORACLE = """
SELECT 'has_big_order' AS bucket, c_nationkey, COUNT(*) AS n
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
GROUP BY c_nationkey
UNION ALL
SELECT 'no_big_order' AS bucket, c_nationkey, COUNT(*) AS n
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
GROUP BY c_nationkey
ORDER BY bucket, c_nationkey
"""


# --------------------------------------------------------------------------
# Grouping sets / rollup / cube / pivot
# --------------------------------------------------------------------------

_Q12_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus, o_orderpriority
"""


def q10_grouping_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE + GROUPING SETS in one tagged union (merged from
    the former q10/q11/q12 so the whole grouping-analytics family stays
    inside the driver's 50-slot correctness gate).

    Each variant keeps its original shape: rollup over orders with an
    exact-decimal total, cube over lineitem counts, and grouping sets
    through the pushed-down-SQL surface (`run_query` = operator S1).
    All three are single-shuffle Expand-based aggregations — Catalyst
    lowers rollup/cube/sets to one Expand + one hash aggregate, so the
    union is three independent scans, no extra exchanges.
    """
    register_tables(spark, sf_dir)
    orders = spark.table("orders")
    li = spark.table("lineitem")
    roll = (orders.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(_dec("o_totalprice")).cast("double").alias("total"),
                 F.grouping("o_orderstatus").alias("g1"),
                 F.grouping("o_orderpriority").alias("g2"))
            .select(F.lit("rollup").alias("variant"),
                    F.col("o_orderstatus").alias("k1"),
                    F.col("o_orderpriority").alias("k2"),
                    "n", "total", "g1", "g2"))
    cub = (li.cube("l_returnflag", "l_linestatus")
           .agg(F.count(F.lit(1)).alias("n"),
                F.grouping("l_returnflag").alias("g1"),
                F.grouping("l_linestatus").alias("g2"))
           .select(F.lit("cube").alias("variant"),
                   F.col("l_returnflag").alias("k1"),
                   F.col("l_linestatus").alias("k2"),
                   "n", F.lit(None).cast("double").alias("total"),
                   "g1", "g2"))
    gs = (run_query(spark, _Q12_SQL)
          .select(F.lit("gsets").alias("variant"),
                  F.col("o_orderstatus").alias("k1"),
                  F.col("o_orderpriority").alias("k2"),
                  "n", F.lit(None).cast("double").alias("total"),
                  F.lit(None).cast("byte").alias("g1"),
                  F.lit(None).cast("byte").alias("g2")))
    return (roll.unionByName(cub).unionByName(gs)
            .orderBy("variant", "g1", "g2", "k1", "k2"))


_Q10_ORACLE = """
SELECT 'rollup' AS variant, o_orderstatus AS k1, o_orderpriority AS k2,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
       CAST(GROUPING(o_orderstatus) AS TINYINT) AS g1,
       CAST(GROUPING(o_orderpriority) AS TINYINT) AS g2
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'cube', l_returnflag, l_linestatus, COUNT(*), CAST(NULL AS DOUBLE),
       CAST(GROUPING(l_returnflag) AS TINYINT),
       CAST(GROUPING(l_linestatus) AS TINYINT)
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'gsets', o_orderstatus, o_orderpriority, COUNT(*),
       CAST(NULL AS DOUBLE), CAST(NULL AS TINYINT), CAST(NULL AS TINYINT)
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY variant, g1, g2, k1, k2
"""


def q19_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status -> columns (oracle: conditional aggregation)."""
    register_tables(spark, sf_dir)
    orders = spark.table("orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(F.col("o_orderpriority"),
                F.coalesce("O", F.lit(0)).alias("n_open"),
                F.coalesce("F", F.lit(0)).alias("n_finished"),
                F.coalesce("P", F.lit(0)).alias("n_pending"))
        .orderBy("o_orderpriority")
    )


_Q19_ORACLE = """
SELECT o_orderpriority,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_open,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_finished,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pending
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q154_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long): per-nation exact aggregates of three
    customer measures melted into (nation, measure, value) rows — the
    inverse of q19's pivot, closing the reshape surface. Spark's
    ``unpivot`` lowers to Expand (one pass, rows x measures, no
    shuffle beyond the aggregate); the oracle uses DuckDB's UNPIVOT.

    Exactness: the measures are a count, an exact DECIMAL sum cast to
    double, and a min — all order-insensitive; the melt itself moves
    values without arithmetic.
    """
    register_tables(spark, sf_dir)
    cust = spark.table("customer")
    wide = (cust.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).cast("double").alias("n_customers"),
                 F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
                  .cast("double").alias("balance_sum"),
                 F.min(F.col("c_acctbal").cast("decimal(12,2)"))
                  .cast("double").alias("balance_min")))
    return (wide.unpivot(
                ["c_nationkey"],
                ["n_customers", "balance_sum", "balance_min"],
                "measure", "value")
            .orderBy("c_nationkey", "measure"))


_Q154_ORACLE = """
WITH wide AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS DOUBLE) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
           AS balance_sum,
         CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
           AS balance_min
  FROM customer GROUP BY c_nationkey)
SELECT c_nationkey, measure, value
FROM wide
UNPIVOT (value FOR measure IN (n_customers, balance_sum, balance_min))
ORDER BY c_nationkey, measure
"""


def q155_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the MULTISET siblings of q17's set
    ops: per duplicated key the bag semantics keep min(count_a,
    count_b) copies (intersect) and count_a - count_b copies (except),
    which the set forms erase. Both lower to a counted aggregate +
    generate, one shuffle each; the oracle uses DuckDB's ALL variants
    directly.
    """
    register_tables(spark, sf_dir)
    cn = (spark.table("customer")
          .select(F.col("c_nationkey").alias("nationkey")))
    sn = (spark.table("supplier")
          .select(F.col("s_nationkey").alias("nationkey")))
    both = cn.intersectAll(sn).withColumn("bucket", F.lit("both_all"))
    cust_extra = (cn.exceptAll(sn)
                  .withColumn("bucket", F.lit("customer_extra")))
    return (both.unionAll(cust_extra)
            .select("bucket", "nationkey")
            .orderBy("bucket", "nationkey"))


_Q155_ORACLE = """
SELECT 'both_all' AS bucket, nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT ALL
  SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'customer_extra' AS bucket, nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT ALL
  SELECT s_nationkey FROM supplier)
ORDER BY bucket, nationkey
"""


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

def q13_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by retail price (rank + deterministic tiebreak)."""
    register_tables(spark, sf_dir)
    part = spark.table("part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rk")
        .orderBy("p_brand", "rk")
    )


_Q13_ORACLE = """
SELECT p_brand, p_partkey, p_name, p_retailprice, rk FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
               ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rk
  FROM part) t
WHERE rk <= 3 ORDER BY p_brand, rk
"""


def q14_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer over order history (frame: unbounded->row)."""
    register_tables(spark, sf_dir)
    orders = spark.table("orders").filter(F.col("o_custkey") < 100)
    w = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_orderdate",
            F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
            F.row_number().over(
                W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            ).alias("order_seq"))
        .orderBy("o_custkey", "order_seq")
    )


_Q14_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS order_seq
FROM orders WHERE o_custkey < 100
ORDER BY o_custkey, order_seq
"""


def q15_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas over the events stream table."""
    register_tables(spark, sf_dir)
    ev = spark.table("events").filter(F.col("user_id") < 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id", "event_id", "ts", "event_type",
            F.lag("event_type", 1).over(w).alias("prev_type"),
            F.lead("event_type", 1).over(w).alias("next_type"),
            (F.col("value") - F.lag("value", 1).over(w)).alias("value_delta"))
        .orderBy("user_id", "ts", "event_id")
    )


_Q15_ORACLE = """
SELECT user_id, event_id, ts, event_type,
       LAG(event_type, 1)  OVER w AS prev_type,
       LEAD(event_type, 1) OVER w AS next_type,
       value - LAG(value, 1) OVER w AS value_delta
FROM events WHERE user_id < 50
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, ts, event_id
"""


def q16_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap -> session ids -> per-session agg.

    lag + cumulative-sum-of-gap-flags; the batch equivalent of
    Structured Streaming's session_window (streaming/ has that form).
    """
    register_tables(spark, sf_dir)
    ev = spark.table("events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # The gap test runs on exact epoch MICROseconds, like DuckDB's
    # epoch(ts) in the oracle, which keeps the sub-second part (a cast
    # to long would truncate to whole seconds and merge a 1800.05 s
    # gap). NTZ-safe: parquet `timestamp[us]` arrives as TIMESTAMP_NTZ
    # under Spark 4, which unix_micros rejects; the hop through
    # TIMESTAMP uses the session tz (pinned UTC).
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = F.when(
        ts_us - F.lag(ts_us, 1, 0).over(w) > 1_800_000_000,
        1).otherwise(0)
    sess = (ev.withColumn("new_sess", gap)
            .withColumn("session_id",
                        F.sum("new_sess").over(
                            w.rowsBetween(W.unboundedPreceding, W.currentRow))))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"),
             F.max("n_events").alias("max_session_events"))
        .orderBy("user_id")
    )


_Q16_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts), 1, 0)
              OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sessions AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM sessions GROUP BY user_id, session_id)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events
FROM per_session GROUP BY user_id ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Set ops / distinct / subqueries
# --------------------------------------------------------------------------

def q17_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT over nation keys of customers vs suppliers."""
    register_tables(spark, sf_dir)
    cn = spark.table("customer").select(F.col("c_nationkey").alias("nationkey"))
    sn = spark.table("supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = cn.intersect(sn).withColumn("bucket", F.lit("both"))
    # subtract = EXCEPT (set semantics), matching the SQL EXCEPT oracle
    cust_only = cn.subtract(sn).withColumn("bucket", F.lit("customer_only"))
    return both.unionAll(cust_only).select("bucket", "nationkey").orderBy("bucket", "nationkey")


_Q17_ORACLE = """
SELECT 'both' AS bucket, nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'customer_only' AS bucket, nationkey FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier)
ORDER BY bucket, nationkey
"""


_Q18_SPARK_SQL = """
SELECT 'big' AS src, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 450000.0
--SPLITTER--
SELECT 'old' AS src, o_orderkey, o_totalprice FROM orders
WHERE o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
"""


def q18_union_splitter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's --SPLITTER-- multi-query union through run_query
    (reference: SpannerQueryIO.java:29,73-87)."""
    register_tables(spark, sf_dir)
    return run_query(spark, _Q18_SPARK_SQL)


_Q18_ORACLE = """
SELECT 'big' AS src, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 450000.0
UNION ALL
SELECT 'old' AS src, o_orderkey, o_totalprice FROM orders
WHERE o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
"""


def q23_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price (exact-decimal average)."""
    register_tables(spark, sf_dir)
    return run_query(spark, """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.8 * (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders)
ORDER BY o_orderkey
""")


_Q23_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.8 * (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders)
ORDER BY o_orderkey
"""


_Q24_SQL = """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9900.0)
ORDER BY o_orderkey
"""


def q24_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return run_query(spark, _Q24_SQL)


_Q32_SQL = """
SELECT c_custkey, c_acctbal FROM customer c
WHERE c_acctbal < 0
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def q32_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return run_query(spark, _Q32_SQL)


# --------------------------------------------------------------------------
# Scalar-function surface (string / date / math / json / array)
# --------------------------------------------------------------------------

def q20_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + hash/encode scalar family over part (merged from the
    former q20/q28 for the 50-slot gate): case, length, substring,
    concat, regexp, LIKE, pad — plus md5/sha256 fingerprints and the
    base64 rendering the reference uses for BYTES in text outputs
    (util/StructUtil.java:59-60). All map-only column expressions
    inside one WholeStageCodegen projection."""
    register_tables(spark, sf_dir)
    part = spark.table("part").filter(F.col("p_partkey") < 200)
    return (
        part.select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.lower("p_brand").alias("brand_lower"),
            F.length("p_name").alias("name_len"),
            F.substring("p_name", 1, 5).alias("name_head"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
            F.col("p_name").like("%gold%").alias("has_gold"),
            F.trim(F.lit("  x  ")).alias("trimmed"),
            F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
            F.md5(F.col("p_name").cast("binary")).alias("name_md5"),
            F.base64(F.encode(F.substring("p_name", 1, 12), "UTF-8")).alias("head_b64"),
            F.sha2(F.col("p_name").cast("binary"), 256).alias("name_sha256"))
        .orderBy("p_partkey")
    )


_Q20_ORACLE = """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       LOWER(p_brand) AS brand_lower,
       CAST(LENGTH(p_name) AS INTEGER) AS name_len,
       SUBSTRING(p_name, 1, 5) AS name_head,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
       (p_name LIKE '%gold%') AS has_gold,
       TRIM('  x  ') AS trimmed,
       LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
       MD5(p_name) AS name_md5,
       TO_BASE64(ENCODE(SUBSTRING(p_name, 1, 12))) AS head_b64,
       SHA256(p_name) AS name_sha256
FROM part WHERE p_partkey < 200 ORDER BY p_partkey
"""


def q21_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar family over orders (merged from the former
    q21/q27): per-row date parts (year/month/day/quarter/trunc/to_date)
    beside the reference's three epoch conventions, preserved per-path:
    epoch days (Avro DATE, reference: StructToRecordConverter.java:75-79),
    epoch millis truncated to seconds (Avro TIMESTAMP via
    getSeconds()*1000, reference: StructToRecordConverter.java:85-86),
    and epoch seconds (BigQuery, StructToTableRowConverter.java:89-90).
    """
    register_tables(spark, sf_dir)
    orders = spark.table("orders").filter(F.col("o_orderkey") < 500)
    return (
        orders.select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_dom"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            F.to_date("o_orderdate").alias("order_date"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
             .cast("long").alias("epoch_days"),
            F.col("o_orderdate").cast("timestamp").cast("long").alias("epoch_seconds"),
            (F.col("o_orderdate").cast("timestamp").cast("long") * 1000)
             .alias("epoch_millis_truncated"),
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso_zulu"))
        .orderBy("o_orderkey")
    )


_Q21_ORACLE = """
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
       CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS order_dom,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS order_quarter,
       CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS epoch_days,
       CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_seconds,
       CAST(EPOCH(o_orderdate) AS BIGINT) * 1000 AS epoch_millis_truncated,
       STRFTIME(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso_zulu
FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
"""


def q22_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    li = spark.table("lineitem").filter(F.col("l_orderkey") < 100)
    return (
        li.select(
            "l_orderkey", "l_linenumber",
            F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
            F.floor("l_extendedprice").alias("price_floor"),
            F.ceil("l_extendedprice").alias("price_ceil"),
            _dec("l_extendedprice").cast("double").alias("price_2dp"),
            (F.col("l_orderkey") % 7).alias("key_mod7"),
            F.pow(F.lit(2), F.col("l_linenumber")).alias("pow2_line"),
            F.sqrt(F.col("l_quantity")).alias("qty_sqrt"),
            F.greatest("l_quantity", "l_discount").alias("gr"),
            F.least(F.col("l_tax"), F.col("l_discount")).alias("ls"))
        .orderBy("l_orderkey", "l_linenumber")
    )


_Q22_ORACLE = """
SELECT l_orderkey, l_linenumber,
       ABS(l_quantity - 25) AS qty_dev,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_2dp,
       l_orderkey % 7 AS key_mod7,
       POWER(2, l_linenumber) AS pow2_line,
       SQRT(l_quantity) AS qty_sqrt,
       GREATEST(l_quantity, l_discount) AS gr,
       LEAST(l_tax, l_discount) AS ls
FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber
"""


def q25_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation HAVING filter. Threshold chosen so the result
    is NON-EMPTY at the correctness gate's sf0.01 (85 part keys — the
    old >=60 matched nothing there, a vacuous pass)."""
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .filter(F.col("n_lines") >= 40)
        .orderBy("l_partkey")
    )


_Q25_ORACLE = """
SELECT l_partkey, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 40 ORDER BY l_partkey
"""


def q26_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return (li.select("l_returnflag", "l_linestatus").distinct()
            .orderBy("l_returnflag", "l_linestatus"))


_Q26_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


def q29_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family over one window: rank, dense_rank,
    percent_rank, cume_dist, ntile — per-nation customer balance
    standings. One shuffle on the (high-cardinality at scale) nation
    key; ordering carries a full tiebreak so every rank is
    deterministic."""
    register_tables(spark, sf_dir)
    cust = spark.table("customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (cust.select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.percent_rank().over(w).alias("pctrk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"))
        .orderBy("c_nationkey", "rk", "c_custkey"))


_Q29_ORACLE = """
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(RANK() OVER w AS INTEGER) AS rk,
       CAST(DENSE_RANK() OVER w AS INTEGER) AS drk,
       PERCENT_RANK() OVER w AS pctrk,
       CUME_DIST() OVER w AS cdist,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey
             ORDER BY c_acctbal DESC, c_custkey ASC)
ORDER BY c_nationkey, rk, c_custkey
"""


def q31_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: nations per region as sorted CSV."""
    register_tables(spark, sf_dir)
    nation = spark.table("nation")
    region = spark.table("region")
    return (
        nation.join(F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",")
              .alias("nations"),
             F.count(F.lit(1)).alias("n_nations"))
        .orderBy("r_name")
    )


_Q31_ORACLE = """
SELECT r_name,
       ARRAY_TO_STRING(LIST_SORT(LIST(n_name)), ',') AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q33_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-over-join: highest-spend customer in each nation."""
    register_tables(spark, sf_dir)
    cust = spark.table("customer")
    orders = spark.table("orders")
    nation = spark.table("nation")
    spend = (orders.groupBy("o_custkey")
             .agg(F.sum(_dec("o_totalprice")).cast("double").alias("spend")))
    w = W.partitionBy("c_nationkey").orderBy(F.desc("spend"), F.asc("c_custkey"))
    return (
        cust.join(spend, cust.c_custkey == spend.o_custkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select("n_name", "c_custkey", "c_name", "spend")
        .orderBy("n_name")
    )


_Q33_ORACLE = """
WITH spend AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT n_name, c_custkey, c_name, spend,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY spend DESC, c_custkey ASC) AS rk
  FROM customer JOIN spend ON c_custkey = o_custkey
  JOIN nation ON c_nationkey = n_nationkey)
SELECT n_name, c_custkey, c_name, spend FROM ranked WHERE rk = 1 ORDER BY n_name
"""


def q37_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via the skew-spread two-stage
    form (operators/skew.salted_distinct_count): salt = hash(value) %
    buckets keeps equal values in one bucket, so per-bucket distinct
    counts sum to the exact answer while a hot key fans over 16
    reducers instead of one. Bit-identical to COUNT(DISTINCT ...)."""
    from dataflowtemplates_spark.operators.skew import salted_distinct_count
    register_tables(spark, sf_dir)
    ev = spark.table("events")
    return (salted_distinct_count(ev, ["event_type"], "user_id", buckets=16,
                                  out="n_users")
            .orderBy("event_type"))


_Q37_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def q38_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (Spark `percentile` and DuckDB
    `quantile_cont` share the lo + (hi-lo)*frac interpolation on
    doubles, so the results are bit-identical). The exact form is a
    full sort per group; at 100 TB swap in percentile_approx — this
    query pins the exact baseline the sketch is judged against."""
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    # One percentile(col, array(...)) per COLUMN instead of one scalar
    # call per requested p: the scalar form builds and merges its own
    # O(distinct) value-count map per call (5 maps here), the array
    # form one per column (2), with bit-identical per-p interpolation
    # from the same sorted counts (same fix as q120; guide §1.2).
    return (li.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_quantity, array(0.5D, 0.9D))")
                 .alias("qp"),
                 F.expr("percentile(l_extendedprice, "
                        "array(0.25D, 0.5D, 0.9D))").alias("pp"))
            .select("l_returnflag",
                    F.col("qp")[0].alias("qty_med"),
                    F.col("qp")[1].alias("qty_p90"),
                    F.col("pp")[0].alias("price_p25"),
                    F.col("pp")[1].alias("price_med"),
                    F.col("pp")[2].alias("price_p90"))
            .orderBy("l_returnflag"))


_Q38_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS qty_med,
       quantile_cont(l_quantity, 0.9) AS qty_p90,
       quantile_cont(l_extendedprice, 0.25) AS price_p25,
       quantile_cont(l_extendedprice, 0.5) AS price_med,
       quantile_cont(l_extendedprice, 0.9) AS price_p90
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q39_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-sketch toolkit that replaces exact forms at
    100 TB: HLL++ distinct counts (order-independent, merge-friendly)
    and quantile summaries.

    DuckDB's HLL/quantile sketches differ from Spark's by
    construction, so raw estimates can never hash-match an oracle.
    Instead the query emits exact counts (which DO match) plus
    BOOLEAN error-bound assertions computed Spark-side: HLL++ at
    rsd=0.01 must land within 5 % (5 sigma) of the exact distinct
    count, and approx_percentile at accuracy 10000 must land between
    the exact p45/p55 (rank error <= n/accuracy << 5 % of rank). The
    oracle asserts the same booleans as literal TRUE — a sketch
    regression outside published bounds flips the value hash red.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    # Two aggregations joined on the tiny group key, NOT one combined
    # agg: mixing multi-column DISTINCT aggregates with object-buffer
    # sketches (percentile) forces an Expand plan whose serialized
    # buffers ride every expanded row — measured 35 s vs 3 s at sf0.01.
    sketches = (li.groupBy("l_returnflag")
                .agg(F.approx_count_distinct("l_orderkey", 0.01).alias("_ao"),
                     F.approx_count_distinct("l_partkey", 0.01).alias("_ap"),
                     F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
                      .alias("_amed"),
                     F.expr("percentile(l_extendedprice, array(0.45, 0.55))")
                      .alias("_pb"),
                     F.count(F.lit(1)).alias("n_rows")))
    exact = (li.groupBy("l_returnflag")
             .agg(F.countDistinct("l_orderkey").alias("exact_orders"),
                  F.countDistinct("l_partkey").alias("exact_parts")))
    agg = sketches.join(exact, "l_returnflag")
    within = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact)) <= 0.05 * F.col(exact))
    return (agg.select(
        "l_returnflag", "n_rows", "exact_orders", "exact_parts",
        within("_ao", "exact_orders").alias("hll_orders_ok"),
        within("_ap", "exact_parts").alias("hll_parts_ok"),
        ((F.col("_amed") >= F.col("_pb").getItem(0))
         & (F.col("_amed") <= F.col("_pb").getItem(1))).alias("approx_med_ok"))
        .orderBy("l_returnflag"))


_Q39_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS hll_orders_ok,
       TRUE AS hll_parts_ok,
       TRUE AS approx_med_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q89_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-group HLL sketches union-merged to
    a corpus total — the pattern that replaces global exact distincts
    at 100 TB (sketch each partition/group once, merge the fixed-size
    binaries centrally; no second scan, no distinct shuffle).

    q39 bounds single sketches; this query proves MERGEABILITY, the
    property that makes sketches the scale path: (a) every per-group
    estimate is within 5 % of its exact distinct (lgK=12 → rsd ≈ 1.6 %,
    so 5 % ≈ 3σ), (b) the union of the per-group sketches is within
    the same bound of the GLOBAL exact distinct — merging loses no
    accuracy — and (c) so is the direct whole-corpus sketch. (Union
    and direct estimates are NOT asserted bit-equal: datasketches
    promotes sparse→dense representations during union, which can
    shift the estimate within bound — observed at sf0.1.) The oracle
    computes the exact counts and asserts the three booleans as
    literal TRUE.

    The exact distincts exist here only as the verification yardstick
    (they are the expensive plan the sketch path replaces).
    """
    register_tables(spark, sf_dir)
    ev = spark.table("events")
    per = (ev.groupBy("event_type")
           .agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"),
                F.countDistinct("user_id").alias("exact_g"),
                F.count(F.lit(1)).alias("n")))
    rolled = per.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n").cast("bigint").alias("n_events"),
        # coalesce: an all-NULL-user_id group yields a NULL sketch and
        # exact_g = 0; without it the comparison is NULL and bool_and
        # would silently drop the group from the check
        F.expr("bool_and(abs(coalesce(hll_sketch_estimate(sk), 0) "
               "- exact_g) <= 0.05 * exact_g)")
         .alias("groups_within_bound"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk, true))")
         .alias("_union_est"))
    whole = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
         .alias("_direct_est"))
    return (rolled.crossJoin(F.broadcast(whole))
            .select(
                "n_groups", "n_events", "exact_users",
                "groups_within_bound",
                (F.abs(F.col("_union_est") - F.col("exact_users"))
                 <= 0.05 * F.col("exact_users")).alias("union_within_bound"),
                (F.abs(F.col("_direct_est") - F.col("exact_users"))
                 <= 0.05 * F.col("exact_users"))
                .alias("direct_within_bound")))


_Q89_ORACLE = """
-- n_groups counts groupBy groups, which INCLUDE a NULL event_type
-- group; COUNT(DISTINCT x) alone excludes NULLs, so add the NULL
-- group back when any row has a NULL event_type.
SELECT CAST(COUNT(DISTINCT event_type)
            + CASE WHEN COUNT(*) > COUNT(event_type) THEN 1 ELSE 0 END
            AS BIGINT) AS n_groups,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS groups_within_bound,
       TRUE AS union_within_bound,
       TRUE AS direct_within_bound
FROM events
"""


def q101_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity-order revenue: per-brand revenue
    from lineitems whose quantity is below half that PART's average —
    the correlated per-group aggregate that re-joins its own fact table
    (aggregate lineitem by part, join back to lineitem rows).

    q23 covers the GLOBAL scalar subquery; this is the per-key form,
    whose plan is structurally different: a partial-agg shuffle of the
    fact keyed on l_partkey, rejoined to the same scan on the same key
    (one exchange reused), then the brand dim join and a tiny final
    aggregate. The per-part average goes through exact DECIMAL before
    the half-threshold double, so the selection predicate is
    bit-deterministic in both engines.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    part = spark.table("part")
    half_avg = (li.groupBy(F.col("l_partkey").alias("pk"))
                .agg(((F.sum(_dec("l_quantity")).cast("double")
                       / F.count(F.lit(1))) * 0.5).alias("half_avg")))
    small = (li.join(half_avg, li.l_partkey == half_avg.pk)
             .filter(F.col("l_quantity") < F.col("half_avg")))
    return (small
            .join(F.broadcast(part.select("p_partkey", "p_brand")),
                  small.l_partkey == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg((F.sum(_dec("l_extendedprice")).cast("double") / 7.0)
                 .alias("avg_yearly"),
                 F.count(F.lit(1)).alias("n_small_lines"))
            .orderBy("p_brand"))


_Q101_ORACLE = """
WITH half AS (
  SELECT l_partkey AS pk,
         (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
          / COUNT(*)) * 0.5 AS half_avg
  FROM lineitem GROUP BY l_partkey)
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_small_lines
FROM lineitem l
JOIN half ON half.pk = l.l_partkey
JOIN part ON p_partkey = l.l_partkey
WHERE l.l_quantity < half.half_avg
GROUP BY p_brand
ORDER BY p_brand
"""


def q105_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier: for each qualifying part,
    the EUROPE supplier(s) offering it at the lowest observed unit
    cost — the correlated-MIN-with-join-back shape (aggregate, min per
    group, equality join back to recover the argmin rows) that q33's
    window-based top-1 deliberately does NOT cover: at 100 TB the
    join-back form lets both aggregates reuse ONE shuffle on the part
    key, where a window would sort every group.

    (This corpus has no partsupp table, so the supply cost is the
    minimum observed l_extendedprice/l_quantity per (part, supplier) —
    same plan shape, lineitem standing in for partsupp.)

    Scale shape: lineitem aggregates on (l_partkey, l_suppkey) — one
    shuffle; the per-part MIN and the join-back both key on l_partkey
    (exchange reuse); region/nation broadcast by size-based planning;
    the final order is TakeOrderedAndProject via limit.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    sup = spark.table("supplier")
    nat = spark.table("nation")
    reg = spark.table("region")
    part = spark.table("part")

    europe_sup = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    supply = (li.join(europe_sup, li.l_suppkey == F.col("s_suppkey"))
              .groupBy("l_partkey", "s_suppkey", "s_name", "s_acctbal",
                       "n_name")
              .agg(F.min(F.col("l_extendedprice").cast("double")
                         / F.col("l_quantity").cast("double"))
                   .alias("cost")))
    target = part.filter((F.col("p_size") <= 10)
                         & (F.col("p_type") == "STANDARD")) \
        .select("p_partkey", "p_size")
    supply_t = supply.join(target, supply.l_partkey == F.col("p_partkey"))
    minc = (supply_t.groupBy(F.col("p_partkey").alias("mk"))
            .agg(F.min("cost").alias("min_cost")))
    return (supply_t
            .join(minc, (supply_t.p_partkey == minc.mk)
                  & (supply_t.cost == minc.min_cost))
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "p_size", "cost")
            .orderBy(F.desc("s_acctbal"), F.asc("n_name"),
                     F.asc("s_name"), F.asc("p_partkey"))
            .limit(100))


_Q105_ORACLE = """
WITH esup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'),
supply AS (
  SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
         MIN(CAST(l_extendedprice AS DOUBLE)
             / CAST(l_quantity AS DOUBLE)) AS cost
  FROM lineitem JOIN esup ON s_suppkey = l_suppkey
  GROUP BY l_partkey, s_suppkey, s_name, s_acctbal, n_name),
target AS (
  SELECT p_partkey, p_size FROM part
  WHERE p_size <= 10 AND p_type = 'STANDARD'),
st AS (
  SELECT * FROM supply JOIN target ON p_partkey = l_partkey),
minc AS (
  SELECT p_partkey AS mk, MIN(cost) AS min_cost
  FROM st GROUP BY p_partkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_size, cost
FROM st JOIN minc ON mk = p_partkey AND cost = min_cost
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""


def q106_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped dominant suppliers: suppliers who shipped MORE
    THAN HALF of some part's total early-window volume — the two-level
    correlated aggregate (per part-supplier vs per part) whose ratio
    predicate selects the suppliers, plus the dimension join out.

    The majority predicate is decided in EXACT decimal arithmetic
    (2 * qty_ps > qty_p — no division, no doubles), so the selection
    is bit-deterministic in both engines.

    Scale shape: both aggregates shuffle on l_partkey (the finer
    (part, supplier) grain first, the per-part total as a second
    partial over the SAME key — exchange reuse, no second fact scan in
    the reused-exchange plan); the shipdate window is a plain pushed
    predicate; supplier/nation joins are size-based/broadcast.
    """
    register_tables(spark, sf_dir)
    li = (spark.table("lineitem")
          .filter(F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    sup = spark.table("supplier")
    nat = spark.table("nation")

    per_ps = (li.groupBy("l_partkey", "l_suppkey")
              .agg(F.sum(_dec("l_quantity")).alias("qty_ps")))
    per_p = (li.groupBy(F.col("l_partkey").alias("pk"))
             .agg(F.sum(_dec("l_quantity")).alias("qty_p")))
    dom = (per_ps.join(per_p, per_ps.l_partkey == per_p.pk)
           .filter(F.col("qty_ps") * 2 > F.col("qty_p")))
    per_sup = (dom.groupBy("l_suppkey")
               .agg(F.count(F.lit(1)).alias("n_dominated"),
                    F.sum("qty_ps").cast("double").alias("dominated_qty")))
    return (per_sup
            .join(sup, per_sup.l_suppkey == sup.s_suppkey)
            .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
            .select("s_name", "n_name", "n_dominated", "dominated_qty")
            .orderBy(F.desc("n_dominated"), F.asc("s_name"))
            .limit(50))


_Q106_ORACLE = """
WITH li AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'),
per_ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_ps
  FROM li GROUP BY l_partkey, l_suppkey),
per_p AS (
  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_p
  FROM li GROUP BY l_partkey),
dom AS (
  SELECT l_suppkey, qty_ps
  FROM per_ps JOIN per_p ON pk = l_partkey
  WHERE qty_ps * 2 > qty_p),
per_sup AS (
  SELECT l_suppkey, COUNT(*) AS n_dominated,
         CAST(SUM(qty_ps) AS DOUBLE) AS dominated_qty
  FROM dom GROUP BY l_suppkey)
SELECT s_name, n_name, n_dominated, dominated_qty
FROM per_sup
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
ORDER BY n_dominated DESC, s_name ASC
LIMIT 50
"""


def q109_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped idle high-balance customers: customers whose
    balance beats the positive-balance average but who placed no order
    since 2000-01-01, grouped per nation — the scalar-threshold +
    anti-join + dim-group COMPOSITION (q23 has the scalar alone, q08
    the anti alone; Q22's point is running them in one plan; the date
    cutoff stands in for Q22's no-orders-at-all predicate, which is
    vacuous on this corpus where every customer has ordered).

    The threshold average is exact-decimal (sum DECIMAL / count), so
    the selection predicate is bit-deterministic; the anti join runs
    on o_custkey before any dimension work so the orders fact is
    touched once, semi-reduced.

    Scale shape: the scalar aggregate is a broadcast 1-row side; the
    anti join shuffles customer vs orders on the customer key (AQE
    skew-handled); nation is a broadcast dim; one final tiny group.
    """
    register_tables(spark, sf_dir)
    cust = spark.table("customer")
    orders = spark.table("orders")
    nat = spark.table("nation")

    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1)))
        .alias("avg_bal"))
    rich = (cust.crossJoin(F.broadcast(thr))
            .filter(F.col("c_acctbal") > F.col("avg_bal")))
    recent = (orders
              .filter(F.col("o_orderdate")
                      >= F.lit("2000-01-01").cast("timestamp"))
              .select(F.col("o_custkey")))
    idle = rich.join(recent, rich.c_custkey == F.col("o_custkey"),
                     "left_anti")
    return (idle
            .join(F.broadcast(nat), idle.c_nationkey == nat.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"))
            .orderBy("n_name"))


_Q109_ORACLE = """
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
           AS avg_bal
  FROM customer WHERE c_acctbal > 0),
idle AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
  FROM customer c, thr
  WHERE c.c_acctbal > thr.avg_bal
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
SELECT n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM idle JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_name ORDER BY n_name
"""


#: Heavy-hitter report depth for the skew profile.
SKEW_TOP = 10


def q110_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnostic: the per-key frequency profile of
    the events fact's shuffle key (user_id) — heavy hitters, each
    key's share of the table, and the skew ratio (top count over the
    per-key mean). This is the measurement that DECIDES the salting /
    AQE-skew strategy (`operators/skew.py`, q37): at 100 TB you run
    this profile before picking a partitioning, not after the first
    straggler.

    Scale shape: one count aggregate on the key (the same shuffle the
    downstream job would do, so the profile costs what one groupBy
    costs), then TakeOrderedAndProject for the top-N and a broadcast
    1-row global side for shares — no global sort, no second scan of
    the fact.
    """
    register_tables(spark, sf_dir)
    ev = spark.table("events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    glob = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"))
    top = (per_key
           .orderBy(F.col("cnt").desc(), F.col("user_id").asc())
           .limit(SKEW_TOP))
    w = W.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
    return (top.crossJoin(F.broadcast(glob))
            .select(F.row_number().over(w).alias("rank"),
                    "user_id", "cnt",
                    (F.col("cnt").cast("double") / F.col("n_rows"))
                    .alias("share"),
                    (F.col("cnt").cast("double")
                     / (F.col("n_rows").cast("double") / F.col("n_keys")))
                    .alias("skew_ratio"),
                    "n_keys", "n_rows")
            .orderBy("rank"))


_Q110_ORACLE = f"""
WITH per_key AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
gstats AS (
  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows
  FROM per_key),
hh AS (
  SELECT user_id, cnt FROM per_key
  ORDER BY cnt DESC, user_id ASC LIMIT {SKEW_TOP})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS INTEGER)
         AS rank,
       user_id, cnt,
       CAST(cnt AS DOUBLE) / n_rows AS share,
       CAST(cnt AS DOUBLE) / (CAST(n_rows AS DOUBLE) / n_keys)
         AS skew_ratio,
       CAST(n_keys AS BIGINT) AS n_keys, n_rows
FROM hh CROSS JOIN gstats
ORDER BY rank
"""


#: Count-min sketch geometry: d independent hash rows x w counters.
#: Width 512 bounds overcount by ~2N/w with d=4 rows taking the min;
#: the hash family is arithmetic ((a*k + b) mod P mod w, P = 2^31-1)
#: so BOTH engines can recompute it bit-identically — the same reason
#: q51's minhash uses explicit integer hashing.
CMS_D_PARAMS = ((0, 131, 7), (1, 137, 11), (2, 139, 13), (3, 149, 17))
CMS_W = 512
CMS_P = 2147483647


def q118_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation: build a d x w CMS over
    the events fact's user_id, then report the top-N exact heavy
    hitters alongside their CMS estimates and overcounts — proving the
    sketch's one-sided guarantee (estimate >= exact, asserted as a
    literal boolean both engines compute).

    This is the mergeable FREQUENCY sketch companion to q89's
    cardinality (HLL) rollup: per-partition CMS grids merge by plain
    counter addition — here that merge IS the map-side partial
    aggregate of the (row, bucket) groupBy, so the shuffle carries at
    most d*w rows per map partition no matter how many events flow in.
    At 100 TB the d*w = 2048-cell grid replaces a full per-key count
    when only approximate frequencies (top-k candidates, skew
    detection feeding q37/q110) are needed.

    The exact per-key counts appear here only as the verification
    yardstick — they are the expensive plan the sketch replaces.
    """
    register_tables(spark, sf_dir)
    ev = spark.table("events")

    def buckets(key: F.Column) -> F.Column:
        return F.array(*[
            ((F.lit(a) * key + F.lit(b)) % CMS_P % CMS_W).cast("bigint")
            for _, a, b in CMS_D_PARAMS])

    counters = (ev.select(F.posexplode(buckets(F.col("user_id")))
                          .alias("row_i", "bucket"))
                .groupBy("row_i", "bucket")
                .agg(F.count(F.lit(1)).alias("c")))
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = (per_key
           .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
           .limit(SKEW_TOP))
    probes = top.select(
        "user_id", "exact_cnt",
        F.posexplode(buckets(F.col("user_id"))).alias("row_i", "bucket"))
    est = (probes
           .join(F.broadcast(counters), ["row_i", "bucket"])
           .groupBy("user_id", "exact_cnt")
           .agg(F.min("c").alias("cms_est")))
    w = W.orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
    return (est
            .select(F.row_number().over(w).alias("rank"),
                    "user_id", "exact_cnt", "cms_est",
                    (F.col("cms_est") - F.col("exact_cnt"))
                    .alias("overcount"),
                    (F.col("cms_est") >= F.col("exact_cnt"))
                    .alias("never_undercounts"))
            .orderBy("rank"))


_CMS_HASH_ROWS = ", ".join(f"({i}, {a}, {b})" for i, a, b in CMS_D_PARAMS)

_Q118_ORACLE = f"""
WITH hashes(row_i, a, b) AS (VALUES {_CMS_HASH_ROWS}),
counters AS (
  SELECT row_i, ((a * user_id + b) % {CMS_P}) % {CMS_W} AS bucket,
         COUNT(*) AS c
  FROM events CROSS JOIN hashes
  GROUP BY 1, 2),
per_key AS (
  SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id),
top AS (
  SELECT user_id, exact_cnt FROM per_key
  ORDER BY exact_cnt DESC, user_id ASC LIMIT {SKEW_TOP}),
est AS (
  SELECT t.user_id, t.exact_cnt, MIN(c.c) AS cms_est
  FROM top t CROSS JOIN hashes h
  JOIN counters c
    ON c.row_i = h.row_i
   AND c.bucket = ((h.a * t.user_id + h.b) % {CMS_P}) % {CMS_W}
  GROUP BY 1, 2)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, user_id ASC)
            AS INTEGER) AS rank,
       user_id, exact_cnt, cms_est,
       cms_est - exact_cnt AS overcount,
       cms_est >= exact_cnt AS never_undercounts
FROM est ORDER BY rank
"""


#: Equi-width histogram resolution for the quantile sketch (q120).
HIST_BINS = 256


def q120_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantile estimation: a fixed 256-bin
    equi-width histogram over l_extendedprice, quantiles read off the
    cumulative bin counts, verified against the exact interpolated
    percentiles with a 2-bin-width bound both engines assert as
    literal booleans.

    Completes the mergeable-sketch trio: q89 (HLL, cardinality), q118
    (count-min, frequency), and this (histogram, quantiles). Bin
    counts merge by addition, so the map-side partial aggregate IS the
    sketch merge — at 100 TB the 256-cell grid replaces the full sort
    that exact percentiles (q38) require, at bounded error.

    Determinism: bin indexing is pure double arithmetic (subtract,
    divide, multiply, floor) on identical inputs — every step IEEE
    correctly-rounded, hence bit-identical across engines. Estimates
    are bin LOWER EDGES (no interpolation), so they are exact
    functions of the bin counts. The exact percentiles appear only
    inside the tolerance booleans (the 2-bin bound absorbs the
    engines' interpolation-formula differences AND the off-by-one
    between the histogram's ceil(p*n) rank rule and the interpolated
    rank p*(n-1)+1).
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    # ONE percentile(col, array(...)) instead of three scalar
    # percentile() calls: each scalar call builds and merges its own
    # O(distinct-values) value-count map before sorting it, so three
    # calls tripled the dominant cost (measured 5.1s -> 1.8s for the
    # aggregate alone at sf0.1; guide §1.2 "per-task work"). The array
    # form evaluates every requested p from the SAME sorted count map
    # with the same interpolation arithmetic, so each returned value
    # is bit-identical to its scalar twin (oracle-verified).
    stats = (li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))")
         .alias("ex_p"))
        .select("mn", "mx", "n",
                F.col("ex_p")[0].alias("ex_p50"),
                F.col("ex_p")[1].alias("ex_p90"),
                F.col("ex_p")[2].alias("ex_p99")))
    # span guarded against a constant column (mx == mn): GREATEST with
    # a tiny literal keeps the divisor non-zero without changing any
    # real span's bits (both engines' GREATEST are identical here)
    span = F.greatest(F.col("mx") - F.col("mn"), F.lit(1e-300))
    binned = (li.crossJoin(F.broadcast(stats))
              .select(F.least(
                  F.floor((F.col("l_extendedprice") - F.col("mn"))
                          / span * HIST_BINS),
                  F.lit(HIST_BINS - 1)).alias("bin")))
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.select(
        "bin", "c",
        F.sum("c").over(W.orderBy("bin")
                        .rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"))

    def est(p: float) -> F.Column:
        # lower edge of the first bin whose cumulative count reaches
        # the ceil(p*n) rank
        thresh = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        idx = F.min(F.when(F.col("cum") >= thresh, F.col("bin")))
        return (F.col("mn") + (F.col("mx") - F.col("mn"))
                * idx.cast("double") / HIST_BINS)

    agg = (cum.crossJoin(F.broadcast(stats))
           .groupBy("mn", "mx", "n", "ex_p50", "ex_p90", "ex_p99")
           .agg(F.count(F.lit(1)).alias("n_bins_used"),
                est(0.5).alias("est_p50"),
                est(0.9).alias("est_p90"),
                est(0.99).alias("est_p99")))
    width = (F.col("mx") - F.col("mn")) / HIST_BINS
    return agg.select(
        "n", "n_bins_used", "est_p50", "est_p90", "est_p99",
        (F.abs(F.col("est_p50") - F.col("ex_p50")) <= 2 * width)
        .alias("p50_within_2bins"),
        (F.abs(F.col("est_p90") - F.col("ex_p90")) <= 2 * width)
        .alias("p90_within_2bins"),
        (F.abs(F.col("est_p99") - F.col("ex_p99")) <= 2 * width)
        .alias("p99_within_2bins"))


_Q120_ORACLE = f"""
WITH stats AS (
  SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx,
         COUNT(*) AS n,
         QUANTILE_CONT(l_extendedprice, 0.5) AS ex_p50,
         QUANTILE_CONT(l_extendedprice, 0.9) AS ex_p90,
         QUANTILE_CONT(l_extendedprice, 0.99) AS ex_p99
  FROM lineitem),
hist AS (
  SELECT LEAST(FLOOR((l_extendedprice - mn)
                     / GREATEST(mx - mn, 1e-300) * {HIST_BINS}),
               {HIST_BINS - 1}) AS bin, COUNT(*) AS c
  FROM lineitem CROSS JOIN stats
  GROUP BY 1),
cum AS (
  SELECT bin, c, SUM(c) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist),
agg AS (
  SELECT mn, mx, n, ex_p50, ex_p90, ex_p99,
         COUNT(*) AS n_bins_used,
         mn + (mx - mn) * CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.5 * n) AS BIGINT)
                                        THEN bin END) AS DOUBLE) / {HIST_BINS}
           AS est_p50,
         mn + (mx - mn) * CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.9 * n) AS BIGINT)
                                        THEN bin END) AS DOUBLE) / {HIST_BINS}
           AS est_p90,
         mn + (mx - mn) * CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.99 * n) AS BIGINT)
                                        THEN bin END) AS DOUBLE) / {HIST_BINS}
           AS est_p99
  FROM cum CROSS JOIN stats
  GROUP BY mn, mx, n, ex_p50, ex_p90, ex_p99)
SELECT n, CAST(n_bins_used AS BIGINT) AS n_bins_used,
       est_p50, est_p90, est_p99,
       ABS(est_p50 - ex_p50) <= 2 * (mx - mn) / {HIST_BINS} AS p50_within_2bins,
       ABS(est_p90 - ex_p90) <= 2 * (mx - mn) / {HIST_BINS} AS p90_within_2bins,
       ABS(est_p99 - ex_p99) <= 2 * (mx - mn) / {HIST_BINS} AS p99_within_2bins
FROM agg
"""


def q100_blocking_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped suppliers-who-kept-orders-waiting: for each
    supplier, count multi-supplier orders where THIS supplier's line
    was returned ('R') and no other supplier's line in the order was —
    the classic double fact-self-join (one EXISTS, one NOT EXISTS)
    that exercises semi + anti join planning on the same large table.

    (The canonical Q21 uses receipt-vs-commit dates; this corpus has
    no commit/receipt columns, so the returnflag marks the "failing"
    line — same plan shape, different predicate.)

    Scale shape: both self-joins shuffle on l_orderkey — the SAME key,
    so Catalyst reuses one exchange of the fact table across the semi
    and anti sides instead of re-shuffling; supplier/nation join
    size-based (supplier grows with SF — never pinned broadcast, see
    q03's rule); final top-k is TakeOrderedAndProject.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    sup = spark.table("supplier")
    nat = spark.table("nation")
    failed = li.filter(F.col("l_returnflag") == "R") \
        .select("l_orderkey", "l_suppkey")
    others = (li.select(F.col("l_orderkey").alias("o_k"),
                        F.col("l_suppkey").alias("s_k")))
    other_failed = (li.filter(F.col("l_returnflag") == "R")
                    .select(F.col("l_orderkey").alias("o_k"),
                            F.col("l_suppkey").alias("s_k")))
    blocking = (
        failed
        # EXISTS: some other supplier participated in the order
        .join(others, (F.col("l_orderkey") == F.col("o_k"))
              & (F.col("l_suppkey") != F.col("s_k")), "left_semi")
        # NOT EXISTS: no other supplier's line in the order failed
        .join(other_failed, (F.col("l_orderkey") == F.col("o_k"))
              & (F.col("l_suppkey") != F.col("s_k")), "left_anti"))
    return (blocking
            .join(sup, blocking.l_suppkey == sup.s_suppkey)
            .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
            .groupBy("s_name", "n_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.desc("numwait"), F.asc("s_name"))
            .limit(20))


_Q100_ORACLE = """
SELECT s_name, n_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s_name, n_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q34_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows over events (batch form of the streaming
    windowed agg in streaming/), with a JSON-extracted measure from the
    semi-structured props payload (absorbed from the former q30 — JSON
    extraction stays a plain column expression, so it runs inside the
    scan's codegen stage and never blocks predicate pushdown on the
    other columns)."""
    register_tables(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"),
                   "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
             F.countDistinct("user_id").alias("n_users"),
             F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_sum"),
             F.max(F.get_json_object("props", "$.k").cast("bigint")).alias("k_max"))
        .filter(F.col("n") >= 5)
        .orderBy("window_start", "event_type")
    )


_Q34_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(MAX(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
FROM events
GROUP BY 1, 2 HAVING COUNT(*) >= 5
ORDER BY window_start, event_type
"""


def q112_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: count orders per priority
    class in one quarter where at least one of the order's lines was
    returned — the EXISTS-against-the-fact shape whose point is that
    the subquery becomes a SEMI join (each order contributes once no
    matter how many lines match), never an inner join + distinct.

    (Canonical Q4's predicate is l_commitdate < l_receiptdate; this
    corpus carries neither column, so the returnflag marks the
    "problem" line — same plan, same semantics.)

    Scale shape: the quarter filter reaches the orders parquet scan
    (partition/row-group pruning on o_orderdate at real layouts); the
    semi join shuffles both facts on the order key once; the final
    aggregate is 5 groups, map-side combined.
    """
    register_tables(spark, sf_dir)
    orders = spark.table("orders")
    li = spark.table("lineitem")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp")))
    flagged = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (window
            .join(flagged, window.o_orderkey == flagged.l_orderkey,
                  "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


_Q112_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate <  TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q113_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped dual conditional count: per ship quarter of
    1997, how many lines belong to critical-priority orders (1-URGENT
    / 2-HIGH) vs the rest — the two-CASE-sums-in-one-pass shape that
    replaces two filtered scans with one.

    (Canonical Q12 groups by l_shipmode, which this corpus lacks; the
    ship quarter is the grouping stand-in — the aggregate shape, a
    fact-fact join feeding conditional counts, is the point.)

    Scale shape: one lineitem-orders shuffle join on the order key;
    the CASE expressions are codegen'd into the aggregate so the fact
    is read once; four output groups.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    orders = spark.table("orders")
    joined = (li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey")))
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (joined
            .groupBy(F.quarter("l_shipdate").alias("ship_quarter"))
            .agg(F.sum(F.when(crit, 1).otherwise(0)).cast("bigint")
                 .alias("high_line_count"),
                 F.sum(F.when(crit, 0).otherwise(1)).cast("bigint")
                 .alias("low_line_count"))
            .orderBy("ship_quarter"))


_Q113_ORACLE = """
SELECT CAST(QUARTER(l_shipdate) AS INTEGER) AS ship_quarter,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY ship_quarter
"""


def q114_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion effect: the percentage of one
    month's gross discounted revenue that came from PROMO-type parts —
    a conditional-sum over a fact-dim join collapsing to ONE row.

    Determinism: both sums are exact decimals; only the final ratio is
    a double division, and it is the SAME two exact doubles divided in
    both engines, so the quotient is bit-identical (IEEE division is
    correctly rounded).

    Scale shape: month filter pushed to the lineitem scan; part is a
    broadcast dim (grows with SF but stays ~1e-3 of the fact — pinned
    broadcast like q05's dims); aggregate is map-only after the
    broadcast join, no shuffle of the fact at all.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    part = spark.table("part")
    rev = _dec("l_extendedprice") * (_one() - _rate("l_discount"))
    joined = (li.filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp")))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")))
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev)
              .otherwise(F.lit(0).cast("decimal(12,2)")))
        .cast("double").alias("promo_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"))
    return agg.select(
        "promo_revenue", "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"))
        .alias("promo_pct"))


_Q114_ORACLE = """
WITH agg AS (
  SELECT
    CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
      AS DOUBLE) AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
    AND l_shipdate <  TIMESTAMP '1997-10-01')
SELECT promo_revenue, total_revenue,
       100.0 * promo_revenue / total_revenue AS promo_pct
FROM agg
"""


def q115_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: per-supplier revenue over one
    quarter, then the supplier(s) achieving the maximum — the
    aggregate-then-join-back-on-its-own-max shape (canonical Q15's
    revenue view + scalar MAX subquery).

    Equality on the revenue double is sound here because both sides of
    the comparison come from the SAME exact-decimal aggregate: the max
    is max over exactly-represented sums, so `rev = max_rev` is an
    exact-value match, not a float tolerance.

    Scale shape: the revenue aggregate shuffles the fact once on
    l_suppkey; the MAX is a 1-row broadcast back onto that SAME
    aggregated (already small) frame — no second scan of the fact;
    supplier join is size-based.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    sup = spark.table("supplier")
    # The explicit isnotnull mirrors the constraint the later inner
    # join infers on the main branch: with it, the revenue aggregate's
    # two consumers (the join input and the MAX side) are IDENTICAL
    # subtrees, so ReuseExchange computes the fact scan + shuffle once.
    rev = (li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        & F.col("l_suppkey").isNotNull())
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_extendedprice") * (_one() - _rate("l_discount")))
             .cast("double").alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (rev.crossJoin(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("max_revenue"))
            .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


_Q115_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
           AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q116_parts_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped part/supplier relationship census: how many
    DISTINCT suppliers ship each (brand, type) combination, excluding
    a computed supplier denylist (negative account balance — canonical
    Q16 excludes complaint suppliers via NOT IN) — the
    count-distinct-after-exclusion shape.

    (No partsupp table in this corpus; the lineitem fact IS the
    observed part-supplier relation, which is the same census at
    bigger input size — a harder, more realistic plan.)

    Scale shape: the denylist is a tiny aggregate broadcast as an ANTI
    join (never a NOT IN against an unindexed subquery at runtime);
    part is a broadcast dim; the exact COUNT(DISTINCT suppkey) is the
    one necessary shuffle, on the (brand,type) group key after
    map-side partial dedup.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    part = spark.table("part")
    sup = spark.table("supplier")
    # explicit NULL guards on both sides: SQL NOT IN filters a NULL
    # l_suppkey (and empties entirely on a NULL in the denylist) while
    # a left_anti join keeps it — the data has no NULL keys, but the
    # semantics must not depend on that
    deny = sup.filter(F.col("s_acctbal") < 0) \
              .filter(F.col("s_suppkey").isNotNull()).select("s_suppkey")
    return (li
            .filter(F.col("l_suppkey").isNotNull())
            .join(F.broadcast(deny),
                  F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
            .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .filter(F.col("p_brand") != "Brand#9")
            .groupBy("p_brand", "p_type")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"),
                     F.asc("p_type")))


_Q116_ORACLE = """
SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9'
  AND l_suppkey IS NOT NULL
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0 AND s_suppkey IS NOT NULL)
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC
"""


def q117_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue: an OR of three
    brand/size/quantity conjunct groups across the lineitem-part join
    — the classic test that the optimizer (a) extracts the common
    join key so the OR never degrades to a cartesian filter and (b)
    factors the part-only disjuncts (brand IN (...)) down to the dim
    scan as a pushed filter.

    Scale shape: part side pre-filtered by the extracted brand IN
    list at the scan, then broadcast; the residual OR is a codegen'd
    row predicate after the hash join — the fact is scanned once,
    never joined more than once.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    part = spark.table("part")
    joined = li.join(F.broadcast(part),
                     F.col("l_partkey") == F.col("p_partkey"))
    case1 = ((F.col("p_brand") == "Brand#1")
             & F.col("p_size").between(1, 15)
             & F.col("l_quantity").between(1, 20))
    case2 = ((F.col("p_brand") == "Brand#11")
             & F.col("p_size").between(10, 30)
             & F.col("l_quantity").between(10, 30))
    case3 = ((F.col("p_brand") == "Brand#22")
             & F.col("p_size").between(20, 50)
             & F.col("l_quantity").between(20, 40))
    return (joined.filter(case1 | case2 | case3)
            .agg(F.sum(_dec("l_extendedprice") * (_one() - _rate("l_discount")))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines")))


_Q117_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
         AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15
       AND l_quantity BETWEEN 1  AND 20)
   OR (p_brand = 'Brand#11' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


def q124_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-order customers: orders whose
    TOTAL lineitem quantity exceeds a threshold, joined back to
    customer and re-aggregated — the canonical IN-over-grouped-HAVING
    shape (the one Q-shape the registry lacked).

    Scale shape: the grouped HAVING runs as a partial+final agg on
    l_orderkey (map-side combine takes most of the reduction), and the
    qualifying-key set joins the fact as a SEMI join on the SAME key —
    Catalyst reuses the exchange, so the fact shuffles once. Customer
    attaches as a broadcast dim at the end, after the data has shrunk
    to qualifying orders.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    orders = spark.table("orders")
    cust = spark.table("customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
           .filter(F.col("total_qty") > F.lit(150)))
    return (li.join(big.select("l_orderkey"), "l_orderkey", "left_semi")
            .join(orders.select("o_orderkey", "o_custkey", "o_orderdate",
                                "o_totalprice"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust.select("c_custkey", "c_name")),
                  F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                     "o_totalprice")
            .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(50))


_Q124_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 50
"""


def q125_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: revenue flowing between
    two chosen nations (supplier nation ≠ customer nation, BOTH
    directions), split by year — the two-sided dimension join where the
    same tiny table (nation) attaches twice under different roles.

    Scale shape: both nation joins and both key bridges (supplier,
    customer) are broadcasts; the only shuffle is the final
    (supp_nation, cust_nation, year) aggregate over a fact already cut
    by the pushed date filter. The asymmetric-pair OR predicate sits on
    broadcast-joined columns, so it never blocks the broadcast plan.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    orders = spark.table("orders")
    cust = spark.table("customer")
    sup = spark.table("supplier")
    nation = spark.table("nation").select("n_nationkey", "n_name")
    supp_n = (sup.join(F.broadcast(nation),
                       F.col("s_nationkey") == F.col("n_nationkey"))
              .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust_n = (cust.join(F.broadcast(nation),
                        F.col("c_nationkey") == F.col("n_nationkey"))
              .select("c_custkey", F.col("n_name").alias("cust_nation")))
    pair = ((F.col("supp_nation") == "NATION_3")
            & (F.col("cust_nation") == "NATION_7")) | \
           ((F.col("supp_nation") == "NATION_7")
            & (F.col("cust_nation") == "NATION_3"))
    return (li
            .filter(F.col("l_shipdate").between(
                F.lit("1996-01-01 00:00:00").cast("timestamp"),
                F.lit("1997-12-31 23:59:59").cast("timestamp")))
            .join(orders.select("o_orderkey", "o_custkey"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(supp_n),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(cust_n),
                  F.col("o_custkey") == F.col("c_custkey"))
            .filter(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").alias("l_year"))
            .agg(F.sum(_dec("l_extendedprice") * (_one() - _rate("l_discount")))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


_Q125_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(vol) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
           AS vol
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 23:59:59'
    AND ((ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7')
      OR (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3')))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q126_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped value-concentration census: parts whose shipped
    value exceeds a FIXED FRACTION of the corpus-wide total — the
    grouped-aggregate-vs-global-scalar-threshold shape (q23 is the
    global scalar alone; q101 the per-key correlated form; this is the
    group-vs-global hybrid Q11 pins).

    Scale shape: one partial+final agg on l_partkey produces the group
    sums; the global total is the SAME aggregate re-reduced (tiny), and
    joins back as a broadcast 1-row cross — no second fact scan in
    Spark (the grouped frame is reused for both), no shuffle beyond the
    one group-by. Exact DECIMAL sums make the 0.1% threshold
    bit-deterministic in both engines.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    per_part = (li.groupBy("l_partkey")
                .agg(F.sum(_dec("l_extendedprice")).alias("part_value")))
    total = per_part.agg(
        F.sum("part_value").alias("total_value"),
        F.count(F.lit(1)).alias("n_parts"))
    # threshold relative to the MEAN part value (1.2x) so the census
    # yields a stable fraction of parts at every scale factor; the
    # boundary is one double division + multiply in both engines, on
    # exact decimal inputs — bit-identical comparisons
    thresh = (F.col("total_value").cast("double")
              / F.col("n_parts").cast("double")) * F.lit(1.2)
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("part_value").cast("double") > thresh)
            .select("l_partkey",
                    F.col("part_value").cast("double").alias("part_value"),
                    (F.col("part_value").cast("double")
                     / F.col("total_value").cast("double")).alias("share"))
            .orderBy(F.desc("part_value"), F.asc("l_partkey")))


_Q126_ORACLE = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS part_value
  FROM lineitem GROUP BY l_partkey),
total AS (SELECT SUM(part_value) AS total_value,
                 COUNT(*) AS n_parts FROM per_part)
SELECT l_partkey,
       CAST(part_value AS DOUBLE) AS part_value,
       CAST(part_value AS DOUBLE) / CAST(total_value AS DOUBLE) AS share
FROM per_part CROSS JOIN total
WHERE CAST(part_value AS DOUBLE)
      > CAST(total_value AS DOUBLE) / CAST(n_parts AS DOUBLE) * 1.2
ORDER BY part_value DESC, l_partkey ASC
"""


def q132_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped national market share: within ASIA customers'
    ECONOMY-part order volume, the revenue fraction supplied by
    NATION_3, per year — the share-of-aggregate pattern where the
    numerator is a conditional sum INSIDE the same group (never a
    second scan or self-join).

    Scale shape: five dimension attachments, all broadcast (region and
    nation are schema-bounded; supplier/customer bridges pre-projected
    to key+nation); the fact shuffles once for the final year group.
    The share is exact-decimal numerator/denominator with one double
    division at the end — bit-deterministic in both engines.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    orders = spark.table("orders")
    cust = spark.table("customer")
    sup = spark.table("supplier")
    part = spark.table("part")
    nation = spark.table("nation").select("n_nationkey", "n_name",
                                          "n_regionkey")
    region = spark.table("region").filter(F.col("r_name") == "ASIA")
    cust_in_region = (cust
                      .join(F.broadcast(nation),
                            F.col("c_nationkey") == F.col("n_nationkey"))
                      .join(F.broadcast(region),
                            F.col("n_regionkey") == F.col("r_regionkey"))
                      .select("c_custkey"))
    supp_nation = (sup.join(F.broadcast(
        nation.select(F.col("n_nationkey").alias("sn_key"),
                      F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation"))
    vol = _dec("l_extendedprice") * (_one() - _rate("l_discount"))
    return (li
            .join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")
                              .select("p_partkey")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust_in_region),
                  F.col("o_custkey") == F.col("c_custkey"), "left_semi")
            .join(F.broadcast(supp_nation),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(
                (F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                       .otherwise(F.lit(0).cast("decimal(12,2)")))
                 .cast("double")
                 / F.sum(vol).cast("double")).alias("mkt_share"),
                F.sum(vol).cast("double").alias("total_volume"),
                F.count(F.lit(1)).alias("n_lines"))
            .orderBy("o_year"))


_Q132_ORACLE = """
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(SUM(vol) AS DOUBLE) AS mkt_share,
       CAST(SUM(vol) AS DOUBLE) AS total_volume,
       COUNT(*) AS n_lines
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         ns.n_name AS supp_nation,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
           AS vol
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region   ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey)
GROUP BY o_year
ORDER BY o_year
"""


def q133_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit by supplier nation and year: revenue
    minus a part-derived cost proxy (1% of retail price per unit — the
    corpus has no partsupp table), for STANDARD-type parts — the
    five-way star join with a two-term measure, grouped on a derived
    (dimension, year) pair.

    Scale shape: part and the supplier→nation bridge broadcast; orders
    attaches on the fact's order key; the single shuffle is the final
    (nation, year) aggregate. The measure is computed entirely in
    DECIMAL (retailprice is exact 2-decimal, quantity integral) so the
    profit sums are bit-identical across engines.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    orders = spark.table("orders")
    sup = spark.table("supplier")
    part = spark.table("part")
    nation = spark.table("nation").select("n_nationkey", "n_name")
    supp_nation = (sup.join(F.broadcast(nation),
                            F.col("s_nationkey") == F.col("n_nationkey"))
                   .select("s_suppkey", F.col("n_name").alias("nation")))
    amount = (_dec("l_extendedprice") * (_one() - _rate("l_discount"))
              - F.col("p_retailprice").cast("decimal(12,2)")
              * F.lit(0.01).cast("decimal(4,2)")
              * _dec("l_quantity"))
    return (li
            .join(F.broadcast(part.filter(F.col("p_type") == "STANDARD")
                              .select("p_partkey", "p_retailprice")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(supp_nation),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(orders.select("o_orderkey", "o_orderdate"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("nation", F.year("o_orderdate").alias("o_year"))
            .agg(F.sum(amount).cast("double").alias("sum_profit"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("nation", F.desc("o_year")))


_Q133_ORACLE = """
SELECT nation, o_year,
       CAST(SUM(amount) AS DOUBLE) AS sum_profit,
       COUNT(*) AS n_lines
FROM (
  SELECT ns.n_name AS nation,
         CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
           - CAST(p_retailprice AS DECIMAL(12,2))
             * CAST(0.01 AS DECIMAL(4,2))
             * CAST(l_quantity AS DECIMAL(12,2)) AS amount
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey AND p_type = 'STANDARD'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN orders   ON l_orderkey = o_orderkey)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


def q134_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item reporting: the 20 customers who
    lost the most revenue to returns (``l_returnflag = 'R'``) for
    orders placed in one quarter, with their nation and balance.

    Scale shape: the fact side (lineitem ⋈ orders) is reduced to one
    row per customer key FIRST — a single shuffle on ``o_custkey`` with
    map-side partial aggregation — and only then joined to the customer
    dimension, so the wide customer attributes never ride through the
    fact shuffle. Nation broadcasts. The top-20 is a global
    TakeOrdered, not a sort of the full aggregate.

    Reference: ``SpannerQueryIO`` executes arbitrary such SQL
    (``SpannerQueryIO.java:41``); shape from TPC-H Q10.
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    orders = spark.table("orders")
    cust = spark.table("customer")
    nation = spark.table("nation").select("n_nationkey", "n_name")
    rev = (li.filter(F.col("l_returnflag") == "R")
           .join(orders.filter(
                     (F.col("o_orderdate") >= "1996-01-01")
                     & (F.col("o_orderdate") < "1996-04-01"))
                 .select("o_orderkey", "o_custkey"),
                 F.col("l_orderkey") == F.col("o_orderkey"))
           .groupBy("o_custkey")
           .agg(F.sum(_dec("l_extendedprice") * (_one() - _rate("l_discount")))
                .cast("double").alias("revenue")))
    return (rev.join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
            .orderBy(F.desc("revenue"), "c_custkey")
            .limit(20))


_Q134_ORACLE = """
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM (
  SELECT o_custkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
              AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1996-04-01'
  GROUP BY o_custkey)
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q135_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: how many
    customers placed exactly N qualifying orders (non-URGENT here —
    the corpus has no o_comment), INCLUDING the zero-order customers
    the left join exists for.

    Scale shape: orders is pre-aggregated to (custkey, count) — one
    shuffle with map-side combine — then LEFT-joined to the customer
    key column only, so no row ever widens past two ints;
    ``coalesce(count, 0)`` materializes the zero bucket. The second
    aggregate groups ~tens of distinct counts: trivially small.

    Reference shape: TPC-H Q13 via the delegated-SQL source (S1).
    """
    register_tables(spark, sf_dir)
    orders = spark.table("orders")
    cust = spark.table("customer")
    per_cust = (orders.filter(F.col("o_orderpriority") != "1-URGENT")
                .groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("n_orders")))
    return (cust.select("c_custkey")
            .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
            .select(F.coalesce(F.col("n_orders"), F.lit(0))
                    .cast("bigint").alias("c_count"))
            .groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


_Q135_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey,
         CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


#: (edge label, child table, child FK column, parent table, parent key
#: column, parent-side predicate or None). The last edge checks the
#: child against a FILTERED roster snapshot — the orphan arithmetic is
#: genuinely exercised (negative-balance suppliers make it nonzero).
FK_EDGES = (
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey", None),
    ("embeddings.vec_id->documents", "embeddings", "vec_id",
     "documents", "doc_id", None),
    ("events.user_id->customer", "events", "user_id",
     "customer", "c_custkey", None),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey", None),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey", None),
    ("lineitem.l_suppkey->supplier[acctbal>=0]", "lineitem", "l_suppkey",
     "supplier", "s_suppkey", "s_acctbal >= 0"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey", None),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey", None),
)


def q157_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the data-quality sweep every
    ingestion pipeline runs before publishing a snapshot: for each
    declared FK edge, count child rows, distinct child keys, and
    orphans (non-NULL child keys with no parent), plus an ``ok`` flag.

    Scale shape: each edge is one aggregate over the child's FK column
    (map-side combined to DISTINCT keys first — the anti-join then runs
    over distinct keys, not rows) joined left-anti against the parent's
    key column. Dimension parents (region/nation/customer/part/
    supplier/documents) broadcast; the one fact-fact edge
    (lineitem->orders) shuffles on the join key, which AQE handles. At
    100 TB the distinct-keys reduction is what keeps the anti-join
    small: orphan checking never touches full child rows. The final
    result is 8 one-row aggregates unioned — O(edges) driver output.

    Reference analogue: none directly — closest is the NOT_FOUND
    accounting of the mutation family (SpannerToSpanner.java REPORT_
    FAILURES), which is the same "child key missing from parent"
    arithmetic applied at write time; this is the read-side audit.
    """
    register_tables(spark, sf_dir)
    out = None
    for label, child_t, fk, parent_t, pk, pred in FK_EDGES:
        child = spark.table(child_t)
        parent = spark.table(parent_t)
        if pred is not None:
            parent = parent.filter(F.expr(pred))
        keys = (child.select(F.col(fk).alias("k"))
                .filter(F.col("k").isNotNull()))
        # distinct keys once; orphan check runs over keys, not rows
        dk = keys.groupBy("k").agg(F.count(F.lit(1)).alias("n_rows_k"))
        orphans = dk.join(
            F.broadcast(parent.select(F.col(pk).alias("k")).distinct()),
            "k", "left_anti")
        stats = keys.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.countDistinct("k").alias("n_keys"))
        ostats = orphans.agg(
            F.coalesce(F.sum("n_rows_k"), F.lit(0)).cast("bigint")
             .alias("n_orphan_rows"),
            F.count(F.lit(1)).alias("n_orphan_keys"))
        row = (stats.crossJoin(ostats)
               .select(F.lit(label).alias("edge"),
                       F.col("n_child").cast("bigint").alias("n_child"),
                       F.col("n_keys").cast("bigint").alias("n_keys"),
                       "n_orphan_rows",
                       F.col("n_orphan_keys").cast("bigint")
                        .alias("n_orphan_keys"),
                       (F.col("n_orphan_keys") == 0).alias("ok")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("edge")


def _fk_edge_sql(label, child_t, fk, parent_t, pk, pred):
    where = f" WHERE {pred}" if pred else ""
    return f"""
  SELECT '{label}' AS edge,
         CAST(COUNT(*) AS BIGINT) AS n_child,
         CAST(COUNT(DISTINCT {fk}) AS BIGINT) AS n_keys,
         CAST(COALESCE(SUM(CASE WHEN {fk} NOT IN
              (SELECT {pk} FROM {parent_t}{where}) THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_orphan_rows,
         CAST(COUNT(DISTINCT CASE WHEN {fk} NOT IN
              (SELECT {pk} FROM {parent_t}{where}) THEN {fk} END)
              AS BIGINT) AS n_orphan_keys,
         COUNT(DISTINCT CASE WHEN {fk} NOT IN
              (SELECT {pk} FROM {parent_t}{where}) THEN {fk} END) = 0 AS ok
  FROM {child_t} WHERE {fk} IS NOT NULL"""


_Q157_ORACLE = ("\nUNION ALL\n".join(_fk_edge_sql(*e) for e in FK_EDGES)
                + "\nORDER BY edge")


#: minimum group size a published aggregate row may carry (k-anonymity
#: floor for the statistics export).
K_ANON = 8


def q168_kanon_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymous statistics export: per-(nation, segment) customer
    aggregates where no published row describes fewer than K_ANON
    individuals — the suppression pass every privacy-reviewed data
    release runs before aggregates leave the boundary. Small cells are
    not silently dropped: they roll up into a per-nation ``*`` residual
    row (so the totals still reconcile), and a residual that is ITSELF
    still under the floor is withheld entirely — publishing "segment=*,
    n=3" would re-identify just as surely as the original cell.

    Output: (c_nationkey, segment, n_customers, total_acctbal,
    n_merged_cells) with segment='*' for residuals; rows in key order.

    Scale shape: one map-side-combined aggregate to the (nation,
    segment) grain — tiny by construction — then all suppression logic
    runs on the aggregate, never re-touching the fact table. No
    reference analogue: extension (the export-boundary twin of the K8
    quarantine discipline).
    """
    register_tables(spark, sf_dir)
    cust = spark.table("customer")
    cells = (cust.groupBy("c_nationkey", "c_mktsegment")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                  F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                  .alias("bal")))
    big = (cells.filter(F.col("n_customers") >= K_ANON)
           .select("c_nationkey",
                   F.col("c_mktsegment").alias("segment"),
                   "n_customers",
                   F.col("bal").cast("double").alias("total_acctbal"),
                   F.lit(0).cast("bigint").alias("n_merged_cells")))
    resid = (cells.filter(F.col("n_customers") < K_ANON)
             .groupBy("c_nationkey")
             .agg(F.sum("n_customers").cast("bigint").alias("n_customers"),
                  F.sum("bal").cast("double").alias("total_acctbal"),
                  F.count(F.lit(1)).cast("bigint").alias("n_merged_cells"))
             .filter(F.col("n_customers") >= K_ANON)
             .select("c_nationkey", F.lit("*").alias("segment"),
                     "n_customers", "total_acctbal", "n_merged_cells"))
    return big.unionByName(resid).orderBy("c_nationkey", "segment")


_Q168_ORACLE = f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
  FROM customer GROUP BY 1, 2),
big AS (
  SELECT c_nationkey, c_mktsegment AS segment, n_customers,
         CAST(bal AS DOUBLE) AS total_acctbal,
         CAST(0 AS BIGINT) AS n_merged_cells
  FROM cells WHERE n_customers >= {K_ANON}),
resid AS (
  SELECT c_nationkey, '*' AS segment,
         CAST(SUM(n_customers) AS BIGINT) AS n_customers,
         CAST(SUM(bal) AS DOUBLE) AS total_acctbal,
         CAST(COUNT(*) AS BIGINT) AS n_merged_cells
  FROM cells WHERE n_customers < {K_ANON}
  GROUP BY c_nationkey
  HAVING SUM(n_customers) >= {K_ANON})
SELECT * FROM big UNION ALL SELECT * FROM resid
ORDER BY c_nationkey, segment
"""


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q168_kanon_export": q168_kanon_export,
    "q03_top_unshipped": q03_top_unshipped,
    "q05_regional_revenue": q05_regional_revenue,
    "q06_revenue_delta": q06_revenue_delta,
    "q07_left_join": q07_left_join,
    "q08_semi_anti": q08_semi_anti,
    "q09_agg_stats": q09_agg_stats,
    "q10_grouping_analytics": q10_grouping_analytics,
    "q13_window_topk": q13_window_topk,
    "q14_window_running": q14_window_running,
    "q15_window_lag": q15_window_lag,
    "q16_sessionize": q16_sessionize,
    "q17_set_ops": q17_set_ops,
    "q18_union_splitter": q18_union_splitter,
    "q19_pivot": q19_pivot,
    "q20_string_funcs": q20_string_funcs,
    "q21_date_funcs": q21_date_funcs,
    "q22_math_funcs": q22_math_funcs,
    "q23_scalar_subquery": q23_scalar_subquery,
    "q24_in_subquery": q24_in_subquery,
    "q25_having_filter": q25_having_filter,
    "q26_distinct": q26_distinct,
    "q29_window_ranks": q29_window_ranks,
    "q31_collect_sorted": q31_collect_sorted,
    "q32_exists_correlated": q32_exists_correlated,
    "q33_top_customer_per_nation": q33_top_customer_per_nation,
    "q34_events_tumbling": q34_events_tumbling,
    "q37_salted_distinct": q37_salted_distinct,
    "q38_percentiles": q38_percentiles,
    "q39_approx_sketches": q39_approx_sketches,
    "q89_sketch_rollup": q89_sketch_rollup,
    "q100_blocking_supplier": q100_blocking_supplier,
    "q101_small_quantity_revenue": q101_small_quantity_revenue,
    "q105_min_cost_supplier": q105_min_cost_supplier,
    "q106_dominant_supplier": q106_dominant_supplier,
    "q109_idle_customers": q109_idle_customers,
    "q110_key_skew_profile": q110_key_skew_profile,
    "q112_order_priority": q112_order_priority,
    "q113_priority_shipping": q113_priority_shipping,
    "q114_promo_revenue": q114_promo_revenue,
    "q115_top_supplier": q115_top_supplier,
    "q116_parts_supplier_relation": q116_parts_supplier_relation,
    "q117_disjunctive_revenue": q117_disjunctive_revenue,
    "q118_cms_heavy_hitters": q118_cms_heavy_hitters,
    "q120_histogram_quantiles": q120_histogram_quantiles,
"q124_big_order_customers": q124_big_order_customers,
    "q125_nation_trade_volume": q125_nation_trade_volume,
    "q126_part_value_share": q126_part_value_share,
"q132_market_share": q132_market_share,
    "q133_nation_profit": q133_nation_profit,
    "q134_returned_revenue": q134_returned_revenue,
    "q135_order_count_distribution": q135_order_count_distribution,
    "q150_grouped_regression": q150_grouped_regression,
    "q154_unpivot": q154_unpivot,
    "q155_set_ops_all": q155_set_ops_all,
    "q157_fk_integrity": q157_fk_integrity,
}

ORACLES = {
    "q01_pricing_summary": _Q01_ORACLE,
    "q03_top_unshipped": _Q03_ORACLE,
    "q05_regional_revenue": _Q05_ORACLE,
    "q06_revenue_delta": _Q06_ORACLE,
    "q07_left_join": _Q07_ORACLE,
    "q08_semi_anti": _Q08_ORACLE,
    "q09_agg_stats": _Q09_ORACLE,
    "q10_grouping_analytics": _Q10_ORACLE,
    "q13_window_topk": _Q13_ORACLE,
    "q14_window_running": _Q14_ORACLE,
    "q15_window_lag": _Q15_ORACLE,
    "q16_sessionize": _Q16_ORACLE,
    "q17_set_ops": _Q17_ORACLE,
    "q18_union_splitter": _Q18_ORACLE,
    "q19_pivot": _Q19_ORACLE,
    "q20_string_funcs": _Q20_ORACLE,
    "q21_date_funcs": _Q21_ORACLE,
    "q22_math_funcs": _Q22_ORACLE,
    "q23_scalar_subquery": _Q23_ORACLE,
    "q24_in_subquery": _Q24_SQL,
    "q25_having_filter": _Q25_ORACLE,
    "q26_distinct": _Q26_ORACLE,
    "q29_window_ranks": _Q29_ORACLE,
    "q31_collect_sorted": _Q31_ORACLE,
    "q32_exists_correlated": _Q32_SQL,
    "q33_top_customer_per_nation": _Q33_ORACLE,
    "q34_events_tumbling": _Q34_ORACLE,
    "q168_kanon_export": _Q168_ORACLE,
    "q37_salted_distinct": _Q37_ORACLE,
    "q38_percentiles": _Q38_ORACLE,
    "q39_approx_sketches": _Q39_ORACLE,
    "q89_sketch_rollup": _Q89_ORACLE,
    "q100_blocking_supplier": _Q100_ORACLE,
    "q101_small_quantity_revenue": _Q101_ORACLE,
    "q105_min_cost_supplier": _Q105_ORACLE,
    "q106_dominant_supplier": _Q106_ORACLE,
    "q109_idle_customers": _Q109_ORACLE,
    "q110_key_skew_profile": _Q110_ORACLE,
    "q112_order_priority": _Q112_ORACLE,
    "q113_priority_shipping": _Q113_ORACLE,
    "q114_promo_revenue": _Q114_ORACLE,
    "q115_top_supplier": _Q115_ORACLE,
    "q116_parts_supplier_relation": _Q116_ORACLE,
    "q117_disjunctive_revenue": _Q117_ORACLE,
    "q118_cms_heavy_hitters": _Q118_ORACLE,
    "q120_histogram_quantiles": _Q120_ORACLE,
"q124_big_order_customers": _Q124_ORACLE,
    "q125_nation_trade_volume": _Q125_ORACLE,
    "q126_part_value_share": _Q126_ORACLE,
"q132_market_share": _Q132_ORACLE,
    "q133_nation_profit": _Q133_ORACLE,
    "q134_returned_revenue": _Q134_ORACLE,
    "q135_order_count_distribution": _Q135_ORACLE,
    "q150_grouped_regression": _Q150_ORACLE,
    "q154_unpivot": _Q154_ORACLE,
    "q155_set_ops_all": _Q155_ORACLE,
    "q157_fk_integrity": _Q157_ORACLE,
}
