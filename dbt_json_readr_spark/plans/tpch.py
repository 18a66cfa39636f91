"""Relational/OLAP core queries (SURVEY.md §2 B1-B8) over the TPC-H-ish
benchmark tables.

Numeric convention (oracle stability at any parallelism): measures are
cast to DECIMAL(18,4) *before* aggregation so sums are exact and
order-independent, then the final aggregate is cast to DOUBLE.  This makes
results bit-identical between Spark (any partitioning / AQE plan) and the
DuckDB oracle — a parallel double-sum would not be.

Reference parity note: the reference (aecoleman/dbt-json-readr,
explore.R) is an artifact-parsing tool; these queries are the analytics
core a Spark-native engine adds on top.  See sources/artifacts.py for the
direct reference-parity surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import prep
from ..sources.tables import load, load_partsupp


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,4)")


# DuckDB rendering of the synthesized partsupp (sources/tables.py
# load_partsupp) — IDENTICAL integer/decimal arithmetic, spliced into the
# oracle of every partsupp-family query (Q2/Q9/Q11/Q16/Q20) so both
# engines see the same table bit-for-bit.  Never divides a DECIMAL
# (DuckDB decimal÷int returns DOUBLE); supplycost is cents × 0.01 as an
# exact decimal multiply.
PARTSUPP_CTE = """s_cnt AS (SELECT count(*) AS s_cnt FROM supplier),
partsupp_base AS (
  SELECT p_partkey AS ps_partkey,
         ((p_partkey * 4 + i) % s_cnt) + 1 AS ps_suppkey
  FROM part, s_cnt, (SELECT unnest([CAST(0 AS BIGINT), 1, 2, 3]) AS i)
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST((ps_partkey * 47 + ps_suppkey * 31) % 9999 + 1 AS INTEGER) AS ps_availqty,
         CAST(CAST((ps_partkey * 97 + ps_suppkey * 61) % 99901 + 100 AS DECIMAL(14,0))
              * CAST(0.01 AS DECIMAL(4,2)) AS DECIMAL(12,2)) AS ps_supplycost
  FROM partsupp_base
)"""


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy filter + 2-key groupBy with 8 aggregates.

    Scale posture: map-side partial aggregation over 6 groups means the
    shuffle moves ~groups×partitions rows, not data rows; the l_shipdate
    filter is pushed into the parquet scan.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    charge = disc_price * (1 + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
  CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-way join → agg → top-N.

    Scale posture: only the filtered ``customer``
    carries a broadcast hint — the orders⋈customer result is
    FACT-derived (the date filter keeps most of orders), so forcing it
    broadcast would OOM executors at 100×.  lineitem⋈orders shuffles on
    orderkey; AQE may still elect a runtime broadcast at small SF, and
    can bail at large SF because no hint pins it.  Deterministic top-10
    via unique tiebreaker.
    """
    prep(spark)
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT
  l_orderkey,
  o_orderdate,
  o_orderpriority,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join over region→nation→customer/supplier with
    the lineitem fact.

    Scale posture: region/nation/supplier get
    broadcast hints — their size is fixed (region/nation) or small
    relative to the facts (supplier).  The customer-bearing ``dims``
    side is UNHINTED: customer grows linearly with scale factor (tens
    of GB at the 100 TB posture), so the join shuffles on
    custkey+nationkey and AQE is free to elect broadcast only when the
    runtime size statistics say it fits.
    """
    prep(spark)
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, (F.col("o_custkey") == F.col("c_custkey")) & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT
  n_name,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + pushed-down range predicates + scalar agg.

    The whole query should compile to a single WholeStageCodegen over the
    parquet scan with PushedFilters on all three predicates.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q6_SQL = """
SELECT
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q4_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS (correlated) → left-semi join with a
    cross-side predicate, then a 1-key count.

    Scale posture: the semi-join shuffles both sides once on orderkey
    and short-circuits per order (no fact-side duplication); the
    non-equi ship-lag predicate rides the same join, not a filter on a
    joined blow-up.
    """
    prep(spark)
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join (customers with zero orders must
    survive) → per-customer count → histogram of counts.  Two shuffles
    (join key, then count key); the outer join cannot broadcast-build the
    customer side away at scale, so it shuffles on custkey."""
    prep(spark)
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, count(*) AS n_customers FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY n_customers DESC, c_count DESC
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a fact aggregate, then join the
    surviving keys back to the dims.  The qualifying-orders set is
    highly selective but still sf-linear, and customer scales with sf —
    both joins are UNHINTED: they shuffle
    on their keys, and AQE elects a runtime broadcast only when the
    post-HAVING size statistics actually fit."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("sum_qty"), "o_orderkey")
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) > 250
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey
"""


def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: supplier-nation × customer-nation trade matrix.
    Both nation hops and supplier broadcast (fixed / small dims); the
    customer join is UNHINTED — customer scales with sf, so it shuffles
    on custkey unless AQE's runtime stats elect broadcast.  The fact
    shuffles once per fact-fact equi-join (lineitem⋈orders)."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    supp_n = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_n = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust_n), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation")
    )


Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name
ORDER BY supp_nation, cust_nation
"""


def part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price moments WITHOUT float-sum drift: n / Σx / Σx² are
    exact DECIMAL aggregates (order-independent under any partitioning);
    mean and population variance derive from them in one fixed-order
    double expression — so stddev-style analytics stay oracle-exact."""
    prep(spark)
    part = load(spark, sf_dir, "part")
    x = _dec("p_retailprice")
    agg = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(x).alias("_s"),
        F.sum(x * x).alias("_ss"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
    )
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    n = F.col("n_parts").cast("double")
    return agg.select(
        "p_brand",
        "n_parts",
        (s / n).alias("avg_price"),
        ((ss - s * s / n) / n).alias("var_price"),
        "min_price",
        "max_price",
    ).orderBy("p_brand")


PART_BRAND_STATS_SQL = """
SELECT p_brand, n_parts,
       s / n AS avg_price,
       (ss - s * s / n) / n AS var_price,
       min_price, max_price
FROM (
  SELECT p_brand,
         count(*) AS n_parts,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s,
         CAST(CAST(sum(CAST(p_retailprice AS DECIMAL(18,4)) * CAST(p_retailprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS ss,
         min(p_retailprice) AS min_price,
         max(p_retailprice) AS max_price
  FROM part GROUP BY p_brand
)
ORDER BY p_brand
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-lineitem revenue per customer, top-20.
    The selective returnflag filter pushes into the fact scan; nation
    broadcasts (fixed size), customer is UNHINTED — it scales with sf,
    so the join shuffles on custkey with AQE free to elect broadcast
    from runtime stats."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo share of
    revenue in one month).  Single fact pass; part broadcasts; both
    legs of the ratio come from the same decimal sums, divided once."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (F.sum(promo).cast("double") * 100.0 / F.sum(revenue).cast("double")).alias("promo_pct"),
            F.sum(revenue).cast("double").alias("total_revenue"),
        )
    )


Q14_SQL = """
SELECT CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) * 100.0
       / CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS promo_pct,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
"""


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive bracket predicates (brand × size ×
    quantity OR-chains).  Expressed as one join condition so Catalyst
    can still prune part columns; the OR prevents scan pushdown of the
    compound — the join itself stays a single broadcast."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    brackets = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(brackets)
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q19_SQL = """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 5 AND 30)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 40)
"""

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — for PROMO-type parts sold
    to AMERICA-region customers in 1996-1997, the per-year share of
    revenue supplied by NATION_7 suppliers.

    Scale posture: part/supplier/nation/region get
    broadcast hints (fixed or fact-relative-small); the
    customer⋈nation⋈region side is UNHINTED — customer scales linearly
    with sf, so orders⋈cust shuffles on custkey and AQE elects
    broadcast only when runtime stats fit.  lineitem⋈orders shuffles on
    orderkey, then a tiny per-year agg.  The share ratio divides two
    exact decimal sums once, at the end.
    """
    prep(spark)
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    nation_s = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation_s), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nation_c = load(spark, sf_dir, "nation")
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nation_c), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem")
    volume = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_7", volume).otherwise(zero)).cast("double")
                / F.sum(volume).cast("double")
            ).alias("mkt_share"),
            F.sum(volume).cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT
  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
  CAST(CAST(sum(CASE WHEN n_s.n_name = 'NATION_7'
                THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
                ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
  / CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS mkt_share,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS total_volume
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n_s ON s_nationkey = n_s.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n_c ON c_nationkey = n_c.n_nationkey
JOIN region ON n_c.n_regionkey = r_regionkey
WHERE p_type = 'PROMO'
  AND r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
ORDER BY 1
"""


def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (real shape): profit — revenue minus supply cost —
    by supplier nation × order year for parts whose name contains
    'red'.  Supply cost comes from the synthesized partsupp
    (sources/tables.py load_partsupp), joined on the composite
    (partkey, suppkey) just as dbgen's table would be; lineitem pairs
    not present in partsupp (the synthetic assignment covers ~4% of
    shipped pairs) contribute no profit row, exactly as in the oracle.

    Scale posture: part filter broadcasts into BOTH fact sides —
    lineitem and partsupp — so the composite-key join is between a
    filtered fact and a small broadcast table; lineitem⋈orders
    shuffles on orderkey; agg output is #nations × #years rows.
    """
    prep(spark)
    part = load(spark, sf_dir, "part").filter(F.col("p_name").contains("red")).select("p_partkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "nation")
    )
    ps = load_partsupp(spark, sf_dir).join(
        F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey")
    ).select("ps_partkey", "ps_suppkey", "ps_supplycost")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem")
    amount = _dec("l_extendedprice") * (1 - _dec("l_discount")) - F.col(
        "ps_supplycost"
    ) * _dec("l_quantity")
    return (
        li.join(
            F.broadcast(ps),
            (li.l_partkey == F.col("ps_partkey")) & (li.l_suppkey == F.col("ps_suppkey")),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = f"""
WITH {PARTSUPP_CTE}
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
                - ps_supplycost * CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue per supplier over one quarter, return the
    supplier(s) achieving the maximum.

    Scale posture: the fact agg reduces lineitem to #suppliers rows
    BEFORE the max is taken; the max scalar then broadcasts back as a
    1-row cross join, so nothing ever funnels raw fact rows to one
    task.  The max comparison stays in exact DECIMAL; cast to double
    only for output.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(F.sum(revenue).alias("total_rev_dec"))
    max_rev = per_supp.agg(F.max("total_rev_dec").alias("max_rev_dec"))
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(F.broadcast(max_rev), F.col("total_rev_dec") == F.col("max_rev_dec"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_dec = (SELECT max(total_rev_dec) FROM revenue)
ORDER BY s_suppkey
"""


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (qty < 20% of the part's average) for Brand#12 small parts
    were not taken.

    Scale posture: the per-part average is a second agg over the SAME
    brand-filtered join output, re-joined by partkey — both sides are
    already reduced to the filtered part set, so the stats join
    broadcasts.  The qty < 0.2×avg predicate is cross-multiplied
    (5·qty·cnt < sum_qty) so it is evaluated in exact DECIMAL with no
    division — bit-identical across engines and partitionings.
    """
    prep(spark)
    part = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 5))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    stats = joined.groupBy(F.col("l_partkey").alias("sp_partkey")).agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        joined.join(F.broadcast(stats), F.col("l_partkey") == F.col("sp_partkey"))
        .filter(_dec("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


Q17_SQL = """
WITH joined AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#12' AND p_size <= 5
), stats AS (
  SELECT l_partkey AS sp_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
         count(*) AS cnt
  FROM joined GROUP BY 1
)
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
       count(*) AS n_small
FROM joined JOIN stats ON l_partkey = sp_partkey
WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * cnt < sum_qty
"""


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: testdata has no c_phone, so the country
    -code filter becomes a positive-balance population): customers with
    above-average account balance and no orders since 1999, rolled up
    by market segment.

    Scale posture: the global average is one scalar (sum+count agg →
    1-row broadcast cross join); the above-average predicate is
    cross-multiplied (acctbal·cnt > total) for exact-DECIMAL
    stability; the no-orders check is a left_anti shuffle join on
    custkey against orders' custkey projection.
    """
    prep(spark)
    cust = load(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("total_bal"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(_dec("c_acctbal") * F.col("n_pos") > F.col("total_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


Q22_SQL = """
WITH pos AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) AS total_bal, count(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       count(*) AS numcust,
       CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM customer, pos
WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n_pos > total_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

# ---------------------------------------------------------------- B48

_Z_BITS = 8  # low bits of each key interleaved into a 2·_Z_BITS z-value


def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout audit over (l_orderkey, l_partkey):
    interleave the low 8 bits of both keys into a 16-bit z-value, split
    the curve into 16 equal ranges, and report per-range row counts and
    the span/distinct-count of each key's low byte.  The measurable
    z-curve property — each range covers a ~64×64 key tile, so BOTH
    dimensions stay local — is exactly why lakehouse table formats
    z-order sort files for multi-column pruning; this is the audit you
    run before choosing clustering columns.  Pure bit arithmetic in
    whole-stage codegen; one small-keyed aggregation."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = z + F.shiftright("l_orderkey", i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i + 1)
        )
        z = z + F.shiftright("l_partkey", i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
    o_lo = F.col("l_orderkey").bitwiseAND(F.lit((1 << _Z_BITS) - 1))
    p_lo = F.col("l_partkey").bitwiseAND(F.lit((1 << _Z_BITS) - 1))
    return (
        li.select(
            F.shiftright(z, 12).alias("z_bucket"),
            o_lo.alias("o_lo"),
            p_lo.alias("p_lo"),
        )
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("o_lo") - F.min("o_lo")).alias("o_span"),
            (F.max("p_lo") - F.min("p_lo")).alias("p_span"),
            F.countDistinct("o_lo").alias("n_o_distinct"),
            F.countDistinct("p_lo").alias("n_p_distinct"),
        )
        .orderBy("z_bucket")
    )


def _zorder_sql() -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((l_orderkey >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"((l_partkey >> {i}) & 1) * {1 << (2 * i)}")
    zexpr = " + ".join(terms)
    mask = (1 << _Z_BITS) - 1
    return f"""
WITH zed AS (
  SELECT ({zexpr}) >> 12 AS z_bucket,
         l_orderkey & {mask} AS o_lo,
         l_partkey & {mask} AS p_lo
  FROM lineitem
)
SELECT z_bucket, count(*) AS n_rows,
       max(o_lo) - min(o_lo) AS o_span,
       max(p_lo) - min(p_lo) AS p_span,
       count(DISTINCT o_lo) AS n_o_distinct,
       count(DISTINCT p_lo) AS n_p_distinct
FROM zed GROUP BY z_bucket ORDER BY z_bucket
"""


LINEITEM_ZORDER_SQL = _zorder_sql()

# ---------------------------------------------------------------- B49

_PREFILTER_SIZES = [256, 1024, 4096]


def join_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter (Bloom-style) pre-join pruning audit: how many
    lineitem rows would a key-bucket membership filter of m buckets pass
    through to the orders join, vs the true match count?  Reports the
    false-positive rate per filter size — the evidence you need to size
    `spark.sql.optimizer.runtime.bloomFilter.*` before a 100 TB join.

    Shape: the filtered order-key set is dim-sized → its bucket sets
    broadcast; the fact side is scanned ONCE (exploded ×|sizes| for the
    sweep — an audit-only 3× that a production filter wouldn't pay) and
    every join here is a broadcast semi-join, so nothing corpus-sized
    shuffles."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    keys = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .distinct()
    )
    sizes = F.array([F.lit(s) for s in _PREFILTER_SIZES])
    buckets = (
        keys.select(F.explode(sizes).alias("filter_size"), "o_orderkey")
        .select("filter_size", (F.col("o_orderkey") % F.col("filter_size")).alias("bucket"))
        .distinct()
    )
    fact = li.select("l_orderkey", F.explode(sizes).alias("filter_size")).select(
        "filter_size", (F.col("l_orderkey") % F.col("filter_size")).alias("bucket")
    )
    passed = (
        fact.join(F.broadcast(buckets), ["filter_size", "bucket"], "left_semi")
        .groupBy("filter_size")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    n_true = (
        li.join(F.broadcast(keys), li.l_orderkey == keys.o_orderkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    n_rows = li.agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        passed.crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_rows))
        .select(
            "filter_size",
            "n_rows",
            "n_true",
            "n_candidates",
            (
                (F.col("n_candidates") - F.col("n_true")).cast("double")
                / (F.col("n_rows") - F.col("n_true")).cast("double")
            ).alias("fp_rate"),
        )
        .orderBy("filter_size")
    )


JOIN_PREFILTER_SQL = f"""
WITH sizes(filter_size) AS (VALUES (256), (1024), (4096)),
keys AS (
  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
buckets AS (
  SELECT DISTINCT s.filter_size, k.o_orderkey % s.filter_size AS bucket
  FROM keys k CROSS JOIN sizes s
),
tot AS (SELECT count(*) AS n_rows FROM lineitem),
tr AS (
  SELECT count(*) AS n_true FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM keys)
),
pass AS (
  SELECT s.filter_size, count(*) AS n_candidates
  FROM lineitem l CROSS JOIN sizes s
  WHERE EXISTS (SELECT 1 FROM buckets b
                WHERE b.filter_size = s.filter_size
                  AND b.bucket = l.l_orderkey % s.filter_size)
  GROUP BY s.filter_size
)
SELECT p.filter_size, t.n_rows, r.n_true, p.n_candidates,
       CAST(p.n_candidates - r.n_true AS DOUBLE)
         / CAST(t.n_rows - r.n_true AS DOUBLE) AS fp_rate
FROM pass p CROSS JOIN tot t CROSS JOIN tr r
ORDER BY p.filter_size
"""

# ---------------------------------------------------------------- B51

_ZONE_FILE_KEYS = 4096  # orderkeys per simulated file / row-group


def zone_map_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) file-skipping audit: simulate
    row-group-sized files of 4096 consecutive orderkeys, collect each
    file's l_shipdate min/max, and measure what fraction of files —
    and rows — a shipdate predicate could skip without reading.  This
    is the decision input for sort-order / partition-column choices:
    if the skip rate is ~0 the data is not clustered on the predicate
    column and a z-order/sort rewrite (B48) pays for itself.  One
    map-side bucketing agg + one tiny summary agg."""
    prep(spark)
    cutoff = "1998-06-01 00:00:00"
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    files = li.groupBy(
        (F.col("l_orderkey") / _ZONE_FILE_KEYS).cast("long").alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("l_shipdate").alias("max_ship"),
        F.count(F.when(F.col("l_shipdate") >= F.lit(cutoff).cast("timestamp"), 1)).alias(
            "n_match"
        ),
    )
    skippable = F.col("max_ship") < F.lit(cutoff).cast("timestamp")
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(skippable.cast("long")).alias("n_skippable_files"),
        F.sum("n_rows").alias("n_rows"),
        F.sum(F.when(skippable, F.col("n_rows")).otherwise(F.lit(0))).alias(
            "n_rows_skipped"
        ),
        F.sum("n_match").alias("n_rows_matching"),
    ).select(
        "n_files",
        "n_skippable_files",
        (F.col("n_skippable_files").cast("double") / F.col("n_files").cast("double")).alias(
            "file_skip_rate"
        ),
        "n_rows",
        "n_rows_skipped",
        "n_rows_matching",
    )


ZONE_MAP_SKIPPING_SQL = f"""
WITH files AS (
  SELECT l_orderkey // {_ZONE_FILE_KEYS} AS file_id,
         count(*) AS n_rows,
         max(l_shipdate) AS max_ship,
         count(CASE WHEN l_shipdate >= TIMESTAMP '1998-06-01 00:00:00' THEN 1 END) AS n_match
  FROM lineitem GROUP BY l_orderkey // {_ZONE_FILE_KEYS}
)
SELECT count(*) AS n_files,
       CAST(sum(CASE WHEN max_ship < TIMESTAMP '1998-06-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable_files,
       CAST(CAST(sum(CASE WHEN max_ship < TIMESTAMP '1998-06-01 00:00:00' THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS file_skip_rate,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN max_ship < TIMESTAMP '1998-06-01 00:00:00' THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_skipped,
       CAST(sum(n_match) AS BIGINT) AS n_rows_matching
FROM files
"""

# ---------------------------------------------------------------- B53


def supplier_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of suppliers by revenue: cumulative
    revenue share in descending order → class A (first 50% of revenue),
    B (to 80%), C (tail).  Classification compares EXACT decimals
    cross-multiplied against integer ratios (2·cum ≤ total, 5·cum ≤
    4·total) — no decimal division, so the class boundary cannot
    diverge between engines.  The fact scan aggregates down to the
    supplier dimension BEFORE the ordered window, so the cumsum runs
    over |suppliers| rows, not the fact table."""
    prep(spark)
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    # scale-4 fixed point: the exact decimal revenue floors identically
    # in both engines, and every later sum/compare/share is BIGINT
    # arithmetic + ONE int64→double conversion — a DECIMAL→DOUBLE cast
    # here would double-round in DuckDB (int128→double, then /10^scale)
    # and diverge from Spark's correctly-rounded conversion in the last
    # ulp.  Headroom: total_fp ≈ 3e14 at sf0.1 — safe to ~sf10⁵.
    per_supp = li.groupBy("l_suppkey").agg(
        F.floor(F.sum(revenue) * 10000).cast("long").alias("rev_fp")
    )
    w = W.orderBy(F.desc("rev_fp"), "l_suppkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    tot = per_supp.agg(F.sum("rev_fp").alias("total_fp"))
    classed = (
        per_supp.withColumn("cum", F.sum("rev_fp").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "l_suppkey",
            "rev_fp",
            F.when(F.col("cum") * 2 <= F.col("total_fp"), "A")
            .when(F.col("cum") * 5 <= F.col("total_fp") * 4, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    ctot = classed.crossJoin(F.broadcast(tot))
    return (
        ctot.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.sum("rev_fp").cast("double") / F.lit(10000.0)).alias("class_revenue"),
            (
                F.sum("rev_fp").cast("double") / F.first("total_fp").cast("double")
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


SUPPLIER_ABC_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) * 10000) AS BIGINT) AS rev_fp
  FROM lineitem GROUP BY l_suppkey
),
tot AS (SELECT CAST(sum(rev_fp) AS BIGINT) AS total_fp FROM per_supp),
classed AS (
  SELECT l_suppkey, rev_fp,
         CASE WHEN cum * 2 <= total_fp THEN 'A'
              WHEN cum * 5 <= total_fp * 4 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM (
    SELECT l_suppkey, rev_fp,
           CAST(sum(rev_fp) OVER (ORDER BY rev_fp DESC, l_suppkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
    FROM per_supp
  ) c CROSS JOIN tot
)
SELECT abc_class,
       count(*) AS n_suppliers,
       CAST(CAST(sum(rev_fp) AS BIGINT) AS DOUBLE) / 10000.0 AS class_revenue,
       CAST(CAST(sum(rev_fp) AS BIGINT) AS DOUBLE) / CAST(any_value(total_fp) AS DOUBLE) AS revenue_share
FROM classed CROSS JOIN tot
GROUP BY abc_class ORDER BY abc_class
"""

# ---------------------------------------------------------------- B54


def lineitem_runlength_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encodability audit: within each simulated file (4096
    orderkeys, natural (l_orderkey, l_linenumber) storage order), count
    the value runs of the low-cardinality columns — mean run length is
    the direct predictor of RLE/dictionary win, the companion evidence
    to the zone-map audit when choosing a sort order.  One windowed
    pass computes both columns' change flags; the per-file window
    parallelizes across files."""
    prep(spark)
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
    )
    fid = (F.col("l_orderkey") / _ZONE_FILE_KEYS).cast("long")
    # (l_orderkey, l_linenumber) is not unique in this corpus; the
    # audited columns join the sort key so rows tied on every key have
    # constant audited values — run counts are then order-independent
    w = W.partitionBy(fid.alias("f")).orderBy(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
    )
    flags = li.select(
        *[
            (
                F.lag(c).over(w).isNull() | (F.lag(c).over(w) != F.col(c))
            ).cast("long").alias(f"new_{c}")
            for c in ("l_returnflag", "l_linestatus")
        ]
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("new_l_returnflag").alias("runs_rf"),
        F.sum("new_l_linestatus").alias("runs_ls"),
    )
    return (
        agg.selectExpr(
            "stack(2, 'l_returnflag', n_rows, runs_rf, "
            "'l_linestatus', n_rows, runs_ls) AS (col_name, n_rows, n_runs)"
        )
        .select(
            "col_name",
            "n_rows",
            "n_runs",
            (F.col("n_rows").cast("double") / F.col("n_runs").cast("double")).alias(
                "mean_run_len"
            ),
        )
        .orderBy("col_name")
    )


LINEITEM_RUNLENGTH_SQL = f"""
WITH flags AS (
  SELECT
    CASE WHEN lag(l_returnflag) OVER w IS NULL
           OR lag(l_returnflag) OVER w <> l_returnflag THEN 1 ELSE 0 END AS new_rf,
    CASE WHEN lag(l_linestatus) OVER w IS NULL
           OR lag(l_linestatus) OVER w <> l_linestatus THEN 1 ELSE 0 END AS new_ls
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey // {_ZONE_FILE_KEYS}
               ORDER BY l_orderkey, l_linenumber, l_returnflag, l_linestatus)
),
agg AS (
  SELECT count(*) AS n_rows,
         CAST(sum(new_rf) AS BIGINT) AS runs_rf,
         CAST(sum(new_ls) AS BIGINT) AS runs_ls
  FROM flags
)
SELECT col_name, n_rows, n_runs,
       CAST(n_rows AS DOUBLE) / CAST(n_runs AS DOUBLE) AS mean_run_len
FROM (
  SELECT 'l_returnflag' AS col_name, n_rows, runs_rf AS n_runs FROM agg
  UNION ALL
  SELECT 'l_linestatus', n_rows, runs_ls FROM agg
)
ORDER BY col_name
"""

# ---------------------------------------------------------------- B56


def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (real shape, over the synthesized partsupp): supplier
    counts per (brand, type, size) excluding one brand and suppliers
    with below-par balance — the NOT IN anti-join + count-distinct over
    the part↔supplier relation.

    Scale shape: part (brand/size-filtered) and the excluded-supplier
    set broadcast into the partsupp scan; the only shuffle is the final
    3-key count-distinct aggregate, which partial-aggregates map-side.
    """
    prep(spark)
    ps = load_partsupp(spark, sf_dir)
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(5, 11, 17, 23, 29))
    )
    bad_supp = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), ps.ps_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = f"""
WITH {PARTSUPP_CTE}
SELECT p_brand, p_type, p_size,
       count(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (5, 11, 17, 23, 29)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# partsupp family (Q2/Q11/Q20 + the real Q9/Q16 shapes).  partsupp is
# synthesized deterministically from part × supplier (sources/tables.py
# load_partsupp); PARTSUPP_CTE (defined at the top of this module) is
# the SAME arithmetic in DuckDB SQL so every oracle sees an identical
# table.
# ---------------------------------------------------------------------------


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each STANDARD part, the European supplier(s)
    offering the minimum supply cost (correlated-min subquery pattern).

    Spark-first: the correlated ``= (SELECT min(..))`` becomes a
    per-part min aggregate joined back on (partkey, cost) — both sides
    of that join are already reduced to the filtered part set, so the
    min table broadcasts.  Supplier⋈nation⋈region is a pure dim chain →
    broadcast; partsupp is the fact side and never shuffles: filter,
    broadcast-join, aggregate, broadcast-join back, top-100.
    """
    prep(spark)
    part_f = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey", "p_brand")
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = load_partsupp(spark, sf_dir)
    cand = ps.join(F.broadcast(part_f), ps.ps_partkey == part_f.p_partkey).join(
        F.broadcast(supp), ps.ps_suppkey == F.col("s_suppkey")
    )
    mins = cand.groupBy(F.col("ps_partkey").alias("m_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        cand.join(
            F.broadcast(mins),
            (F.col("ps_partkey") == F.col("m_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = f"""
WITH {PARTSUPP_CTE},
europe_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cand AS (
  SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, ps_supplycost
  FROM partsupp
  JOIN part ON ps_partkey = p_partkey
  JOIN europe_supp ON ps_suppkey = s_suppkey
  WHERE p_type = 'STANDARD'
),
mins AS (
  SELECT p_partkey AS m_partkey, min(ps_supplycost) AS min_cost
  FROM cand GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(ps_supplycost AS DOUBLE) AS supplycost
FROM cand
JOIN mins ON p_partkey = m_partkey AND ps_supplycost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value held by European suppliers,
    keeping parts whose value exceeds 0.1% of the total (HAVING against
    a global scalar).

    Spark-first: the global total is a 1-row aggregate cross-joined
    back by broadcast — the classic scalar-subquery decorrelation; the
    comparison stays in exact DECIMAL (total × 0.001 as decimal
    multiply, never a double) so the boundary is bit-identical to the
    oracle at any partitioning.  partsupp aggregates map-side before
    its one shuffle on ps_partkey.
    """
    prep(spark)
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    ps = load_partsupp(spark, sf_dir)
    value = F.col("ps_availqty").cast("decimal(18,4)") * F.col("ps_supplycost")
    eu_ps = ps.join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey).select(
        "ps_partkey", value.alias("value_dec")
    )
    per_part = eu_ps.groupBy("ps_partkey").agg(F.sum("value_dec").alias("part_value_dec"))
    total = eu_ps.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("part_value_dec")
            > F.col("total_dec") * F.lit("0.001").cast("decimal(6,4)")
        )
        .select("ps_partkey", F.col("part_value_dec").cast("double").alias("stock_value"))
        .orderBy(F.desc("stock_value"), "ps_partkey")
    )


Q11_SQL = f"""
WITH {PARTSUPP_CTE},
europe_supp AS (
  SELECT s_suppkey
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
eu_ps AS (
  SELECT ps_partkey,
         CAST(ps_availqty AS DECIMAL(18,4)) * ps_supplycost AS value_dec
  FROM partsupp JOIN europe_supp ON ps_suppkey = s_suppkey
),
tot AS (SELECT sum(value_dec) AS total_dec FROM eu_ps)
SELECT ps_partkey, CAST(CAST(sum(value_dec) AS VARCHAR) AS DOUBLE) AS stock_value
FROM eu_ps, tot
GROUP BY ps_partkey, total_dec
HAVING sum(value_dec) > total_dec * CAST(0.001 AS DECIMAL(6,4))
ORDER BY stock_value DESC, ps_partkey
"""


def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding surplus stock (availqty >
    half of what they shipped in 1996) of 'cold' parts — the nested
    semi-join (suppkey IN … partkey IN … qty > correlated sum) pattern.

    Spark-first: the correlated per-(part,supplier) shipped-quantity
    subquery becomes one grouped aggregate of the date-filtered
    lineitem; partsupp (pre-filtered by broadcast to 'cold' parts, ~1/8
    of parts × 4 rows) broadcasts INTO that aggregate's output, so the
    only shuffle is lineitem's own pair-key aggregation.  The ×0.5 is
    cross-multiplied (2·availqty > Σqty) in exact DECIMAL.
    """
    prep(spark)
    cold_parts = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("cold"))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity")).alias("ship_qty")
    )
    ps = load_partsupp(spark, sf_dir).join(
        F.broadcast(cold_parts), F.col("ps_partkey") == F.col("p_partkey")
    )
    qualified = (
        shipped.join(
            F.broadcast(ps),
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter((F.col("ps_availqty") * 2).cast("decimal(18,4)") > F.col("ship_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = load(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        qualified.join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_name", "s_suppkey")
    )


Q20_SQL = f"""
WITH {PARTSUPP_CTE},
cold_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE '%cold%'),
shipped AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS ship_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1, 2
),
qualified AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN cold_parts ON ps_partkey = p_partkey
  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  WHERE CAST(ps_availqty * 2 AS DECIMAL(18,4)) > ship_qty
)
SELECT s_suppkey, s_name, n_name
FROM qualified
JOIN supplier ON ps_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_name, s_suppkey
"""


# ---------------------------------------------------------------------------
# Q12/Q21 family.  The testdata lineitem carries no
# l_shipmode/l_commitdate/l_receiptdate, so they are DERIVED
# deterministically from columns that do exist — pure integer arithmetic
# on the unique (l_orderkey, l_linenumber) key, identical in both
# engines (LINEITEM_EXT_CTE), exactly like the partsupp synthesis above.
# ---------------------------------------------------------------------------

_SHIP_MODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]


def _lineitem_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + derived l_shipmode / l_commitdate / l_receiptdate.

    commitdate sits −30..+30 days around shipdate (so ~half the rows
    ship before commit) and receiptdate 1..30 days after shipdate (so
    lateness receipt>commit is common but not universal) — the mix the
    Q12/Q21 predicates need to be selective rather than degenerate.
    """
    li = load(spark, sf_dir, "lineitem")
    h = F.col("l_orderkey") * 31 + F.col("l_linenumber")
    return li.select(
        "*",
        F.element_at(
            F.array(*[F.lit(m) for m in _SHIP_MODES]), (h % 7).cast("int") + 1
        ).alias("l_shipmode"),
        F.date_add(
            F.to_date("l_shipdate"), ((h * 13) % 61 - 30).cast("int")
        ).alias("l_commitdate"),
        F.date_add(
            F.to_date("l_shipdate"), ((h * 17) % 30 + 1).cast("int")
        ).alias("l_receiptdate"),
    )


LINEITEM_EXT_CTE = """lineitem_ext AS (
  SELECT l_orderkey, l_suppkey, l_shipdate,
         (['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB'])[CAST(((l_orderkey * 31 + l_linenumber) % 7) AS INTEGER) + 1] AS l_shipmode,
         CAST(l_shipdate AS DATE) + CAST((((l_orderkey * 31 + l_linenumber) * 13) % 61) - 30 AS INTEGER) AS l_commitdate,
         CAST(l_shipdate AS DATE) + CAST((((l_orderkey * 31 + l_linenumber) * 17) % 30) + 1 AS INTEGER) AS l_receiptdate
  FROM lineitem
)"""


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: for MAIL/SHIP lineitems received late in 1996 that
    were committed after shipping, count high- vs low-priority orders
    per ship mode (conditional-sum over a fact⋈fact join).

    Scale posture: every derived-column predicate collapses to
    arithmetic over scanned columns, so the lineitem side reduces
    BEFORE the orderkey join; the join shuffles both sides on
    o_orderkey with AQE sizing (at bench scale the filtered lineitem
    side is broadcast-eligible and AQE will pick that).  Aggregate is
    2 groups — map-side partial.
    """
    prep(spark)
    le = _lineitem_ext(spark, sf_dir).filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.to_date("l_shipdate") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_receiptdate") < F.lit("1997-01-01").cast("date"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        le.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


Q12_SQL = f"""
WITH {LINEITEM_EXT_CTE}
SELECT l_shipmode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem_ext
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipmode IN ('MAIL', 'SHIP')
  AND l_commitdate < l_receiptdate
  AND CAST(l_shipdate AS DATE) < l_commitdate
  AND l_receiptdate >= DATE '1996-01-01'
  AND l_receiptdate < DATE '1997-01-01'
GROUP BY l_shipmode
ORDER BY l_shipmode
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: European suppliers who were the SOLE late supplier on
    a finished multi-supplier order — the double-correlated
    EXISTS / NOT EXISTS shape.

    Spark-first decorrelation: both correlated subqueries collapse into
    ONE per-order aggregate over lineitem_ext — n_supp =
    countDistinct(suppkey) (EXISTS another supplier ⇔ n_supp ≥ 2) and
    n_late_supp = countDistinct(suppkey | late) (NOT EXISTS another
    late supplier ⇔ the late set is exactly {this supplier} ⇔
    n_late_supp = 1, given the probe row is itself late).  The oracle
    keeps the textbook EXISTS/NOT-EXISTS form, so the gate proves the
    rewrite.  Plan shape: the stats aggregate and the probe side each
    read lineitem once (two column-pruned scans — Catalyst does not
    exchange-reuse the differing projections; a persist of the narrow
    (orderkey, suppkey, late) frame would single-scan at the cost of
    caching the whole fact, the wrong trade at 100 TB), then join on
    orderkey; supplier⋈nation⋈region broadcasts.
    """
    prep(spark)
    le = _lineitem_ext(spark, sf_dir).select(
        "l_orderkey", "l_suppkey", (F.col("l_receiptdate") > F.col("l_commitdate")).alias("late")
    )
    stats = le.groupBy(F.col("l_orderkey").alias("st_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    orders_f = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        le.filter(F.col("late"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(stats, F.col("l_orderkey") == F.col("st_orderkey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = f"""
WITH {LINEITEM_EXT_CTE}
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM lineitem_ext l1
JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND l1.l_receiptdate > l1.l_commitdate
  AND EXISTS (
    SELECT 1 FROM lineitem_ext l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem_ext l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_receiptdate > l3.l_commitdate
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# ------------------------------------------------------------- B65
# Deequ-style data-quality profiling — the first thing a lake operator
# runs against an unfamiliar 100 TB table.

_PROFILE_NUM_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]
_PROFILE_STR_COLS = ["l_returnflag", "l_linestatus"]
_PROFILE_TS_COLS = ["l_shipdate"]


def table_profile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of lineitem in ONE scan: null count, exact
    distinct count, min/max (numeric as DOUBLE, strings lexically,
    timestamps as exact epoch micros).

    Scale posture: all 11 columns profile in a single aggregate — one
    scan, map-side partials.  The exact multi-column COUNT(DISTINCT)
    uses Spark's Expand (rows × distinct-agg count before the partial
    agg); at 100 TB the same operator swaps count_distinct for
    approx_count_distinct (HLL, no Expand) — the audit schema is
    unchanged, which is why distinct counts get their own column rather
    than being folded into min/max rows.  min/max/null-counts are
    engine-portable by construction: no double arithmetic, only exact
    comparisons and integer counts.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")

    aggs: list[F.Column] = []
    for c in _PROFILE_NUM_COLS + _PROFILE_TS_COLS + _PROFILE_STR_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__nd"))
    for c in _PROFILE_NUM_COLS:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"{c}__min"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"{c}__max"))
    for c in _PROFILE_TS_COLS:
        # epoch micros ≈ 9e14 < 2^53: the double is exact
        aggs.append(F.min(F.unix_micros(F.col(c))).cast("double").alias(f"{c}__min"))
        aggs.append(F.max(F.unix_micros(F.col(c))).cast("double").alias(f"{c}__max"))
    for c in _PROFILE_STR_COLS:
        aggs.append(F.min(F.col(c)).alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).alias(f"{c}__max"))
    one = li.agg(*aggs)

    structs = []
    for c in _PROFILE_NUM_COLS + _PROFILE_TS_COLS:
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__nulls").alias("null_count"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_num"),
                F.col(f"{c}__max").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    for c in _PROFILE_STR_COLS:
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__nulls").alias("null_count"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
        )
    return (
        one.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


def _profile_sql() -> str:
    parts = []
    for c in _PROFILE_NUM_COLS:
        parts.append(
            f"SELECT '{c}' AS col_name, count(*) - count({c}) AS null_count,"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" CAST(min({c}) AS DOUBLE) AS min_num, CAST(max({c}) AS DOUBLE) AS max_num,"
            f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
            f" FROM lineitem"
        )
    for c in _PROFILE_TS_COLS:
        parts.append(
            f"SELECT '{c}' AS col_name, count(*) - count({c}) AS null_count,"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" CAST(epoch_us(min({c})) AS DOUBLE) AS min_num,"
            f" CAST(epoch_us(max({c})) AS DOUBLE) AS max_num,"
            f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
            f" FROM lineitem"
        )
    for c in _PROFILE_STR_COLS:
        parts.append(
            f"SELECT '{c}' AS col_name, count(*) - count({c}) AS null_count,"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,"
            f" min({c}) AS min_str, max({c}) AS max_str"
            f" FROM lineitem"
        )
    return "SELECT * FROM (\n" + "\nUNION ALL\n".join(parts) + "\n) ORDER BY col_name"


TABLE_PROFILE_SQL = _profile_sql()


# ------------------------------------------------------------- B66
# Referential-integrity audit across the star schema: the Deequ/DQ
# "is my lake consistent" check, expressed as distinct-FK anti-joins.

_RI_RELS = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphaned-foreign-key audit for every FK edge in the star schema.

    Scale posture: the child side pre-aggregates to DISTINCT fk values
    (carrying the row count) BEFORE the join, so the join input is
    key-cardinality, not row-cardinality — at 100 TB the lineitem→part
    check joins ~200M distinct keys, not 600B rows.  Orphan and
    null/distinct stats come out of ONE aggregate over a single LEFT
    join of the pre-aggregated keys onto the parent key set (a separate
    orph/stats split would re-scan and re-aggregate each
    child once per output column family — lineitem 6× across its 3
    edges).  AQE plans the join from the pre-aggregated size; NULL FKs
    are counted separately, never treated as orphans.
    """
    prep(spark)
    out: DataFrame | None = None
    for name, child_t, fk, parent_t, pk in _RI_RELS:
        child = load(spark, sf_dir, child_t)
        parent = load(spark, sf_dir, parent_t).select(F.col(pk).alias("__pk")).distinct()
        fkc = child.groupBy(F.col(fk).alias("__fk")).agg(F.count(F.lit(1)).alias("__cnt"))
        # parent keys are distinct → the left join preserves fkc row
        # multiplicity; __pk IS NULL ⇔ the fk value is orphaned
        orphan = F.col("__fk").isNotNull() & F.col("__pk").isNull()
        row = (
            fkc.join(parent, F.col("__fk") == F.col("__pk"), "left")
            .agg(
                F.sum("__cnt").alias("child_rows"),
                F.sum(F.when(F.col("__fk").isNull(), F.col("__cnt")).otherwise(0)).alias(
                    "null_fk_rows"
                ),
                F.count(F.col("__fk")).alias("distinct_fk"),
                F.sum(F.when(orphan, 1).otherwise(0)).cast("long").alias("orphan_keys"),
                F.sum(F.when(orphan, F.col("__cnt")).otherwise(0)).alias("orphan_rows"),
            )
            .select(
                F.lit(name).alias("relationship"),
                "child_rows",
                "null_fk_rows",
                "distinct_fk",
                "orphan_keys",
                "orphan_rows",
            )
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.orderBy("relationship")


def _ri_sql() -> str:
    parts = []
    for name, child_t, fk, parent_t, pk in _RI_RELS:
        parts.append(
            f"SELECT '{name}' AS relationship,\n"
            f" (SELECT count(*) FROM {child_t}) AS child_rows,\n"
            f" (SELECT count(*) FROM {child_t} WHERE {fk} IS NULL) AS null_fk_rows,\n"
            f" CAST((SELECT count(DISTINCT {fk}) FROM {child_t}) AS BIGINT) AS distinct_fk,\n"
            f" CAST((SELECT count(DISTINCT {fk}) FROM {child_t} c WHERE {fk} IS NOT NULL\n"
            f"   AND NOT EXISTS (SELECT 1 FROM {parent_t} p WHERE p.{pk} = c.{fk})) AS BIGINT)"
            f" AS orphan_keys,\n"
            f" (SELECT count(*) FROM {child_t} c WHERE {fk} IS NOT NULL\n"
            f"   AND NOT EXISTS (SELECT 1 FROM {parent_t} p WHERE p.{pk} = c.{fk}))"
            f" AS orphan_rows"
        )
    return "SELECT * FROM (\n" + "\nUNION ALL\n".join(parts) + "\n) ORDER BY relationship"


REFERENTIAL_INTEGRITY_SQL = _ri_sql()


# ------------------------------------------------------------- B69
# Incremental view maintenance over Delta commits — the "don't rescan
# 100 TB to refresh a dashboard" operator.


def incremental_view_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a grouped aggregate across two Delta commits by
    re-aggregating ONLY the second commit's rows and merging partial
    states — never rescanning the base.

    lineitem lands in two appends (even / odd orderkeys) to a table
    created with the change data feed enabled.  The view state after
    commit 1 is a per-group partial (decimal sums + count) over the
    version-pinned snapshot; the refresh reads the change feed from the
    next version on (``read_delta_changes``: the commit's added files,
    found from the log alone) and merges partials by group.  Sums stay
    DECIMAL until after the merge, so incremental == full-recompute
    bit-for-bit, which is exactly what the batch oracle asserts.

    Scale posture: refresh cost is O(delta) + O(groups), independent
    of base size; the partial-state merge is the same commutative
    monoid Spark's own partial aggregation relies on.  The table is
    append-only, so every change row is an insert.
    """
    import os

    from ..session import scratch_dir
    from ..sources import deltawriter as DW
    from ..sources import lakeformats as LF

    prep(spark)
    tbl = os.path.join(scratch_dir("ivm"), "table")
    li = load(spark, sf_dir, "lineitem")
    v1 = DW.write_delta(
        spark,
        li.filter(F.col("l_orderkey") % 2 == 0),
        tbl,
        configuration={"delta.enableChangeDataFeed": "true"},
    )["version"]
    DW.write_delta(spark, li.filter(F.col("l_orderkey") % 2 == 1), tbl)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(_dec("l_quantity")).alias("p_qty"),
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias("p_rev"),
            F.count(F.lit(1)).alias("p_n"),
        )

    base = partial(LF.read_delta_snapshot(spark, tbl, version=v1))
    delta = partial(
        LF.read_delta_changes(spark, tbl, v1 + 1).drop(
            "_change_type", "_commit_version"
        )
    )
    return (
        base.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("p_qty").cast("double").alias("sum_qty"),
            F.sum("p_rev").cast("double").alias("revenue"),
            F.sum("p_n").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


INCREMENTAL_VIEW_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
         AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ------------------------------------------------------------- B70
# Exact weighted median by threshold crossing — no interpolation, so
# the result is a VALUE FROM THE DATA and bit-portable (percentile_cont
# interpolates in float and is the wrong tool for money).


def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: the
    smallest price whose cumulative quantity reaches half the total.

    Cumulative weights stay DECIMAL (exact, order-independent) and the
    threshold test is cross-multiplied (2·cum ≥ total) — no division
    anywhere.  Rows tied on price may cross the threshold in any order
    but yield the same price, so the argmin is deterministic.

    Scale posture: one shuffle on the group key; the cumulative window
    sorts within partition.  At 100 TB the same operator runs on a
    pre-aggregated (price, Σweight) table — same threshold logic, rows
    reduced to distinct prices first.
    """
    from pyspark.sql import Window as W

    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    # unique (orderkey, linenumber) tiebreak → a total order, so the
    # cumulative sum is reproducible row-for-row
    cum_w = F.sum(_dec("l_quantity")).over(
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot_w = F.sum(_dec("l_quantity")).over(W.partitionBy("l_returnflag"))
    marked = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        cum_w.alias("cum_w"),
        tot_w.alias("tot_w"),
    )
    return (
        marked.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("tot_w").cast("double").alias("total_weight"),
            F.min(
                F.when(F.col("cum_w") * 2 >= F.col("tot_w"), F.col("price"))
            ).alias("weighted_median_price"),
        )
        .orderBy("l_returnflag")
    )


LINEITEM_WEIGHTED_MEDIAN_SQL = """
WITH marked AS (
  SELECT l_returnflag, l_extendedprice AS price,
         sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (
           PARTITION BY l_returnflag) AS tot_w
  FROM lineitem
)
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(CAST(max(tot_w) AS VARCHAR) AS DOUBLE) AS total_weight,
       min(CASE WHEN cum_w * 2 >= tot_w THEN price END) AS weighted_median_price
FROM marked
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ------------------------------------------------------------- B72
# Histogram-based join-size estimation — what a cost-based optimizer
# does before picking a join strategy, expressed as a first-class
# auditable query (estimate AND truth side by side).


def join_size_histogram_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate |lineitem ⋈ orders| from 64-bucket key histograms and
    audit against the exact join count.

    est = Σ_buckets cnt_lineitem(b) · cnt_orders(b) — the classic
    equi-width histogram estimate, an upper bound that collapses to
    exact when each bucket holds one key (here o_orderkey is unique, so
    est ≥ exact comes only from orderkeys sharing a bucket with
    lineitem keys absent from orders).  All arithmetic is BIGINT — the
    estimate, truth, and their difference are engine-exact, so the
    whole audit hash-gates (no floats anywhere).

    Scale posture: both histograms are 64-row aggregates (map-side
    partial), the estimate is a 64-row join — the statistics cost is
    INDEPENDENT of table size, which is why real CBOs can afford it.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    li_h = li.groupBy((F.col("l_orderkey") % 64).alias("b")).agg(
        F.count(F.lit(1)).alias("cnt_l")
    )
    o_h = orders.groupBy((F.col("o_orderkey") % 64).alias("b")).agg(
        F.count(F.lit(1)).alias("cnt_o")
    )
    est = li_h.join(o_h, "b").agg(
        F.sum(F.col("cnt_l") * F.col("cnt_o")).alias("est_rows")
    )
    exact = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).agg(
        F.count(F.lit(1)).alias("exact_rows")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "est_rows",
            "exact_rows",
            (F.col("est_rows") - F.col("exact_rows")).alias("overcount"),
            (F.col("est_rows") >= F.col("exact_rows")).alias("est_is_upper_bound"),
        )
    )


JOIN_SIZE_HISTOGRAM_SQL = """
WITH li_h AS (
  SELECT l_orderkey % 64 AS b, count(*) AS cnt_l FROM lineitem GROUP BY 1
),
o_h AS (
  SELECT o_orderkey % 64 AS b, count(*) AS cnt_o FROM orders GROUP BY 1
),
est AS (
  SELECT CAST(sum(cnt_l * cnt_o) AS BIGINT) AS est_rows
  FROM li_h JOIN o_h USING (b)
),
ex AS (
  SELECT count(*) AS exact_rows
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT est_rows, exact_rows,
       est_rows - exact_rows AS overcount,
       est_rows >= exact_rows AS est_is_upper_bound
FROM est, ex
"""


# ------------------------------------------------------------- B74
# Robust (trimmed) statistics — outlier-insensitive aggregates by
# integer rank arithmetic: no percentile interpolation, no float
# boundaries, so the trim is bit-portable.


def customer_acctbal_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: account-balance mean, then the 10%-trimmed
    mean and min/max of the retained middle — rows ranked by
    (acctbal, custkey), the lowest and highest ``floor(n/10)`` DROPPED
    by integer rank comparison.

    Integer trim bounds (rank > n/10 ∧ rank ≤ n − n/10) instead of
    percentile values: no interpolation, identical row retention in
    both engines even with duplicate balances straddling the cut
    (unique custkey tiebreak makes the rank total).  Sums stay DECIMAL
    until the final division.
    """
    from pyspark.sql import Window as W

    prep(spark)
    cust = load(spark, sf_dir, "customer")
    w_rank = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_all = W.partitionBy("c_mktsegment")
    ranked = cust.select(
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    trim = (F.col("n") / 10).cast("bigint")
    kept = ranked.filter((F.col("rk") > trim) & (F.col("rk") <= F.col("n") - trim))
    full = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("mean_bal"),
    )
    trimmed = kept.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_kept"),
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
            "trimmed_mean_bal"
        ),
        F.min("c_acctbal").alias("trim_lo"),
        F.max("c_acctbal").alias("trim_hi"),
    )
    return full.join(trimmed, "c_mktsegment").orderBy("c_mktsegment")


CUSTOMER_TRIMMED_STATS_SQL = """
WITH ranked AS (
  SELECT c_mktsegment, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rk,
         count(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM customer
),
kept AS (
  SELECT * FROM ranked WHERE rk > n // 10 AND rk <= n - n // 10
),
full_stats AS (
  SELECT c_mktsegment, count(*) AS n_customers,
         CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*)
           AS mean_bal
  FROM customer GROUP BY c_mktsegment
),
trimmed AS (
  SELECT c_mktsegment, count(*) AS n_kept,
         CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*)
           AS trimmed_mean_bal,
         min(c_acctbal) AS trim_lo,
         max(c_acctbal) AS trim_hi
  FROM kept GROUP BY c_mktsegment
)
SELECT f.c_mktsegment, f.n_customers, f.mean_bal,
       t.n_kept, t.trimmed_mean_bal, t.trim_lo, t.trim_hi
FROM full_stats f JOIN trimmed t USING (c_mktsegment)
ORDER BY f.c_mktsegment
"""


# ------------------------------------------------------------- B75
# Optimistic-concurrency commit audit — the two table-format contracts
# (commit-conflict CAS + schema evolution on commit), exercised
# END-TO-END as a gated key rather than only in unit tests.


def manifest_concurrent_commit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic commit-conflict-and-retry audit over a Delta
    table: three orders slices land as (1) a base commit, (2) an
    interleaved winner that also EVOLVES the schema (adds ``channel``),
    and (3) a loser that read the table before the winner committed —
    its commit at the stale version must be REJECTED by the log's
    put-if-absent (we raise loudly if it wins), after which it retries
    on top of the winner, as every optimistic writer does.

    The returned rollup reads the FINAL snapshot: all three batches
    present (no lost update), evolution null-fills ``channel`` for the
    two pre-evolution batches, and the log holds exactly three commits
    (base→winner→retry; ``final_version`` counts them).  The oracle
    recomputes the same counts straight from ``orders``, so a dropped
    batch, a lost commit or a wrong null-fill all hash-mismatch.

    Scale posture: the audit is metadata-size; the data path is three
    parquet writes + one snapshot read, same as any Delta commit.
    """
    import os

    from ..session import scratch_dir
    from ..sources import deltawriter as DW
    from ..sources import lakeformats as LF

    prep(spark)
    tbl = os.path.join(scratch_dir("occ_audit"), "table")
    orders = load(spark, sf_dir, "orders")
    mod = F.col("o_orderkey") % 3
    base = orders.filter(mod == 0).select(F.lit("base").alias("tag"), "o_orderkey")
    w1 = orders.filter(mod == 1).select(F.lit("w1").alias("tag"), "o_orderkey")
    w2 = orders.filter(mod == 2).select(
        F.lit("w2").alias("tag"),
        "o_orderkey",
        F.col("o_orderpriority").alias("channel"),
    )
    DW.write_delta(spark, base, tbl)
    # the loser reads the table: its next version is 1 …
    stale = DW._table_version(tbl) + 1
    # … while the winner commits that version first, evolving the schema
    DW.write_delta(spark, w2, tbl, merge_schema=True)
    try:
        DW._commit(tbl, stale, [DW._commit_info("WRITE", {})])
    except DW.DeltaConcurrentCommitError:
        pass
    else:
        raise RuntimeError("the log accepted a commit at a taken version")
    # retry on top of the winner
    DW.write_delta(spark, w1, tbl, merge_schema=True)
    final_version = DW._table_version(tbl) + 1  # commits in the log
    return (
        LF.read_delta_snapshot(spark, tbl)
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("channel").isNull(), 1).otherwise(0)).alias(
                "n_channel_null"
            ),
        )
        .withColumn("final_version", F.lit(final_version).cast("int"))
        .orderBy("tag")
    )


MANIFEST_OCC_AUDIT_SQL = """
WITH o AS (SELECT o_orderkey % 3 AS m FROM orders)
SELECT tag, n_rows, n_channel_null, final_version FROM (
  SELECT 'base' AS tag, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_channel_null,
         CAST(3 AS INTEGER) AS final_version
  FROM o WHERE m = 0
  UNION ALL
  SELECT 'w1', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
         CAST(3 AS INTEGER)
  FROM o WHERE m = 1
  UNION ALL
  SELECT 'w2', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
         CAST(3 AS INTEGER)
  FROM o WHERE m = 2
)
ORDER BY tag
"""


# ------------------------------------------------------------- B76
# dbt-style schema tests EXECUTED on the warehouse — the bridge between
# the reference's domain (dbt artifacts: A21 tracks which tests are
# declared, A25 what their runs reported) and the engine itself: this
# key IS the test runner, evaluating the five canonical dbt test types
# against the live tables.


def dbt_style_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the canonical dbt schema-test battery (not_null, unique,
    accepted_values, range, relationships) against orders/lineitem/
    customer, one result row per test: status pass/fail + exact
    violation count.

    Scale posture: per-table tests share ONE aggregate per table
    (not_null + range + accepted_values are counters in the same pass);
    unique tests aggregate per key then count violators map-side; the
    relationships test reuses the distinct-FK-before-anti-join shape of
    the RI audit (join input is key cardinality).  The clean benchmark
    tables should pass everything — the planted-violation path is
    pinned by a unit test, and the oracle recomputes every count
    independently.
    """
    prep(spark)
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")

    # one-pass counters per table
    o_agg = orders.agg(
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("nn_orderkey"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("nn_custkey"),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("bad_status"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("bad_price"),
    )
    l_agg = li.agg(
        F.sum(F.col("l_orderkey").isNull().cast("long")).alias("l_nn_orderkey"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("bad_discount"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("bad_qty"),
    )
    dup_orders = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("dup_rows"))
    )
    dup_li = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("dup_rows"))
    )
    orphans = (
        orders.groupBy(F.col("o_custkey").alias("fk"))
        .agg(F.count(F.lit(1)).alias("n"))
        .join(
            cust.select(F.col("c_custkey").alias("pk")).distinct(),
            F.col("fk") == F.col("pk"),
            "left",
        )
        .agg(
            F.sum(
                F.when(F.col("fk").isNotNull() & F.col("pk").isNull(), F.col("n"))
                .otherwise(0)
            ).alias("orphan_rows")
        )
    )

    def row(test: str, table: str, column: str, viol: F.Column) -> F.Column:
        return F.struct(
            F.lit(test).alias("test_type"),
            F.lit(table).alias("table_name"),
            F.lit(column).alias("column_name"),
            viol.cast("long").alias("n_violations"),
            F.when(viol == 0, F.lit("pass")).otherwise(F.lit("fail")).alias("status"),
        )

    combined = (
        o_agg.crossJoin(F.broadcast(l_agg))
        .crossJoin(F.broadcast(dup_orders.withColumnRenamed("dup_rows", "o_dups")))
        .crossJoin(F.broadcast(dup_li.withColumnRenamed("dup_rows", "l_dups")))
        .crossJoin(F.broadcast(orphans))
    )
    tests = combined.select(
        F.explode(
            F.array(
                row("not_null", "orders", "o_orderkey", F.col("nn_orderkey")),
                row("not_null", "orders", "o_custkey", F.col("nn_custkey")),
                row("not_null", "lineitem", "l_orderkey", F.col("l_nn_orderkey")),
                row("accepted_values", "orders", "o_orderstatus", F.col("bad_status")),
                row("range", "orders", "o_totalprice", F.col("bad_price")),
                row("range", "lineitem", "l_discount", F.col("bad_discount")),
                row("range", "lineitem", "l_quantity", F.col("bad_qty")),
                row("unique", "orders", "o_orderkey", F.col("o_dups")),
                row("unique", "lineitem", "l_orderkey,l_linenumber", F.col("l_dups")),
                row("relationships", "orders", "o_custkey", F.col("orphan_rows")),
            )
        ).alias("t")
    ).select("t.*")
    return tests.orderBy("test_type", "table_name", "column_name")


DBT_STYLE_EXPECTATIONS_SQL = """
WITH o AS (
  SELECT CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_orderkey,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_custkey,
         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price
  FROM orders
),
l AS (
  SELECT CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_nn_orderkey,
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
         CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty
  FROM lineitem
),
od AS (
  SELECT CAST(COALESCE(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0) AS BIGINT) AS o_dups
  FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY o_orderkey)
),
ld AS (
  SELECT CAST(COALESCE(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0) AS BIGINT) AS l_dups
  FROM (SELECT l_orderkey, l_linenumber, count(*) AS n FROM lineitem GROUP BY 1, 2)
),
orph AS (
  SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS orphan_rows
  FROM (SELECT o_custkey AS fk, count(*) AS n FROM orders GROUP BY 1) f
  WHERE fk IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = f.fk)
),
t AS (
  SELECT 'not_null' AS test_type, 'orders' AS table_name, 'o_orderkey' AS column_name, nn_orderkey AS n_violations FROM o
  UNION ALL SELECT 'not_null', 'orders', 'o_custkey', nn_custkey FROM o
  UNION ALL SELECT 'not_null', 'lineitem', 'l_orderkey', l_nn_orderkey FROM l
  UNION ALL SELECT 'accepted_values', 'orders', 'o_orderstatus', bad_status FROM o
  UNION ALL SELECT 'range', 'orders', 'o_totalprice', bad_price FROM o
  UNION ALL SELECT 'range', 'lineitem', 'l_discount', bad_discount FROM l
  UNION ALL SELECT 'range', 'lineitem', 'l_quantity', bad_qty FROM l
  UNION ALL SELECT 'unique', 'orders', 'o_orderkey', o_dups FROM od
  UNION ALL SELECT 'unique', 'lineitem', 'l_orderkey,l_linenumber', l_dups FROM ld
  UNION ALL SELECT 'relationships', 'orders', 'o_custkey', orphan_rows FROM orph
)
SELECT test_type, table_name, column_name, n_violations,
       CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
FROM t
ORDER BY test_type, table_name, column_name
"""
