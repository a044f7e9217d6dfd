"""Remaining TPC-H queries adaptable to this schema (no partsupp /
l_commitdate / l_receiptdate — FIXTURES.md): Q4, Q14, Q17, Q18, Q19, Q22,
each preserving the original's analytic shape (EXISTS semi-join,
conditional-aggregate ratio, correlated scalar-aggregate filter, HAVING
semi-join, disjunctive pushdown predicate, anti-join + global scalar).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q4_priority_exists — TPC-H Q4 adapted: orders (in a quarter) having at
# least one lineitem shipped >90 days after the order date, counted by
# priority. The EXISTS compiles to a left-semi join.
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
"""


@register("q4_priority_exists", oracle=_Q4_ORACLE)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q14_promo_revenue — TPC-H Q14: promo revenue share via conditional
# aggregation over a lineitem⋈part join. Exact integer-bp arithmetic:
# both engines divide the same integer sums.
# ---------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT
  round(
    100.0 * sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)
                     ELSE 0 END)
    / sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)),
    6
  ) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@register("q14_promo_revenue", oracle=_Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev_units).otherwise(0))
                / F.sum(rev_units),
                6,
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# q17_small_quantity — TPC-H Q17 adapted: revenue lost to small orders —
# lineitems under 20% of their part's average quantity (correlated scalar
# aggregate, de-correlated into a join against per-part averages).
# ---------------------------------------------------------------------------

# Exact-cents sum (the q19 lesson applied proactively): the matched set
# is a single large group at stress tiers, where a raw double sum's
# addition order can flip the final cent between engines.
_Q17_ORACLE = """
SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN (
  SELECT l_partkey AS ap_partkey, 0.2 * avg(l_quantity) AS qty_threshold
  FROM lineitem GROUP BY l_partkey
) a ON l.l_partkey = a.ap_partkey
WHERE l.l_quantity < a.qty_threshold
"""


@register("q17_small_quantity", oracle=_Q17_ORACLE)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    thresholds = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(thresholds, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(
                F.sum(money.cents("l_extendedprice"))
                .cast("double")
                / 100
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# q18_large_orders — TPC-H Q18 adapted: customers whose single orders
# exceed a quantity threshold (HAVING-derived semi-join + top-k).
# ---------------------------------------------------------------------------

_Q18_ORACLE = """
SELECT
  c.c_name,
  c.c_custkey,
  o.o_orderkey,
  o.o_orderdate,
  round(big.total_qty, 2) AS total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 150
) big
JOIN orders o   ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY round(big.total_qty, 2) DESC, o.o_orderkey
LIMIT 20
"""


@register("q18_large_orders", oracle=_Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 150)
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("raw_qty"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q19_disjunctive — TPC-H Q19 adapted: OR-of-ANDs predicate (brand ×
# size-band × quantity-band alternatives) — the pushdown/CNF-conversion
# stress test.
# ---------------------------------------------------------------------------

# Revenue in exact e4 fixed point (2dp price x 2dp discount-complement
# are both exact integers x100), summed as BIGINT and quantized to 2dp
# once at the end: a raw double sum over ~600k matched rows crossed a
# cent-rounding boundary between engines at the sf5 stress tier (the r8
# divergence class — float addition order is partitioning-dependent).
_Q19_ORACLE = """
SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l_discount) * 100) AS BIGINT))
             AS DOUBLE) / 10000, 2) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE
  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
  OR
  (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
  OR
  (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


@register("q19_disjunctive", oracle=_Q19_ORACLE)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    alt = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return joined.filter(alt).agg(
        F.round(F.sum(money.vol_e4()).cast("double") / 10000, 2).alias("revenue")
    )


# ---------------------------------------------------------------------------
# q22_dormant_customers — TPC-H Q22 adapted: above-average-balance
# customers with no orders (global scalar subquery + anti join).
# ---------------------------------------------------------------------------

# Exact-cents threshold AND total (r10 float-sum audit): the avg's last
# ulp decides FILTER membership (c_acctbal > avg_bal), so both engines
# must compute the identical double — sum cents as BIGINT, divide once.
# floor(x*100+0.5) is sign-safe here: 2dp data keeps x*100 within 1e-9
# of an integer, so the half-up-vs-away-from-zero distinction at exact
# .5 can never engage.
_Q22_ORACLE = """
SELECT
  c_nationkey,
  count(*)                  AS n_customers,
  round(CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_bal
FROM customer c
WHERE c.c_acctbal > (SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / count(*)
                     FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey
"""


@register("q22_dormant_customers", oracle=_Q22_ORACLE)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cents = money.cents_floor("c_acctbal")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(cents).cast("double") / 100 / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money.money_sum(cents).alias("total_bal"),
        )
    )
