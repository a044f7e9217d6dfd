"""Batch relational core: scan → filter → project → join → aggregate.

TPC-H-adapted headline queries (SURVEY.md §2.2–§2.4). The fixture schema
lacks ``partsupp``, ``l_commitdate``/``l_receiptdate`` and
``o_shippriority`` (FIXTURES.md), so the classic queries are adapted; the
analytic shape (selectivity, join graph, agg structure) is preserved.

Scale notes (100 TB posture, SURVEY.md §4):
  - ``lineitem``/``orders`` are the fact tables — every query keeps its
    filters directly on the scan so Catalyst pushes them into parquet
    (row-group skipping) and prunes columns.
  - dimension tables get explicit ``broadcast()`` hints: at any scale they
    are O(MB) and a broadcast-hash join avoids shuffling the fact side.
  - aggregates run partial→final automatically (hash agg with map-side
    combine); top-k compiles to TakeOrderedAndProject (no global sort).
  - all money aggregates are rounded in-query (both engines) so float
    last-ulp differences can't flip the driver's value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1: multi-key hash aggregate, 8 aggregates.
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                        AS sum_qty,
  round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 2) AS sum_base_price,
  round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000, 2) AS sum_disc_price,
  round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000, 2) AS sum_charge,
  round(avg(l_quantity), 4)                                        AS avg_qty,
  round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / count(*), 4) AS avg_price,
  round(CAST(sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 / count(*), 4) AS avg_disc,
  count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Money aggregates use deterministic fixed-point snapping (cents for
    # raw price, e-4 for products): double sums depend on partial-agg
    # order and diverge from the oracle in the last ulp exactly on a
    # rounding boundary at stress tiers; per-row-snapped integer sums
    # are order-independent. floor(x+0.5), not round(): same half-up
    # result on these all-positive columns via pure IEEE arithmetic
    # (bit-identical across engines), without Spark round()'s per-row
    # BigDecimal cost (~2x q1 wall at sf0.1). sum/avg of l_quantity stay
    # raw — the column is integral, so its double sum is exact anyway.
    cents = F.sum(money.cents_floor("l_extendedprice"))
    disc_e4 = F.sum(F.floor(disc_price * 10000 + 0.5).cast("long"))
    charge_e4 = F.sum(
        F.floor(disc_price * (1 + F.col("l_tax")) * 10000 + 0.5).cast("long")
    )
    disc_only_e4 = F.sum(F.floor(F.col("l_discount") * 10000 + 0.5).cast("long"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(cents / 100, 2).alias("sum_base_price"),
            F.round(disc_e4 / 10000, 2).alias("sum_disc_price"),
            F.round(charge_e4 / 10000, 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(cents / 100 / n, 4).alias("avg_price"),
            F.round(disc_only_e4 / 10000 / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q6_forecast_revenue — TPC-H Q6: conjunctive filter + scalar aggregate.
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT round(CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS DOUBLE) / 10000, 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000).cast(
                        "long"
                    )
                )
                / 10000,
                2,
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# q3_top_unshipped — TPC-H Q3 adapted (no o_shippriority): 3-way join +
# agg + top-k. Top-k ordering is made total (rounded revenue, then keys) so
# LIMIT picks identical rows in both engines.
# ---------------------------------------------------------------------------

_Q3_ORACLE = """
SELECT
  l_orderkey,
  round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000, 2) AS revenue,
  o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_top_unshipped", oracle=_Q3_ORACLE)
def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        # customer is a dimension: broadcast to avoid shuffling lineitem.
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        # Exact e-4 fixed point (r10 float-sum audit): per-order groups are
        # small, but the class is closed uniformly — see q5's note.
        .agg(
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                        + 0.5
                    ).cast("long")
                )
                / 10000,
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# q5_regional_revenue — TPC-H Q5 adapted: 6-way join with the compound
# customer-nation = supplier-nation condition.
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT
  n_name,
  round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000, 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@register("q5_regional_revenue", oracle=_Q5_ORACLE)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        # Exact e-4 fixed point (price 2dp × discount 2dp → product exact
        # at 4dp): double-summing 6M+ products diverges from DuckDB's sum
        # order in the last ulp exactly on a 2dp rounding boundary at the
        # sf1 stress tier; integer cents-of-cents sum identically anywhere.
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                    ).cast("long")
                )
                / 10000,
                2,
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# q10_returned_items — TPC-H Q10 adapted: join + group + top-20 by revenue.
# ---------------------------------------------------------------------------

_Q10_ORACLE = """
SELECT
  c_custkey,
  c_name,
  round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000, 2) AS revenue,
  round(c_acctbal, 2)                               AS acctbal,
  n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-10-01 00:00:00").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                        + 0.5
                    ).cast("long")
                )
                / 10000,
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "n_name",
        )
    )


# ---------------------------------------------------------------------------
# q_predicates — IN / LIKE / IS NULL / CASE WHEN over orders.
# ---------------------------------------------------------------------------

_PRED_ORACLE = """
SELECT
  o_orderpriority,
  count(*)                                                        AS n_orders,
  count(CASE WHEN o_totalprice > 200000 THEN 1 END)               AS n_big,
  CAST(sum(CASE WHEN o_orderstatus IN ('F', 'O') THEN 1 ELSE 0 END) AS BIGINT) AS n_done_or_open,
  count(nullif(o_orderstatus, 'P'))                               AS n_not_pending,
  round(CAST(sum(CASE WHEN o_orderstatus = 'F'
                      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END)
             AS DOUBLE) / 100
        / count(CASE WHEN o_orderstatus = 'F' THEN 1 END), 2) AS avg_f_price
FROM orders
WHERE o_orderpriority LIKE '%-%' AND o_orderpriority NOT LIKE '%LOW%'
GROUP BY o_orderpriority
"""


@register("q_predicates", oracle=_PRED_ORACLE)
def q_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(
            F.col("o_orderpriority").like("%-%") & ~F.col("o_orderpriority").like("%LOW%")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_big"),
            F.sum(
                F.when(F.col("o_orderstatus").isin("F", "O"), 1).otherwise(0)
            ).alias("n_done_or_open"),
            F.count(F.nullif(F.col("o_orderstatus"), F.lit("P"))).alias("n_not_pending"),
            # Exact-cents avg (r10 float-sum audit): sum cents as BIGINT,
            # divide once — avg(double) depends on partial-agg order.
            F.round(
                F.sum(
                    F.when(
                        F.col("o_orderstatus") == "F",
                        money.cents_floor("o_totalprice"),
                    )
                ).cast("double")
                / 100
                / F.count(F.when(F.col("o_orderstatus") == "F", 1)),
                2,
            ).alias("avg_f_price"),
        )
    )
