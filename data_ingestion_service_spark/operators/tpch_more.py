"""TPC-H fill-out: Q2/Q7/Q8/Q9/Q11/Q13/Q15/Q16/Q21 adapted to the fixture
schema (SURVEY.md §2.8; reference test corpus parity — the fixture lacks
partsupp, l_commitdate/receiptdate/shipmode and the comment columns, so
cost/wait predicates are re-expressed on the columns that exist; each
docstring states the adaptation).

Numeric discipline: revenue terms use exact integer scaling —
``money.vol_e4`` (price cents × (1-discount) cents) is an exact e-4
fixed-point product, so sums are integral and cross-engine hash-stable
with no float-rounding boundary risk (SURVEY.md §5).

Scale notes: every dimension join is broadcast; the only shuffles are
the fact-side aggregations. The Q21 exists/not-exists pair compiles to
hash semi/anti joins on l_orderkey with residual suppkey predicates —
no nested loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register


# ---------------------------------------------------------------------------
# q2_min_cost_supplier — TPC-H Q2 adapted: no partsupp table, so supply
# cost is proxied by the cheapest lineitem (integer cents) each supplier
# ever shipped for the part; the correlated "minimum cost in region"
# subquery becomes a window-min over the part key — identical semantics,
# one scan.
# ---------------------------------------------------------------------------

_Q2_ORACLE = """
WITH cost AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cost_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY 1, 2
),
m AS (
  SELECT partkey, suppkey, cost_cents,
         min(cost_cents) OVER (PARTITION BY partkey) AS min_cost
  FROM cost
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       p_partkey, p_brand, cost_cents
FROM m
JOIN part     ON p_partkey = partkey
JOIN supplier ON s_suppkey = suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE cost_cents = min_cost AND p_size = 15 AND p_type = 'STANDARD'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("q2_min_cost_supplier", oracle=_Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    euro_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(F.broadcast(euro_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
        )
        .agg(
            F.min(money.cents("l_extendedprice")).alias("cost_cents")
        )
    )
    m = cost.withColumn(
        "min_cost", F.min("cost_cents").over(Window.partitionBy("partkey"))
    ).filter(F.col("cost_cents") == F.col("min_cost"))
    return (
        m.join(
            F.broadcast(
                part.filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
            ),
            F.col("p_partkey") == F.col("partkey"),
        )
        .join(F.broadcast(euro_supp), F.col("s_suppkey") == F.col("suppkey"))
        .select(
            F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            "cost_cents",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q7_volume_shipping — TPC-H Q7: bidirectional nation-pair trade volume by
# ship year. Only adaptation: fixture nation names.
# ---------------------------------------------------------------------------

_Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume_e4) AS BIGINT) AS revenue_e4
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         {money.VOL_E4_SQL} AS volume_e4
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY 1, 2, 3
"""


@register("q7_volume_shipping", oracle=_Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(money.vol_e4()).alias("revenue_e4"))


# ---------------------------------------------------------------------------
# q8_market_share — TPC-H Q8: NATION_3 suppliers' share of PROMO-part
# revenue sold to EUROPE customers, by order year. The share divides two
# exact e-4 integers, so the double quotient is bit-identical across
# engines before the 6-dp display rounding.
# ---------------------------------------------------------------------------

_Q8_ORACLE = f"""
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume_e4 ELSE 0 END)::DOUBLE
             / sum(volume_e4)::DOUBLE, 6) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         {money.VOL_E4_SQL} AS volume_e4,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY o_year
"""


@register("q8_market_share", oracle=_Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    base = (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == "PROMO")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            money.vol_e4().alias("volume_e4"),
            "nation",
        )
    )
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume_e4")).otherwise(0))
            .cast("double")
            / F.sum("volume_e4").cast("double"),
            6,
        ).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# q9_product_profit — TPC-H Q9 adapted: the fixture has no partsupp, so
# profit omits the supplycost term (pure discounted revenue) — the
# nation×year rollup over a LIKE-filtered part join is the exercised
# shape.
# ---------------------------------------------------------------------------

_Q9_ORACLE = f"""
SELECT nation, o_year, CAST(sum(volume_e4) AS BIGINT) AS profit_e4
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         {money.VOL_E4_SQL} AS volume_e4
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
)
GROUP BY 1, 2
"""


@register("q9_product_profit", oracle=_Q9_ORACLE)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("%red%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(money.vol_e4()).alias("profit_e4"))
    )


# ---------------------------------------------------------------------------
# q11_important_parts — TPC-H Q11 adapted: inventory value per part is the
# summed lineitem cents shipped by suppliers of three nations; HAVING
# compares against a scalar fraction of the grand total (broadcast scalar
# join, no second scan thanks to the CTE reuse).
# ---------------------------------------------------------------------------

_Q11_ORACLE = """
WITH pv AS (
  SELECT l_partkey AS partkey,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY 1
)
SELECT partkey, value_cents
FROM pv
WHERE value_cents::DOUBLE > (SELECT sum(value_cents)::DOUBLE / 5000 FROM pv)
"""


@register("q11_important_parts", oracle=_Q11_ORACLE)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pv = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(
                nation.filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(money.cents("l_extendedprice")).alias("value_cents")
        )
    )
    total = pv.agg(
        (F.sum("value_cents").cast("double") / 5000).alias("threshold")
    )
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents").cast("double") > F.col("threshold"))
        .select("partkey", "value_cents")
    )


# ---------------------------------------------------------------------------
# q13_order_distribution — TPC-H Q13: distribution of per-customer order
# counts, with the join-predicate filter (non-urgent orders) preserved on
# the LEFT JOIN so zero-order customers stay in the histogram.
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


@register("q13_order_distribution", oracle=_Q13_ORACLE)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# q15_top_supplier — TPC-H Q15: quarterly revenue per supplier; the view
# becomes a CTE/DataFrame reused for both the ranking scan and the scalar
# max (exact e-4 integers make the max unambiguous).
# ---------------------------------------------------------------------------

_Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey AS suppkey, CAST(sum({money.VOL_E4_SQL}) AS BIGINT) AS total_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_e4
FROM supplier JOIN rev ON s_suppkey = suppkey
WHERE total_e4 = (SELECT max(total_e4) FROM rev)
"""


@register("q15_top_supplier", oracle=_Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(money.vol_e4()).alias("total_e4"))
    )
    max_rev = rev.agg(F.max("total_e4").alias("max_e4"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_e4") == F.col("max_e4"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("suppkey"))
        .select("s_suppkey", "s_name", "total_e4")
    )


# ---------------------------------------------------------------------------
# q16_part_supplier_cnt — TPC-H Q16 adapted: supplier variety per part
# attribute triple, counted from lineitem (no partsupp); the excluded-
# supplier subquery keeps the NOT IN shape (negative balances stand in
# for the complaint predicate).
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


@register("q16_part_supplier_cnt", oracle=_Q16_ORACLE)
def q16_part_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    bad_supp = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(
            F.broadcast(
                part.filter(
                    (F.col("p_brand") != "Brand#5")
                    & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
                )
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q21_waiting_supplier — TPC-H Q21 adapted: no receipt/commit dates, so
# "kept waiting" = this supplier's line came back 'R' in a finished
# multi-supplier order where no other supplier's line did. Preserves the
# EXISTS (semi) + NOT EXISTS (anti) pair on a self-joined fact.
# ---------------------------------------------------------------------------

_Q21_ORACLE = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
JOIN nation    ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND n_name IN ('NATION_4', 'NATION_5')
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("q21_waiting_supplier", oracle=_Q21_ORACLE)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey")
    )
    waiting = (
        l1.join(
            orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l_suppkey") != F.col("l3_suppkey")),
            "left_anti",
        )
    )
    target_supp = (
        supp.join(
            F.broadcast(nation.filter(F.col("n_name").isin("NATION_4", "NATION_5"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        waiting.join(F.broadcast(target_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q12_late_shipments — TPC-H Q12 adapted: no l_shipmode/l_receiptdate in
# the fixture, so "late" = shipped more than 90 days after the order
# date, counted per order priority (same conditional-count-over-join
# shape as the original's two-mode CASE sums).
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
       count(*)                             AS total_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@register("q12_late_shipments", oracle=_Q12_ORACLE)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.when(
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 90 days"),
                    1,
                ).otherwise(0)
            ).alias("late_count"),
            F.count(F.lit(1)).alias("total_count"),
        )
    )


# ---------------------------------------------------------------------------
# q20_promo_volume_suppliers — TPC-H Q20 adapted: no partsupp/dates, so
# the "excess stock" predicate becomes: suppliers who shipped more than
# half of a PROMO part's total quantity (quantities are integer-valued
# doubles — sums and the ×2 comparison are exact).
# ---------------------------------------------------------------------------

_Q20_ORACLE = """
WITH part_qty AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'PROMO'
  GROUP BY 1, 2
),
tot AS (
  SELECT l_partkey, sum(supp_qty) AS total_qty FROM part_qty GROUP BY 1
)
SELECT DISTINCT s_suppkey, s_name
FROM part_qty pq
JOIN tot ON tot.l_partkey = pq.l_partkey
JOIN supplier ON s_suppkey = pq.l_suppkey
WHERE pq.supp_qty * 2 > tot.total_qty
"""


@register("q20_promo_volume_suppliers", oracle=_Q20_ORACLE)
def q20_promo_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    part_qty = (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == "PROMO")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    tot = part_qty.groupBy("l_partkey").agg(F.sum("supp_qty").alias("total_qty"))
    return (
        part_qty.join(tot, "l_partkey")
        .filter(F.col("supp_qty") * 2 > F.col("total_qty"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
    )
