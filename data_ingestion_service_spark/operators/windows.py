"""Window functions: rank, running frames, lag/lead, ntile, plus dedicated
top-k and sampling (SURVEY.md §2.5, §2.6).

Determinism discipline: every window ORDER BY is made total by appending a
unique key column, and ranking is done on *rounded* measures so both
engines rank identical values (SURVEY.md §5). Running sums accumulate
already-rounded per-day values in a unique total order, so the float fold
is bit-identical across engines.

Scale: windows partitioned by a key shuffle once on that key; the global
ORDER BY windows (running revenue over all days) are single-partition by
nature — fine here because they run over an already-aggregated input
(one row per day), which is the scalable shape for global cumulative
analytics at any fact-table size. Top-k compiles to TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_window_rank — top-5 customers by order spend within each market segment.
# ---------------------------------------------------------------------------

_RANK_ORACLE = """
SELECT c_mktsegment, c_custkey, total, rnk
FROM (
  SELECT
    c_mktsegment, c_custkey, total,
    rank() OVER (PARTITION BY c_mktsegment ORDER BY total DESC, c_custkey) AS rnk
  FROM (
    SELECT c_mktsegment, c_custkey,
           round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 2) AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment, c_custkey
  )
)
WHERE rnk <= 5
"""


@register("q_window_rank", oracle=_RANK_ORACLE)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        # Exact-cents total (r10 float-sum audit): rank order must not
        # depend on a double sum's partition-dependent last ulp.
        .agg(
            money.money_sum(money.cents_floor("o_totalprice")).alias("total")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("total"), F.asc("c_custkey"))
    return (
        spend.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 5)
        .select("c_mktsegment", "c_custkey", "total", "rnk")
    )


# ---------------------------------------------------------------------------
# q_running_revenue — cumulative daily revenue (explicit ROWS frame).
# ---------------------------------------------------------------------------

_RUNNING_ORACLE = """
SELECT
  o_orderdate,
  round(CAST(daily_cents AS DOUBLE) / 100, 2) AS daily_rev,
  round(CAST(sum(daily_cents) OVER (
    ORDER BY o_orderdate
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) / 100, 2) AS running_rev
FROM (
  SELECT o_orderdate,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS daily_cents
  FROM orders GROUP BY o_orderdate
)
"""


@register("q_running_revenue", oracle=_RUNNING_ORACLE)
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Window arithmetic stays in integer cents (r10 float-sum audit): a
    # cumulative DOUBLE window sum is engine-implementation-dependent
    # (running accumulator vs segment tree → different addition order);
    # the integer sum is associative, so the frame evaluation order
    # cannot matter. Divide/round once at projection.
    daily = orders.groupBy("o_orderdate").agg(
        F.sum(money.cents_floor("o_totalprice")).alias("daily_cents")
    )
    w = Window.orderBy("o_orderdate").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "o_orderdate",
        F.round(F.col("daily_cents") / 100, 2).alias("daily_rev"),
        F.round(F.sum("daily_cents").over(w) / 100, 2).alias("running_rev"),
    )


# ---------------------------------------------------------------------------
# q_lag_lead — day-over-day deltas on daily revenue.
# ---------------------------------------------------------------------------

_LAG_ORACLE = """
SELECT
  o_orderdate,
  round(CAST(daily_cents AS DOUBLE) / 100, 2) AS daily_rev,
  round(CAST(daily_cents - lag(daily_cents, 1)  OVER (ORDER BY o_orderdate) AS DOUBLE) / 100, 2) AS delta_prev,
  round(CAST(lead(daily_cents, 1) OVER (ORDER BY o_orderdate) - daily_cents AS DOUBLE) / 100, 2) AS delta_next
FROM (
  SELECT o_orderdate,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS daily_cents
  FROM orders GROUP BY o_orderdate
)
"""


@register("q_lag_lead", oracle=_LAG_ORACLE)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Deltas computed in integer cents (r10 float-sum audit; see
    # q_running_revenue) — division/rounding only at projection.
    daily = orders.groupBy("o_orderdate").agg(
        F.sum(money.cents_floor("o_totalprice")).alias("daily_cents")
    )
    w = Window.orderBy("o_orderdate")
    return daily.select(
        "o_orderdate",
        F.round(F.col("daily_cents") / 100, 2).alias("daily_rev"),
        F.round(
            (F.col("daily_cents") - F.lag("daily_cents", 1).over(w)) / 100, 2
        ).alias("delta_prev"),
        F.round(
            (F.lead("daily_cents", 1).over(w) - F.col("daily_cents")) / 100, 2
        ).alias("delta_next"),
    )


# ---------------------------------------------------------------------------
# q_ntile_dense — ntile / dense_rank / row_number over customers.
# ---------------------------------------------------------------------------

_NTILE_ORACLE = """
SELECT
  c_custkey,
  ntile(4)     OVER (ORDER BY c_acctbal, c_custkey)        AS bal_quartile,
  dense_rank() OVER (ORDER BY c_nationkey)                 AS nation_rank,
  row_number() OVER (ORDER BY c_acctbal DESC, c_custkey)   AS bal_rn
FROM customer
"""


@register("q_ntile_dense", oracle=_NTILE_ORACLE)
def q_ntile_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.ntile(4).over(Window.orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))).alias(
            "bal_quartile"
        ),
        F.dense_rank().over(Window.orderBy("c_nationkey")).alias("nation_rank"),
        F.row_number()
        .over(Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey")))
        .alias("bal_rn"),
    )


# ---------------------------------------------------------------------------
# q_topk — ORDER BY ... LIMIT k (plans as TakeOrderedAndProject: per-
# partition heaps + driver merge; no global sort at any scale).
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@register("q_topk", oracle=_TOPK_ORACLE)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select(
            "o_orderkey", "o_custkey", F.round(F.col("o_totalprice"), 2).alias("totalprice")
        )
    )


# ---------------------------------------------------------------------------
# q_sample — deterministic hash-based sample (1/16 of rows): rows whose
# md5 of a stable row key starts with '0'. Unlike seeded-RNG Bernoulli
# sampling, this is exactly reproducible across engines, runs, AND
# cluster re-partitionings — the property a 100 TB training-data
# pipeline needs for auditable holdouts (same row set every rerun, no
# dependency on partition iteration order). md5 hex is the
# cross-engine-stable hash family, so the oracle checks it exactly.
# Aggregates are exact integers (quantities are integral, prices in
# cents) — no float-rounding divergence possible.
# ---------------------------------------------------------------------------

_SAMPLE_ORACLE = """
SELECT
  l_returnflag,
  count(*)                                                   AS n_sampled,
  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)     AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem
WHERE substr(md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR), 1, 1) = '0'
GROUP BY l_returnflag
"""


@register("q_sample", oracle=_SAMPLE_ORACLE)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    row_key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    return (
        li.filter(F.substring(F.md5(row_key), 1, 1) == "0")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("sum_qty"),
            F.sum(money.cents("l_extendedprice")).alias("price_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_percent_rank — percent_rank / cume_dist per market segment: the
# relative-standing window functions (both are exact small-integer
# ratios — (rank-1)/(n-1) and rank_hi/n — so cross-engine parity is a
# non-issue even before rounding).
# ---------------------------------------------------------------------------

_PERCENT_RANK_ORACLE = """
SELECT
  c_custkey,
  c_mktsegment,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist()    OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


@register("q_percent_rank", oracle=_PERCENT_RANK_ORACLE)
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
