"""Aggregation variants: exact/approx distinct, ROLLUP/CUBE, HAVING,
statistical aggregates (SURVEY.md §2.4).

All Spark hash aggregates run partial (map-side) + final automatically;
ROLLUP/CUBE expand grouping sets in a single shuffle. ``approx_count_
distinct`` is the HLL sketch — constant memory per group at any scale,
registered without an oracle (approx ≠ hash-matchable by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_distinct_users — exact count-distinct per group.
# ---------------------------------------------------------------------------

_DISTINCT_ORACLE = """
SELECT
  event_type,
  count(DISTINCT user_id)        AS n_users,
  count(*)                       AS n_events,
  round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 2)
                                 AS total_value
FROM events
GROUP BY event_type
"""


@register("q_distinct_users", oracle=_DISTINCT_ORACLE)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        # Exact-cents sum (q19 lesson): per-type groups are 1M+ rows
        # at stress tiers; value is exactly 2dp by fixture construction.
        money.money_sum(money.cents("value")).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q_approx_distinct — HLL approximate count-distinct, made driver-checkable:
# the raw sketch estimate is engine-specific, so the query verifies the
# estimate against the exact distinct count computed in the same aggregate
# and emits the exact count plus a boolean error-bound check (rsd=0.01 →
# assert within 5%, far beyond HLL's tail risk and deterministic on the
# fixed fixture). The HLL sketch is still genuinely exercised; the oracle
# asserts the bound holds (hll_ok = TRUE for every group).
# ---------------------------------------------------------------------------

_APPROX_DISTINCT_ORACLE = """
SELECT
  event_type,
  count(*)                 AS n_events,
  count(DISTINCT user_id)  AS n_users_exact,
  TRUE                     AS hll_ok
FROM events
GROUP BY event_type
"""


@register("q_approx_distinct", oracle=_APPROX_DISTINCT_ORACLE)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level aggregate instead of countDistinct-next-to-approx in one
    # agg: mixing exact-distinct and non-distinct aggregates compiles to
    # an Expand (3x the input rows through the shuffle) — 31.9s cold at
    # the sf5 stress tier vs 2.0s for this shape (r9 census follow-up).
    # Level 1 reduces to (event_type, user_id) pairs map-side; level 2
    # gets the exact distinct as a plain count and feeds the HLL the
    # pair set — duplicate-insensitive, so the sketch estimate is
    # IDENTICAL to one built over the raw rows (verified value-equal).
    events = load_table(spark, sf_dir, "events")
    pairs = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return pairs.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_users_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.01)
                - F.count(F.lit(1))
            )
            <= F.count(F.lit(1)) * 0.05
        ).alias("hll_ok"),
    )


# ---------------------------------------------------------------------------
# q_rollup_orders / q_cube_orders — grouping-set aggregates.
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  count(*)                      AS n_orders,
  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@register("q_rollup_orders", oracle=_ROLLUP_ORACLE)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Exact cents sum (o_totalprice is 2dp-exact) — the grand-total row
    # sums millions of doubles at stress tiers, where engine-vs-oracle
    # summation order diverges in the last ulp on rounding boundaries.
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money.money_sum(money.cents("o_totalprice")).alias("total_price"),
    )


_CUBE_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  count(*)                      AS n_orders,
  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*), 4) AS avg_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("q_cube_orders", oracle=_CUBE_ORACLE)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # avg derived from the exact cents sum (see q_rollup_orders).
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(money.cents("o_totalprice"))
            / 100
            / F.count(F.lit(1)),
            4,
        ).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# q_having — post-aggregation filter.
# ---------------------------------------------------------------------------

_HAVING_ORACLE = """
SELECT o_custkey, count(*) AS n_orders,
       round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 2) AS spend
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15
"""


@register("q_having", oracle=_HAVING_ORACLE)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        # Exact-cents spend (r10 float-sum audit): a raw double sum's
        # addition order is partition-dependent; integer cents are not.
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money.money_sum(money.cents_floor("o_totalprice")).alias("spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )


# ---------------------------------------------------------------------------
# q_stats — stddev / variance / min / max / exact interpolated percentile.
# Variance magnitudes are ~price², so it is rounded coarsely (2dp) to keep
# last-ulp engine differences away from rounding boundaries (SURVEY.md §5).
# ---------------------------------------------------------------------------

_STATS_ORACLE = """
SELECT
  l_returnflag,
  round(stddev_samp(l_extendedprice), 2)        AS sd_price,
  round(var_samp(l_extendedprice), 0)           AS var_price,
  round(min(l_extendedprice), 2)                AS min_price,
  round(max(l_extendedprice), 2)                AS max_price,
  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
  round(avg(l_quantity), 4)                     AS avg_qty
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q_corr_stats — bivariate + shape statistics: Pearson correlation,
# sample covariance, skewness. Values are O(1)–O(price²); rounding sits
# far above both engines' last-ulp noise for each magnitude.
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
SELECT
  l_returnflag,
  round(corr(l_quantity, l_extendedprice), 6)        AS qty_price_corr,
  round(covar_samp(l_quantity, l_discount), 6)       AS qty_disc_covar,
  round(skewness(l_extendedprice), 4)                AS price_skew,
  count(*)                                           AS n
FROM lineitem
GROUP BY l_returnflag
"""


@register("q_corr_stats", oracle=_CORR_ORACLE)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    # Spark's skewness is the population estimator g1 = m3/m2^1.5; DuckDB
    # reports the bias-corrected sample estimator G1 = g1·√(n(n−1))/(n−2).
    g1_to_G1 = F.sqrt(n * (n - 1)) / (n - 2)
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
        F.round(F.skewness("l_extendedprice") * g1_to_G1, 4).alias("price_skew"),
        n.alias("n"),
    )


# ---------------------------------------------------------------------------
# q_bool_agg — boolean aggregates (every / any ≡ bool_and / bool_or).
# ---------------------------------------------------------------------------

_BOOL_ORACLE = """
SELECT
  o_orderstatus,
  bool_and(o_totalprice > 1000)    AS all_over_1k,
  bool_or(o_totalprice > 400000)   AS any_over_400k,
  count(*)                         AS n
FROM orders
GROUP BY o_orderstatus
"""


@register("q_bool_agg", oracle=_BOOL_ORACLE)
def q_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count(F.lit(1)).alias("n"),
    )


@register("q_stats", oracle=_STATS_ORACLE)
def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.var_samp("l_extendedprice"), 0).alias("var_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("median_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


# ---------------------------------------------------------------------------
# q_group_median — exact per-group percentiles (interpolated): median and
# p90 of extended price per return flag. Spark's `percentile` and
# DuckDB's `quantile_cont` share the linear-interpolation definition, so
# 4dp rounding on both sides is hash-stable. Exact percentiles need the
# full sorted group (one shuffle, sort within groups); at 100 TB you
# reach for approx_percentile's mergeable sketch unless exactness is a
# requirement — both surfaces exist in this engine (q_stats pins the
# global exact path).
# ---------------------------------------------------------------------------

_GROUP_MEDIAN_ORACLE = """
SELECT
  l_returnflag,
  count(*)                                            AS n,
  round(quantile_cont(l_extendedprice, 0.5), 4)       AS median_price,
  round(quantile_cont(l_extendedprice, 0.9), 4)       AS p90_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("q_group_median", oracle=_GROUP_MEDIAN_ORACLE)
def q_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
    )


# ---------------------------------------------------------------------------
# q_group_mad — median absolute deviation per group: the robust spread
# statistic (outlier-insensitive, unlike stddev). Two exact-percentile
# passes: group medians first (broadcast back — a handful of rows), then
# the median of |x − median| per group. Same interpolated-percentile
# parity contract as q_group_median (Spark percentile == DuckDB
# quantile_cont). At 100 TB each pass is one shuffle keyed by the group;
# the approximate path would swap in percentile_approx / KLL sketches.
# ---------------------------------------------------------------------------

_GROUP_MAD_ORACLE = """
WITH med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
  FROM lineitem GROUP BY l_returnflag
)
SELECT
  l.l_returnflag,
  count(*) AS n,
  round(any_value(med.med), 4) AS median_price,
  round(quantile_cont(abs(l.l_extendedprice - med.med), 0.5), 4) AS mad_price
FROM lineitem l JOIN med ON med.l_returnflag = l.l_returnflag
GROUP BY l.l_returnflag
"""


@register("q_group_mad", oracle=_GROUP_MAD_ORACLE)
def q_group_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.any_value("med"), 4).alias("median_price"),
            F.round(
                F.percentile(F.abs(F.col("l_extendedprice") - F.col("med")), 0.5), 4
            ).alias("mad_price"),
        )
    )


# ---------------------------------------------------------------------------
# q_percentile_cont — CONTINUOUS (interpolated) percentiles per event
# type, pinning Spark's exact `percentile()` against DuckDB's
# `quantile_cont`: both implement the ANSI percentile_cont linear
# interpolation lo + frac·(hi − lo) over the sorted group, and on
# integer-cents inputs the doubles come out bit-identical (probed:
# 11201.000000000004 on BOTH engines) — rounded at 4dp in-query anyway
# per SURVEY §5. The interpolated complement of the discrete-quantile
# keys (q_group_median / q_weighted_quantile / q_sample_quantile_audit
# pick elements; this one interpolates between them).
#
# Scale: Spark's exact percentile buffers each GROUP's values — fine
# at |event types| groups; for high-cardinality groups the swap is
# approx_percentile (sketch-mergeable), documented not shipped.
# ---------------------------------------------------------------------------

_PCTL_CONT_ORACLE = """
SELECT event_type,
       round(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5), 4)
         AS p50_cents,
       round(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.9), 4)
         AS p90_cents,
       round(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.99), 4)
         AS p99_cents
FROM events
GROUP BY 1
"""


@register("q_percentile_cont", oracle=_PCTL_CONT_ORACLE)
def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = money.cents_sql("value")
    return ev.groupBy("event_type").agg(
        F.expr(f"round(percentile({cents}, 0.5), 4)").alias("p50_cents"),
        F.expr(f"round(percentile({cents}, 0.9), 4)").alias("p90_cents"),
        F.expr(f"round(percentile({cents}, 0.99), 4)").alias("p99_cents"),
    )


# ---------------------------------------------------------------------------
# q_equi_depth_histogram — 10 equal-FREQUENCY buckets of order value:
# boundary = the exact cents value at rank ceil(k·n/10), plus each
# bucket's row count and integer-cents mean. This is the histogram a
# cost-based optimizer keeps (equi-depth bounds worst-case selectivity
# error, unlike the equi-WIDTH q_histogram whose hot buckets go blind),
# and the discrete-rank construction is engine-exact where quantile
# interpolation would not be.
#
# Exactness: boundaries are elements picked by integer rank over the
# (cents, o_orderkey) total order; bucket membership = rank intervals;
# counts/means are exact integers.
#
# Scale: one rank window over orders (swap to approx boundaries at
# 100 TB — q_rfm_segments' documented trade), then a 10-cell rollup.
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders
),
r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_orderkey) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM o
),
b AS (
  SELECT cents, rk, n,
         least(((rk - 1) * 10) // n + 1, 10) AS bucket
  FROM r
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(cents) AS BIGINT) AS lo_cents,
       CAST(max(cents) AS BIGINT) AS hi_cents,
       CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
FROM b
GROUP BY 1
"""


@register("q_equi_depth_histogram", oracle=_EQUIDEPTH_ORACLE)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        money.cents("o_totalprice").alias("cents"),
        "o_orderkey",
    )
    w = Window.orderBy("cents", "o_orderkey")
    w_all = Window.orderBy("cents", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = o.select(
        "cents",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
    )
    b = r.select(
        "cents",
        F.least(
            F.expr("((rk - 1) * 10) div n + 1"), F.lit(10).cast("bigint")
        ).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("cents").cast("bigint").alias("lo_cents"),
        F.max("cents").cast("bigint").alias("hi_cents"),
        F.expr("cast(sum(cents) div count(*) as bigint)").alias(
            "mean_cents"
        ),
    )
