"""Join variants beyond plain equi-inner: semi/anti, outer, band/theta,
and the as-of enrichment join (SURVEY.md §2.3).

Scale notes:
  - semi/anti compile to broadcast/shuffled hash semi-joins; Spark never
    materializes the probe side's payload columns.
  - the band join keeps an equi component (``l_partkey = p_partkey``) so it
    plans as a hash join with a residual range predicate — NOT a nested
    loop; this is the pattern that survives 100 TB.
  - as-of join: no native Spark as-of; implemented as equi-join on the
    entity key + window top-1 on the time condition. The join shuffles by
    user key (even distribution here); the window partitions by event_id
    which is unique → no skew. At extreme fan-out per key, the scale path
    is per-key merge via applyInPandas over key-range buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_semi_anti — orders with / without lineitems (left-semi + left-anti).
# ---------------------------------------------------------------------------

_SEMI_ANTI_ORACLE = """
SELECT
  (SELECT count(*) FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey))     AS n_with_items,
  (SELECT count(*) FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)) AS n_without_items
"""


@register("q_semi_anti", oracle=_SEMI_ANTI_ORACLE)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    on = F.col("o_orderkey") == F.col("l_orderkey")
    semi = orders.join(li, on, "left_semi").agg(F.count(F.lit(1)).alias("n_with_items"))
    anti = orders.join(li, on, "left_anti").agg(F.count(F.lit(1)).alias("n_without_items"))
    return semi.crossJoin(anti)


# ---------------------------------------------------------------------------
# q_outer_join — left outer + NULL handling via coalesce.
# ---------------------------------------------------------------------------

_OUTER_ORACLE = """
SELECT
  o_orderstatus,
  count(*)                                              AS n_rows,
  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
  round(CAST(sum(CAST(round(coalesce(l_extendedprice, 0.0) * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_price
FROM orders
LEFT JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


@register("q_outer_join", oracle=_OUTER_ORACLE)
def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("n_unmatched"),
            # Exact cents sum (l_extendedprice is 2dp-exact): plain double
            # summation diverged from DuckDB in the last ulp on a rounding
            # boundary at the sf1 stress tier (6M rows).
            money.money_sum(
                money.cents(F.coalesce(F.col("l_extendedprice"), F.lit(0.0)))
            ).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# q_theta_range — band join: lineitems whose quantity falls within ±5 of
# their part's size (equi on partkey + range residual).
# ---------------------------------------------------------------------------

_THETA_ORACLE = """
SELECT
  p_size,
  count(*)                          AS n_items,
  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        / 100, 2)                   AS band_price
FROM part
JOIN lineitem
  ON l_partkey = p_partkey
 AND l_quantity BETWEEN p_size - 5 AND p_size + 5
GROUP BY p_size
"""


@register("q_theta_range", oracle=_THETA_ORACLE)
def q_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(part),
            (F.col("l_partkey") == F.col("p_partkey"))
            & F.col("l_quantity").between(F.col("p_size") - 5, F.col("p_size") + 5),
        )
        .groupBy("p_size")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # Exact-cents sum (q19 lesson): ~50 size bands over matched
            # lineitem are 100k+-row groups at stress tiers.
            money.money_sum(money.cents("l_extendedprice")).alias("band_price"),
        )
    )


# ---------------------------------------------------------------------------
# q_asof_enrich — as-of join: each event picks the latest order of the same
# user with o_orderdate <= event ts (standard stream-enrichment pattern).
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT event_id, user_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
FROM (
  SELECT
    e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
    row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
    ) AS rn
  FROM events e
  JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
) WHERE rn = 1
"""


@register("q_asof_enrich", oracle=_ASOF_ORACLE)
def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        events.select("event_id", "user_id", "ts")
        .join(
            orders,
            (F.col("user_id") == F.col("o_custkey"))
            & (F.col("o_orderdate") <= F.col("ts")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("o_orderkey").alias("asof_orderkey"),
            F.col("o_orderdate").alias("asof_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# q_skew_join_salted — skew-resistant equi-join: the (skewed) fact side is
# salted with pmod(hash, 16) and the dimension side is replicated across
# all 16 salt values (explode of a literal range), so one hot join key
# spreads over 16 reducers instead of melting a single one. The join runs
# on (key, salt); results are invariant vs the plain join the oracle runs.
# Counts and integer-cent sums keep the post-join aggregate exact. This is
# the manual fallback for when AQE's skew-join split cannot kick in (e.g.
# a shuffle-free bucketed plan or an explicitly hinted strategy).
# ---------------------------------------------------------------------------

_SKEW_JOIN_ORACLE = """
SELECT
  o.o_orderpriority,
  count(*) AS n_items,
  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register("q_skew_join_salted", oracle=_SKEW_JOIN_ORACLE)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salts = 16
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salts))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
        )
    )
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey) & (li.salt == orders.salt),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            money.cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# q_null_skew_join — the null-key skew bypass: in real feeds a large
# fraction of foreign keys are NULL (unattributed sessions, guest
# checkouts), and a naive outer join hashes EVERY null row to one
# reducer — the single most common production join skew. The fix is
# structural, not statistical: split the probe side, join ONLY the
# non-null rows (nulls can never match anyway), and union the null rows
# back with null-extended columns — the null "partition" never enters
# the shuffle at all, at any scale. Here ~1/7 of orders get their
# custkey deterministically nulled (the fixture has no organic nulls;
# the same expression runs in both engines), and the oracle is the
# plain LEFT JOIN over the identical nullified key — proving the
# split-union rewrite is result-identical.
# ---------------------------------------------------------------------------

_NULL_SKEW_ORACLE = """
WITH o AS (
  SELECT o_orderkey,
         CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END AS k,
         o_totalprice
  FROM orders
)
SELECT coalesce(c.c_mktsegment, 'UNATTRIBUTED') AS segment,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM o LEFT JOIN customer c ON c.c_custkey = o.k
GROUP BY 1
"""


@register("q_null_skew_join", oracle=_NULL_SKEW_ORACLE)
def q_null_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        "o_totalprice",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    matched = orders.filter(F.col("k").isNotNull()).join(cust, "k", "left")
    bypassed = orders.filter(F.col("k").isNull()).withColumn(
        "c_mktsegment", F.lit(None).cast("string")
    )
    both = matched.select("o_totalprice", "c_mktsegment").unionByName(
        bypassed.select("o_totalprice", "c_mktsegment")
    )
    return (
        both.groupBy(
            F.coalesce("c_mktsegment", F.lit("UNATTRIBUTED")).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money.cents("o_totalprice")).cast("long").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_asof_nearest — NEAREST-in-time as-of: for each error event, the
# same user's temporally closest purchase event in EITHER direction
# ("what was the user buying around the failure"). Completes the as-of
# family: q_asof_enrich is backward-only, q_asof_cogroup is the pandas
# merge_asof surface — nearest-direction needs both sides and a
# deterministic tie rule, which is exactly what goes wrong in naive
# implementations.
#
# Semantics: prev = latest purchase at-or-before the error, next =
# earliest strictly-after; pick the smaller |gap|, ties to PREV (the
# past is causally safer), gap reported signed (negative = purchase
# preceded the error). Events sharing a timestamp order by event_id.
#
# Exactness: epoch-second integer gaps; the prev/next scan is TWO
# running last-non-null window passes over the mixed event stream (the
# forward one and a REVERSED-order one) — no self-join, no union of
# two as-ofs.
#
# Scale: one shuffle on user_id shared by both window sorts; O(1)
# running state per row. The obvious spelling of "next purchase" —
# first_value over (1 FOLLOWING, UNBOUNDED FOLLOWING) — is a trap:
# Spark's UnboundedFollowing frame RECOMPUTES the aggregate per row
# (O(n²) per partition; the 80%-one-user skew tier wedged on it for
# minutes with 800k rows in one partition). The reversed-order running
# frame computes the identical value in O(n): in DESC (ts, event_id)
# order, the frame (UNBOUNDED PRECEDING, 1 PRECEDING) holds exactly the
# strictly-later rows, and last_value(ignoreNulls) of it is the nearest
# future purchase. DuckDB's segment-tree window engine handles the
# direct spelling fine, so the oracle keeps it — same values.
# ---------------------------------------------------------------------------

_ASOF_NEAREST_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t_s
  FROM events
),
marked AS (
  SELECT user_id, event_id, event_type, t_s,
         last_value(CASE WHEN event_type = 'purchase' THEN t_s END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t_s, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         first_value(CASE WHEN event_type = 'purchase' THEN t_s END
                     IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t_s, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_t
  FROM e
)
SELECT event_id, user_id,
       CASE
         WHEN prev_t IS NULL AND next_t IS NULL THEN NULL
         WHEN next_t IS NULL THEN prev_t - t_s
         WHEN prev_t IS NULL THEN next_t - t_s
         WHEN t_s - prev_t <= next_t - t_s THEN prev_t - t_s
         ELSE next_t - t_s
       END AS nearest_gap_s
FROM marked
WHERE event_type = 'error'
"""


@register("q_asof_nearest", oracle=_ASOF_NEAREST_ORACLE)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("t_s"),
    )
    purchase_t = F.when(F.col("event_type") == "purchase", F.col("t_s"))
    w_fwd = Window.partitionBy("user_id").orderBy("t_s", "event_id")
    w_rev = Window.partitionBy("user_id").orderBy(
        F.desc("t_s"), F.desc("event_id")
    )
    marked = e.select(
        "event_id",
        "user_id",
        "event_type",
        "t_s",
        F.last(purchase_t, ignorenulls=True)
        .over(w_fwd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prev_t"),
        # reversed running last == first strictly-later purchase (see
        # docstring: the UNBOUNDED FOLLOWING spelling is O(n²) in Spark)
        F.last(purchase_t, ignorenulls=True)
        .over(w_rev.rowsBetween(Window.unboundedPreceding, -1))
        .alias("next_t"),
    )
    prev_gap = F.col("prev_t") - F.col("t_s")
    next_gap = F.col("next_t") - F.col("t_s")
    nearest = (
        F.when(F.col("prev_t").isNull() & F.col("next_t").isNull(), F.lit(None))
        .when(F.col("next_t").isNull(), prev_gap)
        .when(F.col("prev_t").isNull(), next_gap)
        .when(F.col("t_s") - F.col("prev_t") <= next_gap, prev_gap)
        .otherwise(next_gap)
    )
    return marked.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", nearest.cast("bigint").alias("nearest_gap_s")
    )
