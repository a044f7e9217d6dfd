"""Reporting-layer operators: activity matrices, decile shares,
histograms, and the null-handling join/union shapes BI layers depend on.

All exact-arithmetic: shares and deciles are computed over integer cents
so both engines rank and divide identical values (SURVEY.md §5 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import alerts, money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_hourly_matrix — hour-of-day × event-type activity matrix.
# ---------------------------------------------------------------------------

_HOURLY_ORACLE = """
SELECT
  hour(ts)::BIGINT AS hr,
  count(CASE WHEN event_type = 'click'    THEN 1 END) AS clicks,
  count(CASE WHEN event_type = 'view'     THEN 1 END) AS views,
  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
  count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signups,
  count(CASE WHEN event_type = 'error'    THEN 1 END) AS errors,
  count(*) AS total
FROM events
GROUP BY 1
"""


@register("q_hourly_matrix", oracle=_HOURLY_ORACLE)
def q_hourly_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def cnt(t: str):
        return F.count(F.when(F.col("event_type") == t, 1))

    return ev.groupBy(F.hour("ts").cast("bigint").alias("hr")).agg(
        cnt("click").alias("clicks"),
        cnt("view").alias("views"),
        cnt("purchase").alias("purchases"),
        cnt("signup").alias("signups"),
        cnt("error").alias("errors"),
        F.count(F.lit(1)).alias("total"),
    )


# ---------------------------------------------------------------------------
# q_decile_share — customer revenue deciles and each decile's share of
# total revenue (exact integer cents end-to-end; the final share division
# happens on identical integers in both engines).
# ---------------------------------------------------------------------------

_DECILE_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey, cents,
         ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
  FROM spend
),
tot AS (SELECT sum(cents) AS total_cents FROM spend)
SELECT
  decile,
  count(*) AS n_customers,
  CAST(sum(cents) AS BIGINT) AS decile_cents,
  round(CAST(sum(cents) AS BIGINT) * 1.0 / CAST(total_cents AS BIGINT), 6) AS revenue_share
FROM ranked CROSS JOIN tot
GROUP BY decile, total_cents
"""


@register("q_decile_share", oracle=_DECILE_ORACLE)
def q_decile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(money.cents("o_totalprice")).alias("cents")
    )
    ranked = spend.withColumn(
        "decile", F.ntile(10).over(Window.orderBy(F.desc("cents"), F.asc("o_custkey")))
    )
    tot = spend.agg(F.sum("cents").alias("total_cents"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("decile", "total_cents")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("decile_cents"),
        )
        .select(
            "decile",
            "n_customers",
            "decile_cents",
            F.round(F.col("decile_cents") * 1.0 / F.col("total_cents"), 6).alias(
                "revenue_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_null_safe_join — null-safe equality (<=> / IS NOT DISTINCT FROM):
# synthesized NULL keys on both sides must match each other.
# ---------------------------------------------------------------------------

_NULL_SAFE_ORACLE = """
SELECT
  coalesce(CAST(c.k AS VARCHAR), 'NULL') AS join_key,
  count(*) AS n_pairs
FROM (
  SELECT nullif(c_nationkey, 3) AS k FROM customer
) c
JOIN (
  SELECT nullif(n_nationkey, 3) AS k FROM nation
) n ON c.k IS NOT DISTINCT FROM n.k
GROUP BY 1
"""


@register("q_null_safe_join", oracle=_NULL_SAFE_ORACLE)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(3)).alias("nk")
    )
    return (
        cust.join(F.broadcast(nation), F.col("ck").eqNullSafe(F.col("nk")))
        .groupBy(F.coalesce(F.col("ck").cast("string"), F.lit("NULL")).alias("join_key"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# q_union_missing_cols — unionByName with schema alignment (missing
# columns NULL-filled): the heterogeneous-feed merge shape.
# ---------------------------------------------------------------------------

_UNION_MISSING_ORACLE = """
SELECT c_custkey AS entity_key, round(c_acctbal, 2) AS balance, NULL AS entity_name
FROM customer WHERE c_custkey <= 100
UNION ALL
SELECT s_suppkey AS entity_key, NULL AS balance, s_name AS entity_name
FROM supplier
"""


@register("q_union_missing_cols", oracle=_UNION_MISSING_ORACLE)
def q_union_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    supp = load_table(spark, sf_dir, "supplier")
    c = cust.select(
        F.col("c_custkey").alias("entity_key"),
        F.round(F.col("c_acctbal"), 2).alias("balance"),
    )
    s = supp.select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
    )
    return c.unionByName(s, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# q_histogram — fixed-width value histogram of event values.
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
SELECT
  CAST(floor(value / 50.0) AS BIGINT) AS bucket,
  count(*)                            AS n,
  round(min(value), 2)                AS lo,
  round(max(value), 2)                AS hi
FROM events
GROUP BY 1
"""


@register("q_histogram", oracle=_HISTOGRAM_ORACLE)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / 50.0).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


# ---------------------------------------------------------------------------
# q_resample_ffill — time-series resampling: click events land on a
# 6-hour grid spanning the corpus (spine via sequence/generate_series);
# empty buckets forward-fill from the last observed bucket (last_value
# IGNORE NULLS over an unbounded-preceding frame). Averages divide two
# exact integers (cent-sums / counts), so the doubles are bit-identical
# across engines before the display rounding.
# ---------------------------------------------------------------------------

_RESAMPLE_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('day', min(ts)) AS t0, max(ts) AS t1 FROM events
),
spine AS (
  SELECT unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS bucket FROM bounds
),
agg AS (
  SELECT time_bucket(INTERVAL 6 HOUR, ts, (SELECT t0 FROM bounds)) AS bucket,
         count(*) AS n,
         sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
  FROM events WHERE event_type = 'click'
  GROUP BY 1
)
SELECT
  s.bucket,
  coalesce(a.n, 0) AS n_clicks,
  round(last_value(a.cents / a.n / 100.0 IGNORE NULLS)
          OVER (ORDER BY s.bucket ROWS UNBOUNDED PRECEDING), 4) AS avg_value_ffill
FROM spine s LEFT JOIN agg a ON a.bucket = s.bucket
"""


@register("q_resample_ffill", oracle=_RESAMPLE_ORACLE)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("t0"), F.max("ts").alias("t1")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("t0", "t1", F.expr("interval 6 hours"))
        ).alias("bucket")
    )
    agg = (
        ev.filter(F.col("event_type") == "click")
        .crossJoin(F.broadcast(bounds.select("t0")))
        .groupBy(
            (
                F.col("t0")
                + F.expr(
                    "make_interval(0, 0, 0, 0, 0, 0, "
                    "floor((unix_micros(cast(ts as timestamp)) - "
                    "unix_micros(cast(t0 as timestamp))) / 21600000000) * 21600)"
                )
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money.cents("value")).alias("cents"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(agg, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_clicks"),
            F.round(
                F.last(F.col("cents") / F.col("n") / 100.0, ignorenulls=True).over(w),
                4,
            ).alias("avg_value_ffill"),
        )
    )


# ---------------------------------------------------------------------------
# q_interpolate — linear interpolation over the resampled grid: empty
# buckets take prev + (next - prev) * frac, where frac is computed from
# integer grid indices (not timestamps), so both engines produce
# identical values on both engines (the result is an e4-scaled BIGINT —
# no display-rounding boundary exists). Edge buckets with
# only one neighbor fall back to it (ffill/bfill). The window pair
# (last IGNORE NULLS over preceding, first IGNORE NULLS over following)
# is the standard two-pass-free interpolation shape — one sort, no
# self-join.
# ---------------------------------------------------------------------------

_INTERPOLATE_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('day', min(ts)) AS t0, max(ts) AS t1 FROM events
),
spine AS (
  SELECT unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS bucket FROM bounds
),
agg AS (
  SELECT time_bucket(INTERVAL 6 HOUR, ts, (SELECT t0 FROM bounds)) AS bucket,
         count(*) AS n,
         sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
  FROM events WHERE event_type = 'signup'
  GROUP BY 1
),
g AS (
  SELECT s.bucket,
         row_number() OVER (ORDER BY s.bucket) AS idx,
         a.n,
         CAST(round(a.cents * 100.0 / a.n) AS BIGINT) AS v
  FROM spine s LEFT JOIN agg a ON a.bucket = s.bucket
),
filled AS (
  SELECT bucket, idx, n, v,
    last_value(v IGNORE NULLS)
      OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING)               AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS)
      OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING)               AS pi,
    first_value(v IGNORE NULLS)
      OVER (ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                                                                 AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS)
      OVER (ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                                                                 AS ni
  FROM g
)
SELECT bucket,
       coalesce(n, 0) AS n_signups,
       CAST(CASE
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         WHEN ni = pi    THEN pv
         ELSE CAST(round(pv + (nv - pv) *
                (CAST(idx - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE))) AS BIGINT)
       END AS BIGINT) AS avg_interp_e4
FROM filled
"""


@register("q_interpolate", oracle=_INTERPOLATE_ORACLE)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("t0"), F.max("ts").alias("t1")
    )
    spine = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("interval 6 hours"))).alias(
            "bucket"
        )
    )
    agg = (
        ev.filter(F.col("event_type") == "signup")
        .crossJoin(F.broadcast(bounds.select("t0")))
        .groupBy(
            (
                F.col("t0")
                + F.expr(
                    "make_interval(0, 0, 0, 0, 0, 0, "
                    "floor((unix_micros(cast(ts as timestamp)) - "
                    "unix_micros(cast(t0 as timestamp))) / 21600000000) * 21600)"
                )
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money.cents("value")).alias("cents"),
        )
    )
    g = (
        spine.join(agg, "bucket", "left")
        .withColumn("idx", F.row_number().over(Window.orderBy("bucket")))
        .withColumn(
            "v", F.round(F.col("cents") * 100.0 / F.col("n")).cast("long")
        )
    )
    w_prev = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("idx").rowsBetween(0, Window.unboundedFollowing)
    obs_idx = F.when(F.col("v").isNotNull(), F.col("idx"))
    filled = g.select(
        "bucket",
        "idx",
        "n",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_idx, ignorenulls=True).over(w_prev).alias("pi"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_idx, ignorenulls=True).over(w_next).alias("ni"),
    )
    frac = (F.col("idx") - F.col("pi")).cast("double") / (
        F.col("ni") - F.col("pi")
    ).cast("double")
    interp = (
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(F.col("ni") == F.col("pi"), F.col("pv"))
        .otherwise(
            F.round(F.col("pv") + (F.col("nv") - F.col("pv")) * frac).cast("long")
        )
    )
    return filled.select(
        "bucket",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_signups"),
        interp.cast("long").alias("avg_interp_e4"),
    )


# ---------------------------------------------------------------------------
# q_weekday_revenue — revenue seasonality by day-of-week. Engines number
# weekdays differently (Spark dayofweek: Sunday=1; DuckDB dayofweek:
# Sunday=0), so the weekday is derived portably from epoch days:
# (days_since_1970 + 4) % 7 with Monday=0 (1970-01-01 was a Thursday).
# Pure integer arithmetic — no calendar-API parity risk at all.
# ---------------------------------------------------------------------------

_WEEKDAY_ORACLE = """
SELECT
  (date_diff('day', DATE '1970-01-01', o_orderdate) + 3) % 7 AS weekday,
  count(*) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY 1
"""


@register("q_weekday_revenue", oracle=_WEEKDAY_ORACLE)
def q_weekday_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    weekday = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        + 3
    ) % 7
    return (
        orders.select(
            weekday.alias("weekday"),
            money.cents("o_totalprice").alias("c"),
        )
        .groupBy("weekday")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("c").cast("bigint").alias("cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_profile_columns — column-level data profiling of the customer table:
# null count, exact distinct count, min/max lengths — the statistics an
# ingestion service publishes per feed for contract monitoring. One
# wide aggregate pass (every stat is a map-side-combinable aggregate);
# output is pivoted long so adding columns never changes the schema.
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT 'c_name' AS column_name,
       count(*) - count(c_name)        AS n_null,
       count(DISTINCT c_name)          AS n_distinct,
       CAST(min(length(c_name)) AS BIGINT) AS min_len,
       CAST(max(length(c_name)) AS BIGINT) AS max_len
FROM customer
UNION ALL
SELECT 'c_mktsegment',
       count(*) - count(c_mktsegment),
       count(DISTINCT c_mktsegment),
       CAST(min(length(c_mktsegment)) AS BIGINT),
       CAST(max(length(c_mktsegment)) AS BIGINT)
FROM customer
"""


@register("q_profile_columns", oracle=_PROFILE_ORACLE)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")

    def profile(col: str) -> DataFrame:
        return cust.agg(
            F.lit(col).alias("column_name"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(F.length(col)).cast("bigint").alias("min_len"),
            F.max(F.length(col)).cast("bigint").alias("max_len"),
        )

    return profile("c_name").unionAll(profile("c_mktsegment"))


# ---------------------------------------------------------------------------
# q_rollup_cascade — multi-granularity pre-aggregation: events roll up
# to hours, hours to days, days to months — each tier computed FROM THE
# PREVIOUS tier, never from raw. This is how 100 TB OLAP serving stays
# cheap (the monthly query reads 12 rows/metric, not 10^11 events);
# counts and integer-cent sums compose losslessly across tiers, which
# is exactly what the oracle (direct month-from-raw aggregation)
# verifies.
# ---------------------------------------------------------------------------

_ROLLUP_CASCADE_ORACLE = """
SELECT date_trunc('month', ts)::TIMESTAMP AS month_start,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1
"""


@register("q_rollup_cascade", oracle=_ROLLUP_CASCADE_ORACLE)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money.cents("value")).alias("cents"),
    )
    daily = hourly.groupBy(F.date_trunc("day", "h").alias("d")).agg(
        F.sum("n").alias("n"), F.sum("cents").alias("cents")
    )
    monthly = daily.groupBy(F.date_trunc("month", "d").alias("m")).agg(
        F.sum("n").alias("n"), F.sum("cents").alias("cents")
    )
    return monthly.select(
        F.col("m").cast("timestamp_ntz").alias("month_start"),
        F.col("n").cast("bigint").alias("n"),
        F.col("cents").cast("bigint").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# q_ship_latency — order-to-ship latency distribution in whole days
# (lineitem.l_shipdate − orders.o_orderdate): the fulfillment-SLA
# histogram. Integer day arithmetic on both engines; one fact/fact
# equi-join + one small groupBy — nothing here changes shape at 100 TB.
# ---------------------------------------------------------------------------

_SHIP_LATENCY_ORACLE = """
SELECT date_diff('day', o_orderdate, l_shipdate) AS latency_days,
       count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


@register("q_ship_latency", oracle=_SHIP_LATENCY_ORACLE)
def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("latency_days"),
            money.cents("l_extendedprice").alias("c"),
        )
        .groupBy("latency_days")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").cast("bigint").alias("price_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_freshness_sla — per-feed data-freshness audit: how far behind the
# corpus high-water mark is each event type's latest arrival, and does
# it breach the 30-minute SLA? The first page of every ingestion
# service's ops dashboard. Integer-second lags from epoch timestamps —
# no float anywhere; one aggregation plus a 1-row broadcast of the
# global high-water mark.
# ---------------------------------------------------------------------------

_FRESHNESS_ORACLE = """
WITH per_type AS (
  SELECT event_type,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS latest_epoch,
         count(*) AS n_events
  FROM events GROUP BY event_type
),
hwm AS (SELECT CAST(max(latest_epoch) AS BIGINT) AS global_epoch FROM per_type)
SELECT p.event_type,
       p.n_events,
       CAST(h.global_epoch - p.latest_epoch AS BIGINT) AS lag_seconds,
       (h.global_epoch - p.latest_epoch) > 1800 AS sla_breached
FROM per_type p CROSS JOIN hwm h
"""


@register("q_freshness_sla", oracle=_FRESHNESS_ORACLE)
def q_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.unix_timestamp(F.max("ts")).cast("long").alias("latest_epoch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    hwm = per_type.agg(
        F.max("latest_epoch").cast("long").alias("global_epoch")
    )
    lag = F.col("global_epoch") - F.col("latest_epoch")
    return per_type.crossJoin(F.broadcast(hwm)).select(
        "event_type",
        "n_events",
        lag.cast("long").alias("lag_seconds"),
        (lag > 1800).alias("sla_breached"),
    )


# ---------------------------------------------------------------------------
# q_conversion_latency — signup→purchase time-to-convert distribution:
# per user, the integer-second gap between the FIRST signup and the
# first purchase AT OR AFTER it, bucketed into the funnel-latency
# histogram product analytics reads (≤1h, ≤1d, >1d, never). min/filter
# composition keeps it one shuffle per side plus a user-keyed join; all
# arithmetic is integer seconds (floored epochs — the q_freshness_sla
# lesson: DuckDB's double→BIGINT cast rounds, Spark truncates).
# ---------------------------------------------------------------------------

_CONVERSION_ORACLE = """
WITH first_signup AS (
  SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS s_epoch
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
first_purchase AS (
  SELECT f.user_id,
         CAST(floor(epoch(min(e.ts))) AS BIGINT) AS p_epoch
  FROM first_signup f
  JOIN events e ON e.user_id = f.user_id
   AND e.event_type = 'purchase'
   AND CAST(floor(epoch(e.ts)) AS BIGINT) >= f.s_epoch
  GROUP BY f.user_id
),
lat AS (
  SELECT f.user_id,
         p.p_epoch - f.s_epoch AS lag_s
  FROM first_signup f LEFT JOIN first_purchase p ON p.user_id = f.user_id
)
SELECT CASE
         WHEN lag_s IS NULL THEN 'never'
         WHEN lag_s <= 3600 THEN 'within_1h'
         WHEN lag_s <= 86400 THEN 'within_1d'
         ELSE 'over_1d'
       END AS bucket,
       count(*) AS n_users,
       CAST(coalesce(sum(lag_s), 0) AS BIGINT) AS total_lag_seconds
FROM lat
GROUP BY 1
"""


@register("q_conversion_latency", oracle=_CONVERSION_ORACLE)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp(F.col("ts")).cast("long")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(epoch).alias("s_epoch"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch.alias("p_epoch")
    )
    first_purchase = (
        first_signup.join(purchases, "user_id")
        .filter(F.col("p_epoch") >= F.col("s_epoch"))
        .groupBy("user_id")
        .agg(F.min("p_epoch").alias("p_epoch"))
    )
    lat = first_signup.join(first_purchase, "user_id", "left").select(
        "user_id", (F.col("p_epoch") - F.col("s_epoch")).alias("lag_s")
    )
    bucket = (
        F.when(F.col("lag_s").isNull(), "never")
        .when(F.col("lag_s") <= 3600, "within_1h")
        .when(F.col("lag_s") <= 86400, "within_1d")
        .otherwise("over_1d")
    )
    return lat.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.coalesce(F.sum("lag_s"), F.lit(0))
        .cast("long")
        .alias("total_lag_seconds"),
    )


# ---------------------------------------------------------------------------
# q_error_rate_alert — per-hour error-share monitoring with alert
# flags: the health signal paged on first in any ingestion service.
# Error share is integer basis points (errors·10000 div total — no
# float ratio), alert = share above 250bp (2.5%). One aggregation per
# hour bucket; at 100 TB this runs windowed over the stream (same
# expression, q_events_tumbling's shape) — the batch form here is the
# backfill/audit variant.
# ---------------------------------------------------------------------------

# Threshold, bp expression, and alert predicate all come from
# functions/alerts.py — the single definition this batch audit shares
# with the live monitor `q_stream_error_rate` (r5 verdict item 7).
_ERROR_RATE_ORACLE = f"""
SELECT date_trunc('hour', ts) AS hour_start,
       count(*) AS n_events,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors,
       {alerts.ORACLE_ERROR_BP_EXPR},
       {alerts.ORACLE_ERROR_ALERT_EXPR}
FROM events
GROUP BY 1
"""


@register("q_error_rate_alert", oracle=_ERROR_RATE_ORACLE)
def q_error_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(alerts.is_error()).cast("long").alias("n_errors"),
    )
    bp = alerts.error_bp()
    return agg.select(
        "hour_start",
        "n_events",
        "n_errors",
        bp.cast("long").alias("error_bp"),
        alerts.error_alert(bp).alias("alert"),
    )


# ---------------------------------------------------------------------------
# q_weekly_active_users — rolling 7-day distinct users per day (WAU):
# the headline engagement metric. The scalable shape is NOT a sliding
# DISTINCT window (per-row distinct state explodes); each (user, day)
# first collapses to one row, then contributes itself to the 7 window
# days it belongs to via explode(sequence) — shuffle volume is
# 7·|user-days|, and the per-day COUNT(DISTINCT) is an ordinary
# aggregation. Same rewrite family as q_cumulative_distinct (running
# total); this is the bounded-window variant.
# ---------------------------------------------------------------------------

_WAU_ORACLE = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
),
contrib AS (
  SELECT user_id, d + CAST(k AS INT) AS wday
  FROM user_days CROSS JOIN unnest(range(0, 7)) AS u(k)
),
days AS (SELECT DISTINCT d FROM user_days)
SELECT c.wday::TIMESTAMP AS day,
       count(DISTINCT c.user_id) AS wau
FROM contrib c
JOIN days dd ON dd.d = c.wday
GROUP BY c.wday
"""


@register("q_weekly_active_users", oracle=_WAU_ORACLE)
def q_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("wday"),
    )
    days = user_days.select(F.col("d").alias("wday")).distinct()
    return (
        contrib.join(days, "wday", "left_semi")
        .groupBy(F.col("wday").cast("timestamp_ntz").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


# ---------------------------------------------------------------------------
# q_feed_gaps — completeness monitoring: which hours inside the feed's
# own [min, max] span have ZERO events? Absence is invisible to every
# GROUP BY — only a generated spine (sequence of hours) anti-joined
# against the observed hours can see it. Reports the span, the
# expected/observed hour counts, and the gap hours themselves
# (bounded: gaps, not data). The spine is generated from a 1-row
# aggregate — no driver-side loop, any span length.
# ---------------------------------------------------------------------------

_FEED_GAPS_ORACLE = """
WITH span AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span
),
observed AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h FROM events
)
SELECT
  (SELECT count(*) FROM spine)    AS n_expected_hours,
  (SELECT count(*) FROM observed) AS n_observed_hours,
  (SELECT count(*) FROM spine s
     WHERE NOT EXISTS (SELECT 1 FROM observed o WHERE o.h = s.h))
                                  AS n_gap_hours
"""


@register("q_feed_gaps", oracle=_FEED_GAPS_ORACLE)
def q_feed_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = span.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
        ).alias("h")
    )
    observed = ev.select(F.date_trunc("hour", F.col("ts")).alias("h")).distinct()
    n_expected = spine.count()
    n_observed = observed.count()
    n_gaps = spine.join(observed, "h", "left_anti").count()
    return spark.createDataFrame(
        [(n_expected, n_observed, n_gaps)],
        "n_expected_hours bigint, n_observed_hours bigint, n_gap_hours bigint",
    )


# ---------------------------------------------------------------------------
# q_fk_integrity — referential-integrity audit across the star schema:
# orphan counts for every foreign-key edge (lineitem→orders,
# lineitem→part, lineitem→supplier, orders→customer, events→customer,
# customer→nation) — the ingest-boundary contract check that catches a
# feed delivering children before parents. Each edge is one left-anti
# probe against the (smaller) parent key set — broadcast-friendly at
# any scale; the whole audit is one row.
# ---------------------------------------------------------------------------

_FK_INTEGRITY_ORACLE = """
SELECT
  (SELECT count(*) FROM lineitem l
     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    AS li_orphan_orders,
  (SELECT count(*) FROM lineitem l
     WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    AS li_orphan_parts,
  (SELECT count(*) FROM lineitem l
     WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    AS li_orphan_suppliers,
  (SELECT count(*) FROM orders o
     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    AS o_orphan_customers,
  (SELECT count(*) FROM events e
     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
    AS ev_orphan_users,
  (SELECT count(*) FROM customer c
     WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    AS c_orphan_nations
"""


@register("q_fk_integrity", oracle=_FK_INTEGRITY_ORACLE)
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9 action-census fix: six eager left-anti .count() actions (6 x the
    # per-action floor) folded into ONE lazy plan — each FK check is a
    # 1-row anti-join aggregate, crossJoined into the report row. The
    # anti-joins broadcast their parent key sets, so the single action
    # runs all six checks without an extra shuffle.
    def orphans(child, ck, parent, pk, alias) -> DataFrame:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        return c.join(p, "k", "left_anti").agg(
            F.count(F.lit(1)).alias(alias)
        )

    checks = [
        orphans("lineitem", "l_orderkey", "orders", "o_orderkey", "li_orphan_orders"),
        orphans("lineitem", "l_partkey", "part", "p_partkey", "li_orphan_parts"),
        orphans(
            "lineitem", "l_suppkey", "supplier", "s_suppkey", "li_orphan_suppliers"
        ),
        orphans("orders", "o_custkey", "customer", "c_custkey", "o_orphan_customers"),
        orphans("events", "user_id", "customer", "c_custkey", "ev_orphan_users"),
        orphans(
            "customer", "c_nationkey", "nation", "n_nationkey", "c_orphan_nations"
        ),
    ]
    out = checks[0]
    for part in checks[1:]:
        out = out.crossJoin(F.broadcast(part))
    return out


# ---------------------------------------------------------------------------
# q_benford_audit — Benford's-law first-digit screen over order totals:
# the classic forensic-accounting test for fabricated or truncated
# monetary data. The observed first-digit shares of o_totalprice (as
# integer CENTS — first digit taken from the exact integer's decimal
# string, never from float formatting) are compared against the Benford
# expectation log10(1 + 1/d), both in e6 fixed point; the expectation
# constants are Python-computed literals inlined into BOTH engines, so
# the comparison is pure integer arithmetic. One map-side digit extract
# + one 9-group aggregate — audit cost is a GROUP BY at any scale.
# ---------------------------------------------------------------------------

_BENFORD_E6 = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {v}" for d, v in _BENFORD_E6.items()
)

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
),
tot AS (SELECT count(*) AS n_total FROM digits)
SELECT digit,
       count(*) AS n,
       CAST(count(*) * 1000000 // n_total AS BIGINT) AS observed_e6,
       CAST(CASE digit {_BENFORD_CASE} END AS BIGINT) AS benford_e6,
       CAST(count(*) * 1000000 // n_total
            - CASE digit {_BENFORD_CASE} END AS BIGINT) AS delta_e6
FROM digits CROSS JOIN tot
GROUP BY digit, n_total
"""


@register("q_benford_audit", oracle=_BENFORD_ORACLE)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = money.cents("o_totalprice")
    digits = orders.select(
        F.substring(cents.cast("string"), 1, 1).cast("bigint").alias("digit")
    )
    tot = digits.agg(F.count(F.lit(1)).alias("n_total"))
    benford = F.expr(f"CASE digit {_BENFORD_CASE} END").cast("bigint")
    observed = F.expr("n * 1000000 div n_total")
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("digit", "n_total")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "digit",
            "n",
            observed.alias("observed_e6"),
            benford.alias("benford_e6"),
            (observed - benford).cast("bigint").alias("delta_e6"),
        )
    )


# ---------------------------------------------------------------------------
# q_gdpr_erasure — right-to-be-forgotten simulation: erase one user's
# events (the per-user anti-join a DSR pipeline runs against every
# table keyed by the subject) and emit the tombstone audit a compliance
# log requires: rows removed, rows remaining, distinct users remaining,
# and an integrity checksum (BIGINT sum of remaining event_ids — an
# associative, order-independent digest both engines compute
# identically) proving exactly the subject's rows and nothing else were
# dropped. Erasure itself is a pushed-down filter (row-group skipping
# on user_id at scale); the audit is one aggregate over the survivor
# scan.
# ---------------------------------------------------------------------------

_GDPR_SUBJECT = 7

_GDPR_ORACLE = f"""
WITH survivors AS (
  SELECT * FROM events WHERE user_id <> {_GDPR_SUBJECT}
)
SELECT
  (SELECT count(*) FROM events WHERE user_id = {_GDPR_SUBJECT})
    AS n_erased,
  (SELECT count(*) FROM survivors) AS n_remaining,
  (SELECT count(DISTINCT user_id) FROM survivors) AS n_users_remaining,
  (SELECT CAST(sum(event_id) AS BIGINT) FROM survivors)
    AS remaining_id_checksum
"""


@register("q_gdpr_erasure", oracle=_GDPR_ORACLE)
def q_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    erased = ev.filter(F.col("user_id") == _GDPR_SUBJECT).count()
    audit = ev.filter(F.col("user_id") != _GDPR_SUBJECT).agg(
        F.count(F.lit(1)).alias("n_remaining"),
        F.countDistinct("user_id").alias("n_users_remaining"),
        F.sum("event_id").cast("bigint").alias("remaining_id_checksum"),
    )
    return audit.select(
        F.lit(erased).cast("bigint").alias("n_erased"),
        "n_remaining",
        "n_users_remaining",
        "remaining_id_checksum",
    )
