"""Product-analytics and robustness operators: grouping sets, null
discipline, skew-resistant (salted) aggregation, event funnels and
retention cohorts, regex transforms.

The salted aggregate is the documented skew pattern at 100 TB: a hot key
would overload one reducer, so stage 1 aggregates on (key, salt) — random
fan-out spreads a hot key over N partial groups — and stage 2 merges
partials by key. Its oracle is the *plain* GROUP BY: the whole point is
that salting is result-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_grouping_sets — explicit GROUPING SETS with grouping_id disambiguation.
# ---------------------------------------------------------------------------

_GROUPING_SETS_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  grouping(o_orderstatus)::BIGINT * 2 + grouping(o_orderpriority)::BIGINT AS gid,
  count(*)                    AS n_orders,
  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("q_grouping_sets", oracle=_GROUPING_SETS_ORACLE)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # GROUPING SETS has no DataFrame-API equivalent — this is the one spot
    # where the engine's own SQL front-end (spark.sql) is the idiomatic path.
    return spark.sql(
        """
        SELECT
          o_orderstatus,
          o_orderpriority,
          CAST(grouping(o_orderstatus) AS BIGINT) * 2
            + CAST(grouping(o_orderpriority) AS BIGINT) AS gid,
          count(*)                    AS n_orders,
          round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100, 2) AS total_price
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        orders=orders,
    )


# ---------------------------------------------------------------------------
# q_null_handling — NULL discipline: NULLIF-produced nulls, coalesce,
# null-aware aggregation, explicit NULLS FIRST/LAST ranking.
# ---------------------------------------------------------------------------

_NULL_ORACLE = """
SELECT
  o_orderstatus,
  count(*)                                         AS n_rows,
  count(bal)                                       AS n_nonnull,
  count(*) - count(bal)                            AS n_null,
  round(sum(coalesce(bal, 0.0)), 2)                AS sum_bal,
  round(avg(bal), 4)                               AS avg_nonnull_bal,
  min(rn_nulls_last)                               AS min_rn
FROM (
  SELECT
    o.o_orderstatus,
    nullif(c.c_acctbal, 0.0) AS bal,
    row_number() OVER (
      ORDER BY CASE WHEN nullif(c.c_acctbal, 0.0) IS NULL THEN 1 ELSE 0 END,
               c.c_acctbal, o.o_orderkey
    ) AS rn_nulls_last
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_acctbal < 100
)
GROUP BY o_orderstatus
"""


@register("q_null_handling", oracle=_NULL_ORACLE)
def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 100)
    joined = orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    bal = F.nullif(F.col("c_acctbal"), F.lit(0.0))
    w = Window.orderBy(
        F.when(bal.isNull(), 1).otherwise(0), F.asc("c_acctbal"), F.asc("o_orderkey")
    )
    staged = joined.select(
        "o_orderstatus",
        bal.alias("bal"),
        F.row_number().over(w).alias("rn_nulls_last"),
    )
    return staged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("bal").alias("n_nonnull"),
        (F.count(F.lit(1)) - F.count("bal")).alias("n_null"),
        F.round(F.sum(F.coalesce(F.col("bal"), F.lit(0.0))), 2).alias("sum_bal"),
        F.round(F.avg("bal"), 4).alias("avg_nonnull_bal"),
        F.min("rn_nulls_last").alias("min_rn"),
    )


# ---------------------------------------------------------------------------
# q_salted_agg — two-stage salted aggregation (skew pattern), result-
# invariant vs plain GROUP BY. Counts stay integral through both stages so
# the result is exact; the money sum re-aggregates integer cents.
# ---------------------------------------------------------------------------

_SALTED_ORACLE = """
SELECT
  l_returnflag,
  count(*) AS n_items,
  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem
GROUP BY l_returnflag
"""


@register("q_salted_agg", oracle=_SALTED_ORACLE)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(money.cents("l_extendedprice")).alias("pc"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_items"), F.sum("pc").alias("price_cents")
    )


# ---------------------------------------------------------------------------
# q_funnel — signup→purchase conversion funnel per user (event-sequence
# analytics: the first purchase strictly after the first signup).
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
SELECT
  count(*)                                                   AS n_users,
  CAST(sum(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)      AS n_signed_up,
  CAST(sum(CASE WHEN first_purchase > first_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM (
  SELECT
    user_id,
    min(CASE WHEN event_type = 'signup'  THEN ts END)  AS first_signup,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events
  GROUP BY user_id
)
"""


@register("q_funnel", oracle=_FUNNEL_ORACLE)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("first_signup").isNotNull(), 1).otherwise(0)).alias(
            "n_signed_up"
        ),
        F.sum(
            F.when(F.col("first_purchase") > F.col("first_signup"), 1).otherwise(0)
        ).alias("n_converted"),
    )


# ---------------------------------------------------------------------------
# q_retention — daily cohort retention: users bucketed by first-seen day,
# counted per (cohort_day, activity_day) — the classic engagement matrix.
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, date_trunc('day', min(ts))::TIMESTAMP AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts)::TIMESTAMP AS activity_day
  FROM events
)
SELECT
  f.cohort_day,
  date_diff('day', f.cohort_day, a.activity_day)::BIGINT AS day_offset,
  count(*) AS n_active
FROM firsts f
JOIN activity a ON f.user_id = a.user_id
WHERE date_diff('day', f.cohort_day, a.activity_day) <= 7
GROUP BY 1, 2
"""


@register("q_retention", oracle=_RETENTION_ORACLE)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("timestamp_ntz").alias("cohort_day")
    )
    activity = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("activity_day")
    ).distinct()
    offset = F.datediff(F.col("activity_day"), F.col("cohort_day")).cast("bigint")
    return (
        firsts.join(activity, "user_id")
        .filter(offset <= 7)
        .groupBy("cohort_day", offset.alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ---------------------------------------------------------------------------
# q_regex_funcs — regexp transform family over part names.
# ---------------------------------------------------------------------------

_REGEX_ORACLE = """
SELECT
  p_partkey,
  regexp_replace(p_name, '[aeiou]', '_', 'g')              AS devoweled,
  regexp_matches(p_name, '^(red|blue|green)')              AS has_color,
  regexp_extract(p_name, '([a-z]+)$')                      AS last_word,
  len(regexp_split_to_array(p_name, '\\s+'))::INT          AS n_words
FROM part
WHERE p_partkey <= 300
"""


@register("q_regex_funcs", oracle=_REGEX_ORACLE)
def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") <= 300).select(
        "p_partkey",
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        (F.regexp_extract("p_name", "^(red|blue|green)", 0) != "").alias("has_color"),
        F.regexp_extract("p_name", "([a-z]+)$", 0).alias("last_word"),
        F.size(F.split(F.col("p_name"), "\\s+")).alias("n_words"),
    )


# ---------------------------------------------------------------------------
# q_cumulative_distinct — running distinct-user count by day. COUNT
# (DISTINCT) OVER a growing frame is unsupported (and would be O(n²)
# state anyway); the scalable rewrite is first-seen flagging: mark each
# user's first event (one shuffle keyed by user), aggregate new-user
# counts per day, then a running SUM over days — O(days) window state
# instead of a per-row distinct set. This is THE pattern for cumulative
# uniques at 100 TB (the same shape HLL-merge rollups optimize further).
# ---------------------------------------------------------------------------

_CUMULATIVE_DISTINCT_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS first_day
  FROM events
  GROUP BY user_id
),
daily AS (
  SELECT first_day AS day, count(*) AS new_users FROM firsts GROUP BY first_day
),
days AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT days.day::TIMESTAMP AS day, days.n_events,
       coalesce(daily.new_users, 0) AS new_users,
       CAST(sum(coalesce(daily.new_users, 0)) OVER (
         ORDER BY days.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cumulative_users
FROM days LEFT JOIN daily ON daily.day = days.day
"""


@register("q_cumulative_distinct", oracle=_CUMULATIVE_DISTINCT_ORACLE)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    firsts = ev.groupBy("user_id").agg(F.min(F.date_trunc("day", "ts")).alias("day"))
    daily_new = firsts.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    days = ev.groupBy(day).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        days.join(daily_new, "day", "left")
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "n_events",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .withColumn(
            "cumulative_users",
            F.sum("new_users").over(w).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# q_ewma — exponentially weighted moving average of event values per
# user (alpha = 1/2, 8-tap truncated kernel): the time-series smoothing
# primitive behind rate limiting, anomaly baselines, and engagement
# scores. Expressed as 8 LAG window taps with weights 2^-k — each
# product is an EXACT binary halving and the taps are summed in a fixed
# literal order, so both engines produce bit-identical doubles (no
# float-order hazard to round away); output is floored to e6
# fixed-point. Scale shape: ONE window shuffle keyed by user_id with an
# 8-row frame — state is O(taps), never O(history), and a hot user
# costs 8 lags per row, not a growing scan. Result is compacted to the
# per-user LAST smoothed value (max_by over the same shuffle).
# ---------------------------------------------------------------------------

_EWMA_TAPS = 8

_EWMA_NUM_SQL = " + ".join(
    f"coalesce(lag(value, {k}) OVER w, 0) * {0.5 ** k!r}"
    for k in range(_EWMA_TAPS)
)
_EWMA_DEN_SQL = " + ".join(
    f"(CASE WHEN lag(value, {k}) OVER w IS NULL THEN 0 ELSE {0.5 ** k!r} END)"
    for k in range(_EWMA_TAPS)
)

_EWMA_ORACLE = f"""
WITH smoothed AS (
  SELECT user_id, event_id,
         ({_EWMA_NUM_SQL}) / ({_EWMA_DEN_SQL}) AS ewma
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       count(*) AS n_events,
       CAST(floor(max_by(ewma, event_id) * 1000000) AS BIGINT) AS last_ewma_e6
FROM smoothed
GROUP BY user_id
"""


@register("q_ewma", oracle=_EWMA_ORACLE)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for k in range(_EWMA_TAPS):
        tap = F.lag("value", k).over(w)
        wk = F.lit(0.5**k)
        n_term = F.coalesce(tap, F.lit(0)) * wk
        d_term = F.when(tap.isNull(), F.lit(0.0)).otherwise(wk)
        num = n_term if num is None else num + n_term
        den = d_term if den is None else den + d_term
    smoothed = ev.select(
        "user_id", "event_id", (num / den).alias("ewma")
    )
    return smoothed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(F.max_by("ewma", "event_id") * 1e6)
        .cast("long")
        .alias("last_ewma_e6"),
    )


# ---------------------------------------------------------------------------
# q_sessionize_gap — BATCH sessionization by inactivity gap (the classic
# lag + cumulative-flag rewrite): a user's events start a new session
# whenever more than 30 minutes pass since their previous event; each
# session reports its span and size. This is the batch twin of the
# streaming session_window keys (q_events_session/q_stream_session_window)
# — same 30-minute gap rule, expressed as two per-user window passes
# (lag to flag boundaries, running sum to number sessions) plus one
# aggregation. All three shuffles are keyed by user_id and the total
# order (ts, event_id) is deterministic, so both engines see identical
# session ids. Integer epoch seconds throughout.
# ---------------------------------------------------------------------------

_SESSION_GAP_SEC = 1800

_SESSIONIZE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
flagged AS (
  SELECT user_id, event_id, es,
         CASE WHEN es - lag(es) OVER (PARTITION BY user_id
                                      ORDER BY es, event_id)
                   > {_SESSION_GAP_SEC}
              OR lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
                   IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM e
),
numbered AS (
  SELECT user_id, es,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       count(*) AS n_events,
       min(es) AS start_epoch,
       max(es) - min(es) AS duration_sec
FROM numbered
GROUP BY user_id, session_no
"""


@register("q_sessionize_gap", oracle=_SESSIONIZE_ORACLE)
def q_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("es"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    prev = F.lag("es").over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        "es",
        F.when(
            prev.isNull() | ((F.col("es") - prev) > _SESSION_GAP_SEC), 1
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    numbered = flagged.select(
        "user_id",
        "es",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_no"),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("es").alias("start_epoch"),
        (F.max("es") - F.min("es")).alias("duration_sec"),
    )


# ---------------------------------------------------------------------------
# q_regression_trend — per-event-type linear trend of hourly volume via
# EXACT integer sufficient statistics: x = hour index since the first
# hour, y = events in that hour; slope/intercept come from (n, Σx, Σy,
# Σxy, Σx²) accumulated as BIGINTs — associative and order-independent,
# where the builtin regr_slope's internal double accumulation would be
# at the mercy of partition order. One shuffle for the hourly rollup,
# one 1-row-per-type aggregate; the final division is the only float
# and both engines divide the same two integers. The production use is
# drift/trend detection over ingest volume.
# ---------------------------------------------------------------------------

_REG_TREND_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS h,
         count(*) AS y
  FROM events
  GROUP BY 1, 2
),
based AS (
  SELECT event_type, h - min(h) OVER () AS x, y FROM hourly
),
stats AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM based GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE round((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6)
       END AS slope_per_hour,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE round((sy * sxx - sx * sxy) * 1.0 / (n * sxx - sx * sx), 4)
       END AS intercept
FROM stats
"""


@register("q_regression_trend", oracle=_REG_TREND_ORACLE)
def q_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (
            F.unix_timestamp(F.date_trunc("hour", "ts")).cast("bigint")
            / F.lit(3600)
        )
        .cast("bigint")
        .alias("h"),
    ).agg(F.count(F.lit(1)).alias("y"))
    based = hourly.select(
        "event_type",
        (F.col("h") - F.min("h").over(Window.partitionBy())).alias("x"),
        "y",
    )
    stats = based.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    # det = 0 (a type seen in exactly one hour) must yield NULL in both
    # engines — ANSI Spark raises on the division, DuckDB emits inf.
    return stats.select(
        "event_type",
        "n",
        F.when(
            det != 0,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * 1.0
                / det,
                6,
            ),
        ).alias("slope_per_hour"),
        F.when(
            det != 0,
            F.round(
                (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
                * 1.0
                / det,
                4,
            ),
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# q_cohort_ltv — the cohort lifetime-value matrix: customers grouped by
# first-order month (the cohort), revenue accumulated by months-since-
# first-order (the age), reported as (cohort_month, age_months) cells
# with active-customer counts and exact cents. THE subscription/
# retention economics table — q_retention counts returning users; this
# prices them.
#
# Exactness: cohort and age are pure integer month arithmetic
# (year*12 + month — never engine-local months_between, whose
# fractional semantics differ); money in cents.
#
# Scale: one custkey rollup for cohorts (map-side combinable min), one
# fact-keyed broadcast-or-shuffle join back, one (cohort, age) rollup —
# cells are calendar²-bounded (~3.2k for 80 months) regardless of
# corpus size.
# ---------------------------------------------------------------------------

_COHORT_LTV_ORACLE = """
WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
cohort AS (
  SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1
)
SELECT c.m0 AS cohort_month,
       o.m - c.m0 AS age_months,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
       CAST(sum(o.cents) AS BIGINT) AS revenue_cents
FROM o JOIN cohort c ON c.o_custkey = o.o_custkey
GROUP BY 1, 2
"""


@register("q_cohort_ltv", oracle=_COHORT_LTV_ORACLE)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("m"),
        money.cents("o_totalprice").alias("cents"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    return (
        o.join(cohort, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (F.col("m") - F.col("m0")).alias("age_months"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_peak_concurrency — peak concurrent sessions per day via the classic
# sweep-line (+1 at session start, −1 after session end, running max):
# the capacity-planning number ("how many simultaneous users must the
# serving tier hold") that per-hour event counts (q_hourly_matrix)
# cannot give, because concurrency depends on session OVERLAP, not
# arrival volume. Sessions are the 30-minute-gap islands of
# q_sessionize_gap; multi-day sessions are clipped per day so each
# day's sweep is self-contained and exact.
#
# Exactness: all times are exact epoch seconds; the sweep order is the
# total order (t, delta, user_id) with −1 sorting before +1 at equal
# timestamps (a session ending exactly when another starts does NOT
# overlap it — the half-open [start, end) convention, applied
# identically in both engines); the running sum and max are exact
# integers.
#
# Scale: sessionization is one user-partitioned window (millions of
# independent partitions); the sweep partitions per DAY — at 100 TB a
# day's deltas still fit one task comfortably (2 rows per session),
# and finer sharding would add an hour-level carry-in aggregation
# (documented swap, same sweep).
# ---------------------------------------------------------------------------

_PEAK_GAP_S = 1800

_PEAK_ORACLE = f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_s FROM events
),
gaps AS (
  SELECT user_id, t_s,
         CASE WHEN t_s - lag(t_s) OVER (PARTITION BY user_id ORDER BY t_s)
                   > {_PEAK_GAP_S} THEN 1
              WHEN lag(t_s) OVER (PARTITION BY user_id ORDER BY t_s)
                   IS NULL THEN 1
              ELSE 0 END AS is_start
  FROM e
),
sess AS (
  SELECT user_id,
         min(t_s) AS s_start,
         max(t_s) + 1 AS s_end
  FROM (SELECT user_id, t_s,
               sum(is_start) OVER (PARTITION BY user_id ORDER BY t_s
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps)
  GROUP BY user_id, sid
),
days AS (
  SELECT sess.user_id,
         d.d AS day_s,
         greatest(sess.s_start, d.d) AS c_start,
         least(sess.s_end, d.d + 86400) AS c_end
  FROM sess
  JOIN (SELECT DISTINCT (t_s // 86400) * 86400 AS d FROM e) d
    ON sess.s_start < d.d + 86400 AND sess.s_end > d.d
),
pts AS (
  SELECT day_s, c_start AS t, CAST(1 AS BIGINT) AS delta, user_id FROM days
  UNION ALL
  SELECT day_s, c_end, CAST(-1 AS BIGINT), user_id FROM days
),
sweep AS (
  SELECT day_s,
         sum(delta) OVER (PARTITION BY day_s ORDER BY t, delta, user_id
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM pts
)
SELECT day_s,
       CAST(max(conc) AS BIGINT) AS peak_concurrency
FROM sweep
GROUP BY day_s
"""


@register("q_peak_concurrency", oracle=_PEAK_ORACLE)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").cast("bigint").alias("t_s")
    )
    w_u = Window.partitionBy("user_id").orderBy("t_s")
    gaps = e.select(
        "user_id",
        "t_s",
        F.when(
            F.lag("t_s").over(w_u).isNull()
            | (F.col("t_s") - F.lag("t_s").over(w_u) > _PEAK_GAP_S),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = (
        gaps.withColumn(
            "sid",
            F.sum("is_start").over(w_u.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("t_s").alias("s_start"),
            (F.max("t_s") + 1).alias("s_end"),
        )
    )
    days = e.select(
        F.expr("(t_s div 86400) * 86400").alias("d")
    ).distinct()
    clipped = sess.join(
        F.broadcast(days),
        (F.col("s_start") < F.col("d") + 86400) & (F.col("s_end") > F.col("d")),
    ).select(
        "user_id",
        F.col("d").alias("day_s"),
        F.greatest("s_start", F.col("d")).alias("c_start"),
        F.least("s_end", F.col("d") + 86400).alias("c_end"),
    )
    # r11 optimization (guide §2.4): the former UNION ALL evaluated the
    # sessionize→clip subtree once per branch; each clipped session emits
    # its +1/-1 sweep points map-side through one explode instead.
    pts = clipped.select(
        "day_s",
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("c_start").alias("t"),
                    F.lit(1).cast("bigint").alias("delta"),
                ),
                F.struct(
                    F.col("c_end").alias("t"),
                    F.lit(-1).cast("bigint").alias("delta"),
                ),
            )
        ).alias("td"),
    ).select("day_s", F.col("td.t").alias("t"), F.col("td.delta").alias("delta"), "user_id")
    w_d = Window.partitionBy("day_s").orderBy("t", "delta", "user_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sweep = pts.select("day_s", F.sum("delta").over(w_d).alias("conc"))
    return sweep.groupBy("day_s").agg(
        F.max("conc").cast("bigint").alias("peak_concurrency")
    )
