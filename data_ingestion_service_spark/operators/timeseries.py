"""Time-series feature operators: the lag/rolling feature matrix, a
day-of-week seasonal profile with residual variance, and a per-entity
rolling exact median.

These are the standard "turn a fact stream into model-ready series
features" passes (forecasting inputs, seasonality audits, robust
smoothing) that sit next to the corpus pipeline in a training platform.
Complements the existing series keys (`q_ewma`, `q_interpolate`,
`q_resample_ffill`, `q_time_weighted_avg`, `q_regression_trend`) with
the multi-lag feature-matrix shape, the seasonal decomposition, and a
windowed ROBUST statistic (exact median, not mean).

Exactness discipline (SURVEY.md §5): money accumulates in cents
(BIGINT), ratios are e6 fixed-point integer divisions, day-of-week is
pure epoch-day modular arithmetic (never engine-local DOW builtins,
whose week origin differs between Spark and DuckDB), and the one
variance uses a single fixed-parenthesization double expression over
exact integer sufficient statistics — identical inputs, identical IEEE
ops, identical result.

Scale shapes (100 TB): q_lag_features windows over a CALENDAR-bounded
daily rollup (the unpartitioned window is over ~2.4k rows regardless of
corpus size — days don't grow with data); q_seasonal_dow is one scan
reduced to a 35-cell sufficient-statistics table; q_rolling_median is
one user-partitioned window with a constant 5-row frame (state is O(1)
per row, partitions are per-user — millions of independent partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_lag_features — the forecasting feature matrix: daily revenue with
# lag-1, lag-7, trailing-7-day sum, and week-over-week ratio (e6) in ONE
# window pass over the daily rollup. This is the table a demand model
# trains on; building it wrong (e.g. lag over a non-dense or non-
# deterministically ordered series) is the classic silent feature bug.
#
# Scale: the orders scan reduces to a per-day rollup first (calendar-
# bounded: ~2.4k rows for the 1995–2001 fixture AT ANY CORPUS SIZE), so
# the single unpartitioned window — normally a red flag — is over a
# table whose size is fixed by the calendar, not the data. The rollup
# itself is one day-keyed shuffle with map-side partial aggregation.
#
# Exactness: revenue in cents; wow_e6 = cents*1e6 // lag7_cents (both
# engines' integer division truncates toward zero; values are
# positive). Lags at the series head stay NULL on both sides.
# ---------------------------------------------------------------------------

_LAG_FEATURES_ORACLE = """
WITH daily AS (
  SELECT o_orderdate::DATE AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders
  GROUP BY 1
),
feat AS (
  SELECT d, revenue_cents,
         lag(revenue_cents, 1) OVER (ORDER BY d) AS lag1_cents,
         lag(revenue_cents, 7) OVER (ORDER BY d) AS lag7_cents,
         CAST(sum(revenue_cents) OVER (
           ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS roll7_cents
  FROM daily
)
SELECT d::TIMESTAMP AS day, revenue_cents, lag1_cents, lag7_cents,
       roll7_cents,
       CASE WHEN lag7_cents IS NULL THEN NULL
            ELSE revenue_cents * 1000000 // lag7_cents END AS wow_e6
FROM feat
"""


@register("q_lag_features", oracle=_LAG_FEATURES_ORACLE)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(money.cents("o_totalprice")).cast("bigint").alias("revenue_cents")
    )
    # Calendar-bounded single window (see module docstring).
    w = Window.orderBy("d")
    feat = daily.select(
        "d",
        "revenue_cents",
        F.lag("revenue_cents", 1).over(w).alias("lag1_cents"),
        F.lag("revenue_cents", 7).over(w).alias("lag7_cents"),
        F.sum("revenue_cents")
        .over(w.rowsBetween(-6, 0))
        .cast("bigint")
        .alias("roll7_cents"),
    )
    return feat.select(
        F.col("d").cast("timestamp_ntz").alias("day"),
        "revenue_cents",
        "lag1_cents",
        "lag7_cents",
        "roll7_cents",
        F.when(
            F.col("lag7_cents").isNotNull(),
            F.expr("revenue_cents * 1000000 div lag7_cents"),
        ).alias("wow_e6"),
    )


# ---------------------------------------------------------------------------
# q_seasonal_dow — day-of-week seasonal profile per event type: mean
# event value and residual variance for each (event_type, dow) cell.
# The seasonality audit a metrics pipeline runs before fitting any
# forecaster — if the dow means are flat and the variance is uniform,
# there is no weekly signal to model.
#
# Day-of-week is (epoch_days + 3) % 7 so 0=Monday … 6=Sunday, computed
# from exact epoch-day integers in BOTH engines — Spark's dayofweek()
# (1=Sunday) and DuckDB's dow (0=Sunday) / isodow (1=Monday) builtins
# disagree on the week origin, so neither is used.
#
# Exactness: ONE scan accumulates exact sufficient statistics per cell
# (n, Σcents, Σcents²; Σcents² ≤ ~6e16 at sf1 — BIGINT-safe), then mean
# = integer division and variance = one fixed-parenthesization double
# expression over those exact integers, floored to an integer cents²
# value. Identical scalar inputs → identical IEEE result on both
# engines.
#
# Scale: map-side partial aggregation into ≤35 cells; nothing else.
# ---------------------------------------------------------------------------

_SEASONAL_DOW_ORACLE = """
WITH e AS (
  SELECT event_type,
         (date_diff('day', DATE '1970-01-01', ts::DATE) + 3) % 7 AS dow,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
cell AS (
  SELECT event_type, dow,
         CAST(count(*) AS BIGINT)      AS n_events,
         CAST(sum(cents) AS BIGINT)    AS s,
         CAST(sum(cents * cents) AS BIGINT) AS sq
  FROM e
  GROUP BY 1, 2
)
SELECT event_type, dow, n_events,
       s // n_events AS mean_cents,
       CAST(floor(
         (CAST(sq AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE))
         / CAST(n_events AS DOUBLE)
       ) AS BIGINT) AS var_cents2
FROM cell
"""


@register("q_seasonal_dow", oracle=_SEASONAL_DOW_ORACLE)
def q_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = money.cents("value")
    e = ev.select(
        "event_type",
        (
            (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) + 3)
            % 7
        ).alias("dow"),
        cents.alias("cents"),
    )
    cell = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("sq"),
    )
    return cell.select(
        "event_type",
        "dow",
        "n_events",
        F.expr("s div n_events").alias("mean_cents"),
        F.floor(
            (
                F.col("sq").cast("double")
                - F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("n_events").cast("double")
            )
            / F.col("n_events").cast("double")
        )
        .cast("bigint")
        .alias("var_cents2"),
    )


# ---------------------------------------------------------------------------
# q_rolling_median — per-user rolling EXACT median of event value over
# the last 5 events (ROWS frame, ordered by ts with event_id as the
# total-order tie-break). The robust-smoothing counterpart of q_ewma:
# medians shrug off the single spiked reading that drags a mean, which
# is why monitoring pipelines prefer them for alert baselines.
#
# Exactness: the median is DISCRETE — the lower-middle element of the
# sorted 5-row frame (element (n+1)//2), never an interpolated average
# — so it is an exact integer cents value on both engines. DuckDB's
# quantile_disc(0.5) over the same frame picks the identical element
# (probed: frame [10,20,30,40] → 20 = element (4+1)//2).
#
# Scale: one user-partitioned window, constant 5-row frame → O(1) state
# per row; partition count = user count (millions at 100 TB — fully
# parallel). The collect_list is frame-bounded (≤5 elements), never
# data-proportional.
# ---------------------------------------------------------------------------

_ROLLING_MEDIAN_ORACLE = """
SELECT event_id, user_id,
       quantile_disc(CAST(round(value * 100) AS BIGINT), 0.5) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
       ) AS med_cents
FROM events
"""


@register("q_rolling_median", oracle=_ROLLING_MEDIAN_ORACLE)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(
        F.collect_list(money.cents("value")).over(w)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.element_at(arr, ((F.size(arr) + 1) / 2).cast("int")).alias(
            "med_cents"
        ),
    )


# ---------------------------------------------------------------------------
# q_rolling_corr — 14-day rolling Pearson correlation between daily
# revenue and daily order count: the co-movement monitor ("is average
# ticket size drifting?") that a static q_corr_stats cannot give,
# because the relationship is only meaningful locally in time. Window
# sufficient statistics (Σx, Σy, Σxy, Σx², Σy², n over the frame) are
# exact BIGINTs; each day's correlation is ONE fixed-parenthesization
# double expression over them, floored to e6 — the q_ols2 discipline
# applied per-frame. Frames shorter than 3 days emit NULL (too few
# points), and zero-variance frames emit NULL on both engines.
#
# Scale: the rollup is calendar-bounded (~2.4k rows at any corpus
# size — q_lag_features' argument); six window sums share ONE sort.
# At 100 TB the corpus-sized work is only the daily rollup shuffle.
# ---------------------------------------------------------------------------

_RC_EXPR = (
    "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / CAST(nn AS DOUBLE))"
    " / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    " / CAST(nn AS DOUBLE))"
    " * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / CAST(nn AS DOUBLE)))"
)

_ROLLING_CORR_ORACLE = f"""
WITH daily AS (
  SELECT o_orderdate::DATE AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
              AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM orders
  GROUP BY 1
),
framed AS (
  SELECT d,
         CAST(count(*) OVER w AS BIGINT)      AS nn,
         CAST(sum(x) OVER w AS BIGINT)        AS sx,
         CAST(sum(y) OVER w AS BIGINT)        AS sy,
         CAST(sum(x * y) OVER w AS BIGINT)    AS sxy,
         CAST(sum(x * x) OVER w AS BIGINT)    AS sxx,
         CAST(sum(y * y) OVER w AS BIGINT)    AS syy
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT d::TIMESTAMP AS day,
       CASE WHEN nn < 3 THEN NULL
            WHEN nn * sxx = sx * sx OR nn * syy = sy * sy THEN NULL
            ELSE CAST(floor({_RC_EXPR} * 1000000) AS BIGINT)
       END AS corr_e6
FROM framed
"""


@register("q_rolling_corr", oracle=_ROLLING_CORR_ORACLE)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.expr(
            f"cast(sum({money.cents_sql('o_totalprice')}) div 100000 as bigint)"
        ).alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    framed = daily.select(
        "d",
        F.count(F.lit(1)).over(w).cast("bigint").alias("nn"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    )
    return framed.select(
        F.col("d").cast("timestamp_ntz").alias("day"),
        F.when(F.col("nn") < 3, F.lit(None).cast("bigint"))
        .when(
            (F.col("nn") * F.col("sxx") == F.col("sx") * F.col("sx"))
            | (F.col("nn") * F.col("syy") == F.col("sy") * F.col("sy")),
            F.lit(None).cast("bigint"),
        )
        .otherwise(
            F.expr(f"CAST(floor({_RC_EXPR} * 1000000) AS BIGINT)")
        )
        .alias("corr_e6"),
    )


# ---------------------------------------------------------------------------
# q_seasonal_anomalies — the monitoring rule built ON TOP of the
# q_seasonal_dow profile: per event type, z-test each calendar day's
# mean against its day-of-week profile (z² = (daily_mean − dow_mean)²
# · n_day / dow_var — the √n scaling matters: a daily MEAN over ~400
# events is 20× tighter than a single event) and report the anomaly
# count plus the most extreme day. On the uniform fixture the honest
# answer is ZERO anomalies with max z² ≈ 1-4 (the audit verifying
# calm data is calm — q_expectations' clean-fixture precedent); the
# output is the per-type SUMMARY, never empty, so the driver hash
# checks real values either way.
#
# Exactness: z²_e6 = (dm−mean)²·n·1e6 // var — all-BIGINT (deviations
# are bounded by the cents domain; (dm−mean)² ≤ ~1e8, ·n_day ~1e3,
# ·1e6 → ~1e17, BIGINT-safe); days with var = 0 are skipped by both
# engines identically.
#
# Scale: one scan → (type, day) rollup (calendar-bounded), broadcast
# join of the 35-row dow profile, 5-row summary.
# ---------------------------------------------------------------------------

_SEASONAL_ANOM_ORACLE = """
WITH e AS (
  SELECT event_type,
         (date_diff('day', DATE '1970-01-01', ts::DATE) + 3) % 7 AS dow,
         date_diff('day', DATE '1970-01-01', ts::DATE) AS epoch_day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
cell AS (
  SELECT event_type, dow,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS sq
  FROM e GROUP BY 1, 2
),
prof AS (
  SELECT event_type, dow,
         s // n AS mean_cents,
         CAST(floor((CAST(sq AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
              AS BIGINT) AS var_cents2
  FROM cell
),
daily AS (
  SELECT event_type, epoch_day, dow,
         CAST(sum(cents) // count(*) AS BIGINT) AS dm,
         CAST(count(*) AS BIGINT) AS nd
  FROM e GROUP BY 1, 2, 3
),
z AS (
  SELECT d.event_type,
         CASE WHEN p.var_cents2 <= 0 THEN NULL
              ELSE (d.dm - p.mean_cents) * (d.dm - p.mean_cents)
                   * d.nd * 1000000 // p.var_cents2 END AS z2_e6
  FROM daily d
  JOIN prof p ON p.event_type = d.event_type AND p.dow = d.dow
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN z2_e6 > 9000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       CAST(max(z2_e6) AS BIGINT) AS max_z2_e6
FROM z
GROUP BY 1
"""


@register("q_seasonal_anomalies", oracle=_SEASONAL_ANOM_ORACLE)
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "epoch_day"
        ),
        money.cents("value").alias("cents"),
    ).withColumn("dow", (F.col("epoch_day") + 3) % 7)
    cell = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("sq"),
    )
    prof = cell.select(
        "event_type",
        "dow",
        F.expr("s div n").alias("mean_cents"),
        F.floor(
            (
                F.col("sq").cast("double")
                - F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("n").cast("double")
            )
            / F.col("n").cast("double")
        )
        .cast("bigint")
        .alias("var_cents2"),
    )
    daily = e.groupBy("event_type", "epoch_day", "dow").agg(
        F.expr("cast(sum(cents) div count(*) as bigint)").alias("dm"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    z = daily.join(F.broadcast(prof), ["event_type", "dow"]).select(
        "event_type",
        F.when(F.col("var_cents2") <= 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.expr(
                "(dm - mean_cents) * (dm - mean_cents) * nd * 1000000"
                " div var_cents2"
            )
        )
        .alias("z2_e6"),
    )
    return z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("z2_e6") > 9000000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_anomalies"),
        F.max("z2_e6").cast("bigint").alias("max_z2_e6"),
    )


# ---------------------------------------------------------------------------
# q_out_of_order_audit — late-arrival audit over the event stream:
# treating event_id as arrival order (the fixture generator assigns
# ids in generation order) and ts as event time, measure per user the
# fraction of events that arrived AFTER a later-timestamped event had
# already arrived (inversions against the running max-ts) and the
# worst lateness in seconds. This is THE statistic that sizes a
# streaming watermark: q_stream_watermark asserts a delay works;
# this key measures the delay the data actually needs (max_late_s is
# the smallest watermark that drops nothing).
#
# Exactness: running max over exact epoch seconds with (event_id)
# total order; counts and gaps are exact integers; the global rollup
# reports per-type fractions e6.
#
# Scale: one user-partitioned window (running max is O(1) state),
# one rollup. Nothing global until the 5-row summary.
# ---------------------------------------------------------------------------

_OOO_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t_s
  FROM events
),
m AS (
  SELECT event_type, t_s,
         max(t_s) OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_max
  FROM e
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN prior_max > t_s THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(sum(CASE WHEN prior_max > t_s THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000 // CAST(count(*) AS BIGINT) AS late_share_e6,
       CAST(coalesce(max(CASE WHEN prior_max > t_s
                              THEN prior_max - t_s END), 0) AS BIGINT)
         AS max_late_s
FROM m
GROUP BY 1
"""


@register("q_out_of_order_audit", oracle=_OOO_ORACLE)
def q_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("t_s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = e.select(
        "event_type", "t_s", F.max("t_s").over(w).alias("prior_max")
    )
    late = F.col("prior_max") > F.col("t_s")
    return m.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_late"),
        F.expr(
            "cast(sum(case when prior_max > t_s then 1 else 0 end)"
            " * 1000000 div count(*) as bigint)"
        ).alias("late_share_e6"),
        F.coalesce(
            F.max(F.when(late, F.col("prior_max") - F.col("t_s"))), F.lit(0)
        )
        .cast("bigint")
        .alias("max_late_s"),
    )
