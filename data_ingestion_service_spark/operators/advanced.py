"""Second-tier relational operators: pivot/unpivot, argmin/argmax
aggregates, list aggregation, correlated subqueries, and the grouped-map /
map-partitions Pandas surfaces with SQL-checkable semantics.

The two Pandas operators here are the "custom operator" escape hatch done
right (SURVEY.md §2.11): Arrow-batched, schema-declared, and — because
their semantics are relational (per-group z-score, filter+project) — still
verifiable against an ANSI oracle. At 100 TB ``applyInPandas`` shuffles
once on the group key and streams one group at a time through Python.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_pivot — orderstatus columns per priority (pivot = groupBy + pivot agg).
# Oracle uses explicit conditional aggregation: identical semantics, and
# keeps the oracle engine-agnostic ANSI.
# ---------------------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT
  o_orderpriority,
  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
FROM orders
GROUP BY o_orderpriority
"""


@register("q_pivot", oracle=_PIVOT_ORACLE)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


# ---------------------------------------------------------------------------
# q_unpivot — wide→long (Spark unpivot / SQL UNION ALL of measures).
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
SELECT c_custkey, 'acctbal' AS measure, round(c_acctbal, 2) AS val
FROM customer WHERE c_custkey <= 200
UNION ALL
SELECT c_custkey, 'nationkey' AS measure, c_nationkey::DOUBLE AS val
FROM customer WHERE c_custkey <= 200
"""


@register("q_unpivot", oracle=_UNPIVOT_ORACLE)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    wide = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot(
        ids=["c_custkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="measure",
        valueColumnName="val",
    )


# ---------------------------------------------------------------------------
# q_minmax_by — argmin/argmax aggregates (min_by / max_by == arg_min /
# arg_max). Ties on o_totalprice within a customer would make the argmax
# nondeterministic, so the ordering key packs (price-cents, orderkey) into
# one exact BIGINT — a total order, identical in both engines (DuckDB 1.0's
# max_by doesn't accept composite ordering values).
# ---------------------------------------------------------------------------

_MINMAX_BY_ORACLE = """
SELECT
  o_custkey,
  max_by(o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) * 1000000000 + o_orderkey)
    AS biggest_order,
  min_by(o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) * 1000000000 - o_orderkey)
    AS smallest_order,
  round(max(o_totalprice), 2) AS max_price,
  round(min(o_totalprice), 2) AS min_price
FROM orders
GROUP BY o_custkey
"""


@register("q_minmax_by", oracle=_MINMAX_BY_ORACLE)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = money.cents("o_totalprice")
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", cents * 1000000000 + F.col("o_orderkey")).alias(
            "biggest_order"
        ),
        F.min_by("o_orderkey", cents * 1000000000 - F.col("o_orderkey")).alias(
            "smallest_order"
        ),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
    )


# ---------------------------------------------------------------------------
# q_collect_sorted — list aggregation with deterministic (sorted) order.
# ---------------------------------------------------------------------------

_COLLECT_ORACLE = """
SELECT
  n_regionkey,
  array_to_string(list_sort(list(n_name)), ',')  AS nations,
  count(*)                 AS n_nations
FROM nation
GROUP BY n_regionkey
"""


@register("q_collect_sorted", oracle=_COLLECT_ORACLE)
def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        # array_join: array-typed outputs crash the driver's pandas
        # canonicalizer, so oracle-checked queries emit joined strings.
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n_nations"),
    )


# ---------------------------------------------------------------------------
# q_correlated — correlated scalar subquery: orders above their customer's
# average order value. Spark expresses it as join-against-aggregate (what
# Catalyst de-correlates the subquery into anyway).
# ---------------------------------------------------------------------------

# Exact-cents avg (r10 float-sum audit): the avg's last ulp decides row
# membership (o_totalprice > 1.5*avg), so both engines must compute the
# identical double — sum cents as BIGINT, divide once.
_CORRELATED_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS totalprice
FROM orders o
WHERE o.o_totalprice > 1.5 * (
  SELECT CAST(sum(CAST(floor(o2.o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / count(*)
  FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)
"""


@register("q_correlated", oracle=_CORRELATED_ORACLE)
def q_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    avg_per_cust = orders.groupBy(F.col("o_custkey").alias("ac_custkey")).agg(
        (
            F.sum(money.cents_floor("o_totalprice")).cast("double")
            / 100
            / F.count(F.lit(1))
        ).alias("avg_price")
    )
    return (
        orders.join(avg_per_cust, F.col("o_custkey") == F.col("ac_custkey"))
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select(
            "o_orderkey", "o_custkey", F.round(F.col("o_totalprice"), 2).alias("totalprice")
        )
    )


# ---------------------------------------------------------------------------
# q_grouped_map — applyInPandas: per-segment z-score of customer balances.
# Relational semantics → window-function oracle. Stable math: mean/std
# computed by pandas (float64) can differ from SQL in the last ulp, so the
# output rounds to 6dp — far coarser than the ~1e-12 noise, far finer than
# the data's spread (z-scores ~O(1), true values irrational → boundary
# collisions have ~1e-6 probability... accepted and test-verified).
# ---------------------------------------------------------------------------

_GROUPED_MAP_ORACLE = """
SELECT
  c_custkey,
  c_mktsegment,
  round((c_acctbal - avg(c_acctbal) OVER seg) / stddev_samp(c_acctbal) OVER seg, 6)
    AS bal_z
FROM customer
WINDOW seg AS (PARTITION BY c_mktsegment)
"""


@register("q_grouped_map", oracle=_GROUPED_MAP_ORACLE)
def q_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        from data_ingestion_service_spark.chaos import maybe_fail

        maybe_fail("grouped_zscore")  # retry rung (no-op unless enabled)
        mean = pdf["c_acctbal"].mean()
        std = pdf["c_acctbal"].std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "bal_z": (pdf["c_acctbal"] - mean) / std,
            }
        )

    out = cust.select("c_custkey", "c_mktsegment", "c_acctbal").groupBy(
        "c_mktsegment"
    ).applyInPandas(zscore, schema="c_custkey bigint, c_mktsegment string, bal_z double")
    return out.select("c_custkey", "c_mktsegment", F.round(F.col("bal_z"), 6).alias("bal_z"))


# ---------------------------------------------------------------------------
# q_map_in_pandas — mapInPandas (UDTF-ish): per-batch filter + derive.
# ---------------------------------------------------------------------------

_MAP_IN_PANDAS_ORACLE = """
SELECT event_id, event_type, round(value * 1.1, 4) AS boosted
FROM events
WHERE event_type = 'purchase' AND value > 100
"""


@register("q_map_in_pandas", oracle=_MAP_IN_PANDAS_ORACLE)
def q_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def boost(batches):
        from data_ingestion_service_spark.chaos import maybe_fail

        maybe_fail("map_in_pandas")  # retry rung (no-op unless enabled)
        for pdf in batches:
            hit = pdf[(pdf["event_type"] == "purchase") & (pdf["value"] > 100)]
            yield pd.DataFrame(
                {
                    "event_id": hit["event_id"],
                    "event_type": hit["event_type"],
                    "boosted": hit["value"] * 1.1,
                }
            )

    out = ev.mapInPandas(boost, schema="event_id bigint, event_type string, boosted double")
    return out.select("event_id", "event_type", F.round(F.col("boosted"), 4).alias("boosted"))


# ---------------------------------------------------------------------------
# q_order_streaks — gaps-and-islands: runs of consecutive order days per
# customer via the classic daynumber-minus-row_number grouping. Both
# engines anchor the day number to a fixed epoch date so the island key is
# an exact integer. Scale: one shuffle on o_custkey shared by the window
# and the island aggregation (same partitioning reused).
# ---------------------------------------------------------------------------

_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT o_custkey, o_orderdate::DATE AS d FROM orders
),
isl AS (
  SELECT o_custkey, d,
         date_diff('day', DATE '1990-01-01', d)
           - row_number() OVER (PARTITION BY o_custkey ORDER BY d) AS grp
  FROM days
)
SELECT o_custkey, CAST(count(*) AS BIGINT) AS streak_len,
       min(d)::TIMESTAMP AS streak_start
FROM isl
GROUP BY o_custkey, grp
HAVING count(*) >= 2
"""


@register("q_order_streaks", oracle=_STREAKS_ORACLE)
def q_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    days = orders.select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("d")
    isl = days.withColumn(
        "grp",
        F.datediff(F.col("d"), F.lit("1990-01-01").cast("date"))
        - F.row_number().over(w),
    )
    return (
        isl.groupBy("o_custkey", "grp")
        .agg(F.count(F.lit(1)).alias("streak_len"), F.min("d").alias("streak_start"))
        .filter(F.col("streak_len") >= 2)
        # TIMESTAMP, not DATE: raw DATE output canonicalizes asymmetrically
        # across engines (object-of-date vs datetime64) under the driver hash.
        .select(
            "o_custkey",
            "streak_len",
            F.col("streak_start").cast("timestamp_ntz").alias("streak_start"),
        )
    )
