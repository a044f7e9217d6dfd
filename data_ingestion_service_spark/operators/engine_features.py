"""Engine-feature operators: the SQL front-end, bucketed co-located
joins, snapshot upsert/merge, and advanced window frames.

q_bucketed_join is the headline scale feature here: both join sides are
written bucketed on the join key, so the sort-merge join reads
pre-partitioned buckets and the plan contains NO shuffle exchange before
the join — the layout a 100 TB fact/fact join depends on (re-verified by
tests/test_scale_posture.py).
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import fixture_cache_key, load_table, table_path
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register
from data_ingestion_service_spark.session import staged, work_dir

# ---------------------------------------------------------------------------
# q_sql_frontend — the same engine through its SQL API (spark.sql over
# the loaded frames): proves the surface is dual DataFrame/SQL.
# ---------------------------------------------------------------------------

_SQL_FRONTEND_ORACLE = """
SELECT
  n.n_name,
  count(DISTINCT c.c_custkey)  AS n_customers,
  count(o.o_orderkey)          AS n_orders,
  round(CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_spend
FROM nation n
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
GROUP BY n.n_name
"""


@register("q_sql_frontend", oracle=_SQL_FRONTEND_ORACLE)
def q_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT
          n.n_name,
          count(DISTINCT c.c_custkey)   AS n_customers,
          count(o.o_orderkey)           AS n_orders,
          -- exact-cents sum (r10 float-sum audit)
          round(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) / 100, 2)
            AS total_spend
        FROM {nation} n
        JOIN {customer} c ON c.c_nationkey = n.n_nationkey
        JOIN {orders} o   ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
        """,
        nation=load_table(spark, sf_dir, "nation"),
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# q_bucketed_join — co-located fact/fact join over bucketed tables.
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = """
SELECT
  o_orderpriority,
  count(*)                       AS n_items,
  round(sum(l_quantity), 2)      AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def _pid_alive(pid: int) -> bool:
    import os

    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _write_bucketed_inputs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Bucket both join sides on the join key. Table names are a pure
    function of (sf_dir, PID): per-tier so a session reuses ONE pair per
    tier, per-PROCESS so two concurrent runs sharing a cwd/warehouse can
    never rmtree each other's files mid-write (the in-process
    _BUCKETED_LOCK cannot see across processes — the r4 advisor's race).
    Leak control without the race: stale dirs are garbage-collected only
    when their embedded PID is provably dead (a dead process cannot be
    mid-write), plus our own previous location — DROP TABLE alone is
    catalog-only and would leave saveAsTable failing with
    LOCATION_ALREADY_EXISTS."""
    import os
    import re
    import shutil

    tier = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    tag = f"{tier}_p{os.getpid()}"
    li_tbl, ord_tbl = f"li_bucketed_{tag}", f"orders_bucketed_{tag}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    warehouse = warehouse.removeprefix("file:")
    # GC: any bucketed-table dir whose _p<pid> owner is dead is stale;
    # dirs WITHOUT a pid suffix are leaks from the pre-r5 naming schemes
    # (uuid-tagged, then per-tier) — no live process can own them.
    if os.path.isdir(warehouse):
        for d in os.listdir(warehouse):
            m = re.fullmatch(r"(?:li|orders)_bucketed_.*_p(\d+)", d)
            if m:
                if not _pid_alive(int(m.group(1))):
                    shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)
            elif re.fullmatch(r"(?:li|orders)_bucketed_.*", d):
                shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)
    for tbl in (li_tbl, ord_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{warehouse}/{tbl.lower()}", ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(li_tbl)
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ord_tbl)
    return li_tbl, ord_tbl


# Bucketed tables are a LAYOUT, built once and joined many times — the
# whole point of bucketing at 100 TB. Cache the pair of table names per
# (session, sf): repeat invocations join the existing buckets instead of
# re-writing two tables per call (the round-3 wart: rewrite-per-call plus
# a mutable pending-drop list). Weak session keys — a session's CATALOG
# entries die with it; the deterministic per-tier table names mean a
# later session overwrites (never accumulates) the files on disk.
_BUCKETED_TABLES: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[str, str]]]" = (
    weakref.WeakKeyDictionary()
)
_BUCKETED_LOCK = threading.Lock()


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    per_session = _BUCKETED_TABLES.setdefault(spark, {})
    key = sf_dir.rstrip("/")
    names = per_session.get(key)
    if names is None:
        with _BUCKETED_LOCK:
            names = per_session.get(key)
            if names is None:
                names = _write_bucketed_inputs(spark, sf_dir)
                per_session[key] = names
    return names


@register("q_bucketed_join", oracle=_BUCKETED_ORACLE)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_tbl, ord_tbl = _bucketed_tables(spark, sf_dir)
    # MERGE hint forces the bucketed sort-merge join path (zero shuffles —
    # what a fact/fact join needs at scale) without flipping session confs,
    # so the plan stays lazy and the driver runs the real bucketed SMJ.
    return (
        spark.table(li_tbl)
        .hint("merge")
        .join(spark.table(ord_tbl), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


def bucketed_join_plan(spark: SparkSession, sf_dir: str) -> str:
    """Expose the executed physical plan for the posture test (same MERGE
    hint shape and same cached tables as q_bucketed_join)."""
    li_tbl, ord_tbl = _bucketed_tables(spark, sf_dir)
    joined = (
        spark.table(li_tbl)
        .hint("merge")
        .join(spark.table(ord_tbl), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return joined._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# q_upsert_snapshot — merge/upsert: latest event value per user applied to
# the customer snapshot (full-outer merge with status classification) —
# the core ingestion-service "apply changes" semantic, expressed as a
# declarative join (Delta-style MERGE INTO without the table format).
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = """
WITH latest AS (
  SELECT user_id, value AS latest_value
  FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT
  coalesce(c.c_custkey, l.user_id)       AS entity_id,
  round(coalesce(l.latest_value, c.c_acctbal), 2) AS current_value,
  CASE
    WHEN c.c_custkey IS NULL THEN 'inserted'
    WHEN l.user_id  IS NULL THEN 'unchanged'
    ELSE 'updated'
  END AS merge_status
FROM customer c
FULL OUTER JOIN latest l ON c.c_custkey = l.user_id
"""


@register("q_upsert_snapshot", oracle=_UPSERT_ORACLE)
def q_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("value").alias("latest_value"))
    )
    merged = cust.join(latest, F.col("c_custkey") == F.col("user_id"), "full_outer")
    return merged.select(
        F.coalesce(F.col("c_custkey"), F.col("user_id")).alias("entity_id"),
        F.round(F.coalesce(F.col("latest_value"), F.col("c_acctbal")), 2).alias(
            "current_value"
        ),
        F.when(F.col("c_custkey").isNull(), "inserted")
        .when(F.col("user_id").isNull(), "unchanged")
        .otherwise("updated")
        .alias("merge_status"),
    )


# ---------------------------------------------------------------------------
# q_merge_upsert — keyed MERGE INTO with DELETE semantics (VERDICT r7
# item 3): the canonical ingestion write. The CDC batch is each user's
# LATEST event (ts, event_id tie-break); its op is derived from the
# data — an 'error' latest event is the tombstone (op=D), anything else
# upserts its value (op=U). Against the customer snapshot keyed by
# c_custkey, classic MERGE matrix:
#   matched    + U -> updated        matched    + D -> deleted
#   unmatched  + U -> inserted       unmatched  + D -> skipped_delete
#   target-only    -> unchanged
# Emits per-action row counts AND the merged table's balance checksum
# (exact cents BIGINT — acctbal and event value are 2dp by fixture, so
# round(x*100)::BIGINT is the same integer on both engines) as DATA.
#
# Scale shape: ONE full-outer shuffle on the merge key; the action
# matrix is a CASE over that single joined stream, never a re-scan or
# union per action class (pinned by posture test). The CDC batch's
# latest-per-key window shuffles on the same key first — at 100 TB
# both sides would be bucketed on the key and the merge is co-located.
# Without Delta/Iceberg in the container, the hand-rolled full-outer +
# coalesce IS the honest MERGE (NOTES.md pins the connector gap).
# ---------------------------------------------------------------------------

_MERGE_UPSERT_ORACLE = """
WITH cdc AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(round(value * 100) AS BIGINT) AS new_cents
  FROM (
    SELECT user_id, event_type, value,
           row_number() OVER (
             PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
  ) WHERE rn = 1
),
tgt AS (
  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS old_cents
  FROM customer
),
merged AS (
  SELECT
    CASE
      WHEN t.c_custkey IS NULL AND c.op = 'U' THEN 'inserted'
      WHEN t.c_custkey IS NULL                THEN 'skipped_delete'
      WHEN c.user_id  IS NULL                 THEN 'unchanged'
      WHEN c.op = 'D'                         THEN 'deleted'
      ELSE 'updated'
    END AS action,
    CASE
      WHEN t.c_custkey IS NULL AND c.op = 'U' THEN c.new_cents
      WHEN t.c_custkey IS NOT NULL AND c.user_id IS NULL THEN t.old_cents
      WHEN t.c_custkey IS NOT NULL AND c.op = 'U' THEN c.new_cents
      ELSE NULL
    END AS merged_cents
  FROM tgt t
  FULL OUTER JOIN cdc c ON t.c_custkey = c.user_id
)
SELECT action,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(merged_cents) AS BIGINT) AS balance_cents
FROM merged
GROUP BY action
"""


@register("q_merge_upsert", oracle=_MERGE_UPSERT_ORACLE)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    cdc = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
            money.cents("value").alias("new_cents"),
        )
    )
    tgt = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        money.cents("c_acctbal").alias("old_cents"),
    )
    merged = tgt.join(cdc, tgt.c_custkey == cdc.user_id, "full_outer").select(
        F.when(F.col("c_custkey").isNull() & (F.col("op") == "U"), "inserted")
        .when(F.col("c_custkey").isNull(), "skipped_delete")
        .when(F.col("user_id").isNull(), "unchanged")
        .when(F.col("op") == "D", "deleted")
        .otherwise("updated")
        .alias("action"),
        F.when(
            F.col("c_custkey").isNull() & (F.col("op") == "U"),
            F.col("new_cents"),
        )
        .when(
            F.col("c_custkey").isNotNull() & F.col("user_id").isNull(),
            F.col("old_cents"),
        )
        .when(
            F.col("c_custkey").isNotNull() & (F.col("op") == "U"),
            F.col("new_cents"),
        )
        .alias("merged_cents"),
    )
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("merged_cents").cast("bigint").alias("balance_cents"),
    )


# ---------------------------------------------------------------------------
# q_range_frame — RANGE window frame: trailing-7-day revenue (value-based
# frame over an integer day key, vs the ROWS frames elsewhere).
# ---------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = """
SELECT
  o_orderdate,
  round(CAST(daily_cents AS DOUBLE) / 100, 2) AS daily_rev,
  round(CAST(sum(daily_cents) OVER (
    ORDER BY epoch_day
    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
  ) AS DOUBLE) / 100, 2) AS rev_7d
FROM (
  SELECT
    o_orderdate,
    date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS epoch_day,
    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS daily_cents
  FROM orders
  GROUP BY 1, 2
)
"""


@register("q_range_frame", oracle=_RANGE_FRAME_ORACLE)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Window arithmetic in integer cents (r10 float-sum audit): a RANGE-
    # frame DOUBLE sum's addition order is engine-implementation-defined
    # (segment tree vs sliding accumulator); integer sums are associative.
    daily = orders.groupBy("o_orderdate").agg(
        F.sum(money.cents_floor("o_totalprice")).alias("daily_cents")
    ).withColumn(
        "epoch_day",
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
        ).cast("long"),
    )
    w = Window.orderBy("epoch_day").rangeBetween(-6, 0)
    return daily.select(
        "o_orderdate",
        F.round(F.col("daily_cents") / 100, 2).alias("daily_rev"),
        F.round(F.sum("daily_cents").over(w) / 100, 2).alias("rev_7d"),
    )


# ---------------------------------------------------------------------------
# q_window_nav — navigation window functions: first/last value in frame,
# percent_rank, cume_dist.
# ---------------------------------------------------------------------------

_WINDOW_NAV_ORACLE = """
SELECT
  c_custkey,
  c_mktsegment,
  round(first_value(c_acctbal) OVER seg_full, 2)  AS seg_min_bal,
  round(last_value(c_acctbal)  OVER seg_full, 2)  AS seg_max_bal,
  round(percent_rank() OVER seg_order, 6)         AS bal_pct_rank,
  round(cume_dist()    OVER seg_order, 6)         AS bal_cume_dist
FROM customer
WINDOW
  seg_full  AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
  seg_order AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


@register("q_window_nav", oracle=_WINDOW_NAV_ORACLE)
def q_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    order = [F.asc("c_acctbal"), F.asc("c_custkey")]
    seg_full = (
        Window.partitionBy("c_mktsegment")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    seg_order = Window.partitionBy("c_mktsegment").orderBy(*order)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.first("c_acctbal").over(seg_full), 2).alias("seg_min_bal"),
        F.round(F.last("c_acctbal").over(seg_full), 2).alias("seg_max_bal"),
        F.round(F.percent_rank().over(seg_order), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(seg_order), 6).alias("bal_cume_dist"),
    )


# ---------------------------------------------------------------------------
# q_dpp_join — dynamic partition pruning: the fact table is laid out
# partitioned by month (hive-style directories), the dim side carries a
# selective filter (year = 1997), and Spark injects the dim's surviving
# join keys as a runtime partition filter on the fact scan — only ~12 of
# ~80 month directories are read. This is THE partition-layout payoff at
# 100 TB: the scan cost tracks the filter's selectivity, not the table
# size. The plan shows `dynamicpruning#...` in the fact's PartitionFilters
# (pinned by tests/test_scale_posture.py).
# ---------------------------------------------------------------------------

_DPP_ORACLE = """
SELECT
  strftime(o_orderdate, '%Y-%m') AS order_month,
  count(*)                        AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM orders
WHERE year(o_orderdate) = 1997
GROUP BY 1
"""


def _partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per orders fixture version per process) orders
    partitioned by month."""

    def write() -> str:
        out = work_dir("dpp_")
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
            .write.mode("overwrite")
            .partitionBy("order_month")
            .parquet(out)
        )
        return out

    key = ("dpp_orders", fixture_cache_key(table_path(sf_dir, "orders")))
    return staged(key, write)


@register("q_dpp_join", oracle=_DPP_ORACLE)
def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = spark.read.parquet(_partitioned_orders(spark, sf_dir))
    # Dim side: the month dimension, filtered on an attribute (yr) that is
    # NOT the join key — so no static filter on the key can be inferred at
    # plan time and pruning the fact scan genuinely requires DPP (a filter
    # on the key itself would be propagated through the equi-join as a
    # static partition filter, proving nothing).
    months = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            F.year("o_orderdate").alias("yr"),
        )
        .distinct()
        .filter(F.col("yr") == 1997)
        .select("order_month")
    )
    return (
        fact.join(months, "order_month")
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money.cents("o_totalprice")).cast("long").alias("price_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_expectations — declarative data-quality validation: each expectation
# is a predicate whose violation count is reported per rule (the
# Deequ/Great-Expectations pattern an ingestion service runs on every
# load before publishing a partition). Each rule is an independent
# aggregate — Catalyst fuses the same-table rules into shared scans; the
# FK rule is a broadcast anti join. Zero violations on healthy fixtures
# is itself the assertion: the counts are the published health metric.
# ---------------------------------------------------------------------------

_EXPECTATIONS_ORACLE = """
SELECT 'negative_price' AS rule, count(*) AS n_violations
FROM lineitem WHERE l_extendedprice < 0
UNION ALL
SELECT 'null_orderkey', count(*) FROM lineitem WHERE l_orderkey IS NULL
UNION ALL
SELECT 'qty_out_of_range', count(*) FROM lineitem
WHERE l_quantity < 1 OR l_quantity > 50
UNION ALL
SELECT 'discount_out_of_range', count(*) FROM lineitem
WHERE l_discount < 0 OR l_discount > 0.5
UNION ALL
SELECT 'orphan_lineitem', count(*)
FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IS NULL
UNION ALL
SELECT 'order_without_customer', count(*)
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_custkey IS NULL
"""


@register("q_expectations", oracle=_EXPECTATIONS_ORACLE)
def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    # All four single-table rules in ONE scan/aggregate (conditional
    # count_if per rule), then stack() to the long (rule, n) shape — at
    # 100 TB one pass over the fact instead of one scan per rule. The two
    # referential rules each need their own anti join.
    predicate_rules = li.agg(
        F.count_if(F.col("l_extendedprice") < 0).alias("negative_price"),
        F.count_if(F.col("l_orderkey").isNull()).alias("null_orderkey"),
        F.count_if(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("qty_out_of_range"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)
        ).alias("discount_out_of_range"),
    ).select(
        F.expr(
            "stack(4, 'negative_price', negative_price, "
            "'null_orderkey', null_orderkey, "
            "'qty_out_of_range', qty_out_of_range, "
            "'discount_out_of_range', discount_out_of_range) "
            "AS (rule, n_violations)"
        )
    )

    def anti_rule(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("rule"), F.count(F.lit(1)).alias("n_violations")
        )

    return predicate_rules.unionAll(
        anti_rule(
            "orphan_lineitem",
            li.join(
                F.broadcast(orders), li.l_orderkey == orders.o_orderkey, "left_anti"
            ),
        )
    ).unionAll(
        anti_rule(
            "order_without_customer",
            orders.join(
                F.broadcast(customer),
                orders.o_custkey == customer.c_custkey,
                "left_anti",
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_snapshot_diff — CDC-style snapshot comparison: classify every key of
# two table snapshots as insert / delete / update via one full outer
# join on the primary key (the diff an incremental pipeline publishes
# when a source can only deliver full dumps). The "new" snapshot is
# derived deterministically from orders so both engines diff identical
# inputs: keys %97==0 deleted, %101==0 price-bumped, and a shifted key
# range inserted.
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_ORACLE = """
WITH new_snap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 101 = 0
              THEN CAST(round(o_totalprice * 100) AS BIGINT) + 100
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS price_cents
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, CAST(round(o_totalprice * 100) AS BIGINT)
  FROM orders WHERE o_orderkey % 103 = 0
),
old_snap AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
)
SELECT
  coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
       WHEN n.o_orderkey IS NULL THEN 'delete'
       ELSE 'update' END AS change_type,
  coalesce(o.price_cents, -1) AS old_cents,
  coalesce(n.price_cents, -1) AS new_cents
FROM old_snap o
FULL OUTER JOIN new_snap n ON n.o_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.price_cents <> n.price_cents
"""


@register("q_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = money.cents("o_totalprice")
    old_snap = orders.select("o_orderkey", cents.alias("price_cents"))
    new_snap = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 101 == 0, cents + 100)
            .otherwise(cents)
            .alias("price_cents"),
        )
        .unionAll(
            orders.filter(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                cents.alias("price_cents"),
            )
        )
    )
    o = old_snap.alias("o")
    n = new_snap.alias("n")
    j = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    return j.select(
        F.coalesce("o.o_orderkey", "n.o_orderkey").alias("o_orderkey"),
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        # -1 sentinel instead of NULL: nullable int columns degrade to
        # float64 in pandas canonicalization (driver-hash asymmetry risk).
        F.coalesce(F.col("o.price_cents"), F.lit(-1)).alias("old_cents"),
        F.coalesce(F.col("n.price_cents"), F.lit(-1)).alias("new_cents"),
    ).filter(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.price_cents") != F.col("n.price_cents"))
    )


# ---------------------------------------------------------------------------
# q_zorder_layout — space-filling-curve clustering: interleave the bits
# of two dimensions (customer bucket × order month) into a Morton
# z-code, the multi-dimensional generalization of sink_sorted_parquet's
# 1-D range layout. Sorting by z-code makes every contiguous run of rows
# a small RECTANGLE in (customer, time) space, so parquet min/max stats
# prune scans filtered on EITHER dimension — the layout trick behind
# Z-ORDER table maintenance at 100 TB. Computed with pure div/mod
# arithmetic (identical semantics in both engines); each coarse tile
# (top 8 z-bits) provably spans at most 16 values per dimension — pinned
# by a locality invariant test.
# ---------------------------------------------------------------------------


def _morton_sql(a: str, b: str) -> str:
    """16-bit Morton interleave of two 8-bit values, div/mod arithmetic."""
    terms = [
        f"((({a}) // {1 << i}) % 2 + 2 * ((({b}) // {1 << i}) % 2)) * {4 ** i}"
        for i in range(8)
    ]
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH dims AS (
  SELECT o_orderkey,
         o_custkey % 256                                            AS ca,
         (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
           + CAST(month(o_orderdate) AS BIGINT) - 1                 AS mb
  FROM orders
),
coded AS (
  SELECT o_orderkey, ca, mb % 256 AS mb,
         {_morton_sql('ca', 'mb % 256')} AS zcode
  FROM dims
)
SELECT CAST(zcode // 256 AS BIGINT) AS tile,
       count(*)                     AS n_orders,
       CAST(min(ca) AS BIGINT) AS ca_lo, CAST(max(ca) AS BIGINT) AS ca_hi,
       CAST(min(mb) AS BIGINT) AS mb_lo, CAST(max(mb) AS BIGINT) AS mb_hi
FROM coded
GROUP BY 1
"""


@register("q_zorder_layout", oracle=_ZORDER_ORACLE)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ca = F.col("o_custkey") % 256
    mb = (
        (F.year("o_orderdate").cast("long") - 1995) * 12
        + F.month("o_orderdate").cast("long")
        - 1
    ) % 256
    dims = orders.select("o_orderkey", ca.alias("ca"), mb.alias("mb"))
    zcode = None
    for i in range(8):
        bit_a = (F.col("ca") / (1 << i)).cast("long") % 2
        bit_b = (F.col("mb") / (1 << i)).cast("long") % 2
        term = (bit_a + 2 * bit_b) * (4**i)
        zcode = term if zcode is None else zcode + term
    coded = dims.withColumn("zcode", zcode)
    return coded.groupBy(
        (F.col("zcode") / 256).cast("long").alias("tile")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("ca").cast("long").alias("ca_lo"),
        F.max("ca").cast("long").alias("ca_hi"),
        F.min("mb").cast("long").alias("mb_lo"),
        F.max("mb").cast("long").alias("mb_hi"),
    )


# ---------------------------------------------------------------------------
# q_filtered_agg — ANSI FILTER (WHERE ...) aggregate modifiers: one scan
# computing several differently-filtered aggregates (the idiomatic
# replacement for N self-joins or N CASE-wrapped sums). Identical SQL
# runs on both engines; integer-cents sums keep float order out of it.
# ---------------------------------------------------------------------------

_FILTERED_AGG_SQL = """
SELECT
  o_orderpriority,
  count(*)                                              AS n_orders,
  count(*) FILTER (WHERE o_orderstatus = 'F')           AS n_finished,
  count(*) FILTER (WHERE o_totalprice > 150000)         AS n_large,
  CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT)
                                                        AS open_cents
FROM {orders}
GROUP BY o_orderpriority
"""


@register(
    "q_filtered_agg", oracle=_FILTERED_AGG_SQL.format(orders="orders")
)
def q_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_FILTERED_AGG_SQL, orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# q_observed_metrics — the Observation API as a first-class surface:
# data-quality counters (row count, null count, value bounds) collected
# ON the same job that computes the business aggregate — zero extra
# passes, vs the naive count()-probe pattern that re-scans per metric.
# The observed metrics are then RETURNED AS DATA joined onto the result,
# so the oracle hash-verifies the monitoring numbers themselves, not
# just the aggregate they rode along with. At 100 TB this is how a
# pipeline affords per-feed contract metrics: they are free.
# ---------------------------------------------------------------------------

_OBSERVED_ORACLE = """
WITH agg AS (
  SELECT o_orderstatus, count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM orders GROUP BY o_orderstatus
),
m AS (
  SELECT count(*) AS observed_rows,
         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS observed_nonpositive,
         CAST(floor(max(o_totalprice) * 100) AS BIGINT) AS observed_max_cents
  FROM orders
)
SELECT a.o_orderstatus, a.n_orders, a.total_cents,
       m.observed_rows, m.observed_nonpositive, m.observed_max_cents
FROM agg a CROSS JOIN m
"""


@register("q_observed_metrics", oracle=_OBSERVED_ORACLE)
def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation()
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("observed_rows"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias(
            "observed_nonpositive"
        ),
        F.floor(F.max("o_totalprice") * 100).cast("long").alias(
            "observed_max_cents"
        ),
    )
    agg = observed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(money.cents("o_totalprice")).cast("long").alias("total_cents"),
    )
    # Materialize once — the observation is populated by this job.
    rows = agg.collect()
    m = obs.get
    out = spark.createDataFrame(rows, agg.schema)
    return out.select(
        "o_orderstatus",
        "n_orders",
        "total_cents",
        F.lit(m["observed_rows"]).cast("bigint").alias("observed_rows"),
        F.lit(m["observed_nonpositive"]).cast("bigint").alias(
            "observed_nonpositive"
        ),
        F.lit(m["observed_max_cents"]).cast("bigint").alias("observed_max_cents"),
    )


# ---------------------------------------------------------------------------
# q_scd2_history — Slowly-Changing-Dimension Type 2 from a change feed:
# treat each user's event stream as CDC updates to a one-attribute
# dimension (current event_type), compress consecutive equal values
# into runs, and emit versioned rows with [effective_from, effective_to)
# validity and an is_current flag — the warehouse-ingestion pattern that
# turns an append-only feed into a point-in-time-queryable dimension.
# Three windows, all partitioned by user_id with the same (ts, event_id)
# order — ONE shuffle, Spark reuses the sort across lag/row_number/lead.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, event_type, ts AS effective_from, event_id
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id,
       CAST(row_number() OVER v AS BIGINT)  AS version,
       event_type,
       effective_from,
       lead(effective_from) OVER v          AS effective_to,
       lead(effective_from) OVER v IS NULL  AS is_current
FROM changes
-- event_id tiebreak: two changes at an identical timestamp must
-- version deterministically in both engines
WINDOW v AS (PARTITION BY user_id ORDER BY effective_from, event_id)
"""


@register("q_scd2_history", oracle=_SCD2_ORACLE)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("effective_from"),
            "event_id",
        )
    )
    # event_id tiebreak mirrors the oracle: identical-timestamp changes
    # must version deterministically.
    v = Window.partitionBy("user_id").orderBy("effective_from", "event_id")
    return changes.select(
        "user_id",
        F.row_number().over(v).cast("long").alias("version"),
        "event_type",
        F.col("effective_from").cast("timestamp_ntz"),
        F.lead("effective_from").over(v).cast("timestamp_ntz").alias(
            "effective_to"
        ),
        F.lead("effective_from").over(v).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# q_bloom_prefilter — runtime Bloom-filter semi-join pruning, built by
# hand so the mechanism itself is oracle-checkable: a 1024-bit Bloom
# filter (32×32-bit words, k=2 md5-derived hash functions) over the
# supplier keys of one nation prefilters the lineitem scan BEFORE the
# exact semi-join — the row-level pushdown Spark's own
# spark.sql.optimizer.runtime.bloomFilter applies to shuffle joins,
# made explicit and measurable. The output reports the candidate count
# the Bloom pass admits next to the exact count, so the false-positive
# rate — the approximation's whole cost model — is AUDITED DATA, not an
# assumption (the q_lsh_recall / q_ann_recall discipline applied to an
# engine-internal structure).
#
# Exactness: both hash positions are exact md5 nibble integers; the
# bitmap aggregates with bit_or (associative, order-free); membership
# tests are BIGINT bit-ands; revenue accumulates in exact cents. Words
# are 32-bit so every shifted value is positive — no sign-bit semantics
# to align between engines.
#
# Scale: the filter builds from the DIMENSION side (supplier keys — KB
# of bitmap regardless of fact size) and broadcasts 32 words into the
# fact scan; the exact verify joins the same broadcast dimension. The
# fact table is scanned once, shuffles nothing, and rows failing the
# bitmap never reach the verify join — exactly why the structure exists
# at 100 TB.
# ---------------------------------------------------------------------------

_BLOOM_M = 1024  # bits
_BLOOM_NATION = 1

_BLOOM_ORACLE = f"""
WITH sups AS (
  SELECT s_suppkey FROM supplier WHERE s_nationkey = {_BLOOM_NATION}
),
sup_bits AS (
  SELECT s_suppkey,
         ('0x' || substr(md5(CAST(s_suppkey AS VARCHAR)), 1, 8))::BIGINT
           % {_BLOOM_M} AS h1,
         ('0x' || substr(md5(CAST(s_suppkey AS VARCHAR)), 9, 8))::BIGINT
           % {_BLOOM_M} AS h2
  FROM sups
),
words AS (
  SELECT widx, CAST(bit_or(w) AS BIGINT) AS word
  FROM (
    SELECT h1 // 32 AS widx, CAST(1 AS BIGINT) << CAST(h1 % 32 AS INT) AS w
    FROM sup_bits
    UNION ALL
    SELECT h2 // 32, CAST(1 AS BIGINT) << CAST(h2 % 32 AS INT) FROM sup_bits
  )
  GROUP BY widx
),
li AS (
  SELECT l_suppkey,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS rev_cents,
         ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 8))::BIGINT
           % {_BLOOM_M} AS h1,
         ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 9, 8))::BIGINT
           % {_BLOOM_M} AS h2
  FROM lineitem
),
pass AS (
  SELECT li.l_suppkey, li.rev_cents
  FROM li
  JOIN words w1 ON w1.widx = li.h1 // 32
               AND (w1.word & (CAST(1 AS BIGINT) << CAST(li.h1 % 32 AS INT)))
                   <> 0
  JOIN words w2 ON w2.widx = li.h2 // 32
               AND (w2.word & (CAST(1 AS BIGINT) << CAST(li.h2 % 32 AS INT)))
                   <> 0
),
exact AS (
  SELECT p.l_suppkey, p.rev_cents
  FROM pass p JOIN sups s ON s.s_suppkey = p.l_suppkey
)
SELECT (SELECT count(*) FROM sups) AS n_suppliers,
       (SELECT count(*) FROM pass) AS n_bloom_pass,
       (SELECT count(*) FROM exact) AS n_exact,
       (SELECT count(*) FROM pass) - (SELECT count(*) FROM exact)
         AS n_false_positives,
       (SELECT CAST(coalesce(sum(rev_cents), 0) AS BIGINT) FROM exact)
         AS revenue_cents
"""


def _bloom_h(col: str, start: int) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.col(col).cast("string").cast("binary")), start, 8),
        16,
        10,
    ).cast("bigint") % _BLOOM_M


@register("q_bloom_prefilter", oracle=_BLOOM_ORACLE)
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sups = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == _BLOOM_NATION)
        .select("s_suppkey")
    )
    sup_bits = sups.select(
        "s_suppkey",
        _bloom_h("s_suppkey", 1).alias("h1"),
        _bloom_h("s_suppkey", 9).alias("h2"),
    )
    one_shifted = "shiftleft(cast(1 as bigint), cast({h} % 32 as int))"
    words = (
        sup_bits.select(
            F.expr("h1 div 32").alias("widx"),
            F.expr(one_shifted.format(h="h1")).alias("w"),
        )
        .unionAll(
            sup_bits.select(
                F.expr("h2 div 32"), F.expr(one_shifted.format(h="h2"))
            )
        )
        .groupBy("widx")
        .agg(F.bit_or("w").cast("bigint").alias("word"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        money.cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
        _bloom_h("l_suppkey", 1).alias("h1"),
        _bloom_h("l_suppkey", 9).alias("h2"),
    )
    w1 = words.select(
        F.col("widx").alias("w1_idx"), F.col("word").alias("w1_word")
    )
    w2 = words.select(
        F.col("widx").alias("w2_idx"), F.col("word").alias("w2_word")
    )
    # ONE lineitem scan: bitmap words and member keys LEFT-join in as
    # broadcasts, pass/member become flags, and a single aggregate folds
    # candidate count, exact count, and exact revenue together (two
    # aggregate branches over `passed` would recompute the fact lineage
    # — the posture test pins the single Location line).
    flagged = (
        li.join(F.broadcast(w1), F.expr("w1_idx = h1 div 32"), "left")
        .join(F.broadcast(w2), F.expr("w2_idx = h2 div 32"), "left")
        .join(
            F.broadcast(sups),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
        .select(
            F.expr(
                "coalesce((w1_word & shiftleft(cast(1 as bigint),"
                " cast(h1 % 32 as int))) != 0, false)"
                " and coalesce((w2_word & shiftleft(cast(1 as bigint),"
                " cast(h2 % 32 as int))) != 0, false)"
            ).alias("bloom_pass"),
            F.col("s_suppkey").isNotNull().alias("is_member"),
            "rev_cents",
        )
    )
    agg = flagged.agg(
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_pass"),
        F.sum(F.when(F.col("bloom_pass") & F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("bloom_pass") & F.col("is_member"),
                    F.col("rev_cents"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("revenue_cents"),
    )
    n_sups = sups.agg(F.count(F.lit(1)).alias("n_suppliers"))
    return (
        n_sups.crossJoin(F.broadcast(agg)).select(
            "n_suppliers",
            "n_bloom_pass",
            "n_exact",
            (F.col("n_bloom_pass") - F.col("n_exact")).alias(
                "n_false_positives"
            ),
            "revenue_cents",
        )
    )


# ---------------------------------------------------------------------------
# q_skew_radar — the join-key skew audit that DECIDES when the repo's
# skew machinery (q_skew_join_salted's salting, AQE skew-split, the
# sharded packing windows) must engage: for each fact table's join key,
# the key cardinality, the hottest key's row share (e6), and the ratio
# of the hottest key to a perfectly uniform share. One row per audited
# key; a share_ratio ≫ 1 is the precondition for reducer skew.
#
# Exactness: pure counting; shares are integer e6 divisions; the top
# key ties break on the smallest key value.
#
# Scale: one count rollup per audited key (map-side combined) and a
# key-domain-sized max; the union of three tiny summaries. This is the
# radar a 100 TB pipeline runs nightly — per-key rollups ARE the cost
# of knowing where the hot keys live.
# ---------------------------------------------------------------------------


def _skew_radar_sql(table: str, key: str) -> str:
    # top_key = smallest key holding the max count (deterministic tie):
    # a window max over the count table, then min(k) where c = mx —
    # engine-agnostic (DuckDB's max_by lacks struct tie-break ordering).
    return f"""
SELECT '{table}.{key}' AS audited_key,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(min(CASE WHEN c = mx THEN k END) AS BIGINT) AS top_key,
       CAST(max(c) AS BIGINT) AS top_rows,
       CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_share_e6,
       CAST(max(c) * count(*) * 1000000 // sum(c) AS BIGINT)
         AS uniform_ratio_e6
FROM (
  SELECT k, c, max(c) OVER () AS mx
  FROM (SELECT {key} AS k, count(*) AS c FROM {table} GROUP BY 1)
)
"""


_SKEW_RADAR_ORACLE = (
    _skew_radar_sql("events", "user_id")
    + " UNION ALL "
    + _skew_radar_sql("orders", "o_custkey")
    + " UNION ALL "
    + _skew_radar_sql("lineitem", "l_partkey")
)


@register("q_skew_radar", oracle=_SKEW_RADAR_ORACLE)
def q_skew_radar(spark: SparkSession, sf_dir: str) -> DataFrame:
    def radar(table: str, key: str) -> DataFrame:
        counts = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        from pyspark.sql import Window as W

        with_mx = counts.withColumn(
            "mx", F.max("c").over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        )
        return with_mx.agg(
            F.lit(f"{table}.{key}").alias("audited_key"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.min(F.when(F.col("c") == F.col("mx"), F.col("k")))
            .cast("bigint")
            .alias("top_key"),
            F.max("c").cast("bigint").alias("top_rows"),
            F.expr("max(c) * 1000000 div sum(c)").alias("top_share_e6"),
            F.expr("max(c) * count(*) * 1000000 div sum(c)").alias(
                "uniform_ratio_e6"
            ),
        )

    return (
        radar("events", "user_id")
        .unionAll(radar("orders", "o_custkey"))
        .unionAll(radar("lineitem", "l_partkey"))
    )


# ---------------------------------------------------------------------------
# q_join_size_audit — exact join-output cardinality WITHOUT running the
# join: |A ⋈ B| = Σ_k cA(k)·cB(k) over the two per-key count tables —
# the statistic a cost-based planner estimates and the number a 100 TB
# operator checks BEFORE launching a fact/fact join (a mis-keyed join
# that would explode shows up here as a count, not an OOM). Audits
# lineitem⋈orders (FK: output = |lineitem|) and lineitem⋈lineitem on
# l_partkey (the classic accidental many-to-many).
#
# Exactness: counts and products are exact BIGINTs (Σ cA·cB ≤ n·maxc).
# Scale: two count rollups per audited join and a count-table join on
# the key domain — never the fact join itself; that asymmetry is the
# entire point.
# ---------------------------------------------------------------------------

_JOIN_SIZE_ORACLE = """
WITH lo AS (
  SELECT 'lineitem*orders/l_orderkey' AS joined,
         CAST(sum(a.c * b.c) AS BIGINT) AS n_out_rows,
         CAST(count(*) AS BIGINT) AS n_shared_keys,
         CAST(max(a.c * b.c) AS BIGINT) AS max_key_rows
  FROM (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1) a
  JOIN (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1) b
    ON b.k = a.k
),
ll AS (
  SELECT 'lineitem*lineitem/l_partkey' AS joined,
         CAST(sum(a.c * a.c) AS BIGINT) AS n_out_rows,
         CAST(count(*) AS BIGINT) AS n_shared_keys,
         CAST(max(a.c * a.c) AS BIGINT) AS max_key_rows
  FROM (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1) a
)
SELECT * FROM lo UNION ALL SELECT * FROM ll
"""


@register("q_join_size_audit", oracle=_JOIN_SIZE_ORACLE)
def q_join_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lc = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    oc = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c2")
    )
    lo = (
        lc.join(oc, "k")
        .agg(
            F.lit("lineitem*orders/l_orderkey").alias("joined"),
            F.sum(F.col("c") * F.col("c2")).cast("bigint").alias("n_out_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared_keys"),
            F.max(F.col("c") * F.col("c2")).cast("bigint").alias(
                "max_key_rows"
            ),
        )
    )
    pc = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    ll = pc.agg(
        F.lit("lineitem*lineitem/l_partkey").alias("joined"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("n_out_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_shared_keys"),
        F.max(F.col("c") * F.col("c")).cast("bigint").alias("max_key_rows"),
    )
    return lo.unionAll(ll)


# ---------------------------------------------------------------------------
# q_compaction_plan — the table-maintenance PLANNER behind every
# OPTIMIZE/compaction job: given a small-files layout, assign input
# files to target-sized output groups and report the plan as data (bin
# id, files per bin, rows per bin). sink_compacted executes a blind
# fixed-count rewrite; this key computes WHICH files coalesce, the
# decision a 100 TB maintenance service persists and audits before
# rewriting anything.
#
# The layout is self-staged (the q_time_travel discipline): orders is
# written once per (process, sf) as 40 hash-bucketed parquet files, so
# the planner runs against REAL file metadata (Spark's hidden
# `_metadata.file_name` column proves each bucket is a distinct file on
# disk) while the oracle derives identical numbers from the orders view
# alone — per-file row counts are o_orderkey % 40 histogram by
# construction. Packing rule: next-fit over files in bucket order,
# bin = floor(rows-before-this-file / TARGET) — one window cumsum, no
# iteration, identical integer math in both engines. Row-count packing
# is the deterministic proxy for byte packing (footer row_group_bytes
# match pyarrow/DuckDB exactly — verified — but byte totals cannot be
# derived from a logical view, so rows keep the oracle full-strength;
# a byte-target variant swaps one column).
#
# Scale: the metadata table is O(files), not O(rows) — the file list
# distributes as ordinary rows and the plan is one window + one
# aggregate. At 100 TB the same plan runs over the table's manifest
# instead of a directory listing; nothing here holds state proportional
# to data volume. The window's global ORDER BY file_key is over file
# COUNT (bounded by layout, ~1e6 rows at 100 TB — a single-executor
# window is still trivially sized; range-partition it by table when
# planning a whole catalog).
# ---------------------------------------------------------------------------

_COMPACTION_TARGET_ROWS = 4000

_COMPACTION_ORACLE = f"""
WITH buckets AS (
  SELECT o_orderkey % 40 AS file_key, count(*) AS n_rows
  FROM orders GROUP BY 1
),
packed AS (
  SELECT file_key, n_rows,
         coalesce(sum(n_rows) OVER (ORDER BY file_key
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM buckets
)
SELECT CAST(cum_before // {_COMPACTION_TARGET_ROWS} AS BIGINT) AS bin_id,
       count(*)                    AS n_files,
       -- one physical file per bucket by construction; the Spark side
       -- counts DISTINCT _metadata.file_name, so a bucket dir that ever
       -- held two part files hash-mismatches here (the tripwire that
       -- keeps the planner's unit a real on-disk file)
       count(*)                    AS n_phys_files,
       CAST(sum(n_rows) AS BIGINT) AS bin_rows,
       CAST(sum(CASE WHEN n_rows * 2 < {_COMPACTION_TARGET_ROWS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_small_files
FROM packed GROUP BY 1
"""


def _bucket_files(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per orders fixture version per process) orders as 40
    hash-bucket files."""

    def write() -> str:
        out = work_dir("compactplan_")
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", (F.col("o_orderkey") % 40).alias("file_key"))
            .repartition(1)  # one writer task -> exactly one file per dir
            .write.mode("overwrite")
            .partitionBy("file_key")
            .parquet(out)
        )
        return out

    key = ("compaction_buckets", fixture_cache_key(table_path(sf_dir, "orders")))
    return staged(key, write)


@register("q_compaction_plan", oracle=_COMPACTION_ORACLE)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _bucket_files(spark, sf_dir)
    files = (
        spark.read.parquet(out)
        # Explicit cast: with partitionColumnTypeInference disabled (not
        # pinned in RUNTIME_CONFS) file_key reads back as STRING and the
        # window ORDER BY sorts lexicographically ('10' < '2'), silently
        # diverging from the oracle's bin assignment (ADVICE r8). No-op
        # when inference produced int.
        .select(
            F.col("file_key").cast("int").alias("file_key"),
            F.col("_metadata.file_name").alias("file_name"),
        )
        .groupBy("file_key")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # one physical file per bucket dir — the planner's unit is a
            # real file, not a logical group (pinned by posture test)
            F.countDistinct("file_name").alias("n_phys"),
        )
    )
    w = (
        Window.orderBy("file_key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = files.select(
        "file_key",
        "n_rows",
        "n_phys",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        packed.groupBy(
            # integral DIV, not float division: cum_before is an exact
            # bigint and must stay one through the bin assignment
            F.expr(f"cum_before DIV {_COMPACTION_TARGET_ROWS}").alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_phys").cast("bigint").alias("n_phys_files"),
            F.sum("n_rows").cast("bigint").alias("bin_rows"),
            F.sum(
                F.when(F.col("n_rows") * 2 < _COMPACTION_TARGET_ROWS, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_small_files"),
        )
    )
