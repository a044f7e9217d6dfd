"""Semi-structured and nested-type operators: schema-projected JSON,
MapType, struct packing, date-spine gap filling, and the cogrouped-map
as-of join.

q_asof_cogroup is the §2.11 cogrouped-map surface: two DataFrames
cogrouped on the entity key, merged per-group in Arrow-batched pandas
(pd.merge_asof) — the production shape for an as-of enrichment where one
key's history fits in memory but the key space is huge (each group ships
to one task; no global window).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_from_json_struct — schema-projected JSON parsing (from_json with a
# declared struct beats per-field get_json_object when extracting many
# fields: one parse, vectorized).
# ---------------------------------------------------------------------------

_FROM_JSON_ORACLE = """
SELECT
  event_id,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
  CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
       THEN 'high' ELSE 'low' END AS k_band
FROM events
WHERE event_id < 2000
"""


@register("q_from_json_struct", oracle=_FROM_JSON_ORACLE)
def q_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    schema = StructType([StructField("k", IntegerType())])
    parsed = ev.withColumn("p", F.from_json("props", schema))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.when(F.col("p.k") >= 50, "high").otherwise("low").alias("k_band"),
    )


# ---------------------------------------------------------------------------
# q_map_type — MapType column: JSON → map<string,int>, keys/values/access.
# ---------------------------------------------------------------------------

_MAP_TYPE_ORACLE = """
SELECT
  event_id,
  array_to_string(list_sort(json_keys(props)), ',')   AS prop_keys,
  CAST(json_extract_string(props, '$.k') AS INTEGER)  AS k_val,
  1::INT                                              AS n_keys
FROM events
WHERE event_id < 1000
"""


@register("q_map_type", oracle=_MAP_TYPE_ORACLE)
def q_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        # Sorted + joined: array outputs crash the driver's canonicalizer.
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


# ---------------------------------------------------------------------------
# q_date_spine — generated date spine + left join with zero-fill: gap-free
# daily reporting over a sparse fact table.
# ---------------------------------------------------------------------------

_DATE_SPINE_ORACLE = """
WITH spine AS (
  SELECT unnest(generate_series(TIMESTAMP '1995-01-01 00:00:00',
                                TIMESTAMP '1995-03-01 00:00:00',
                                INTERVAL 1 DAY)) AS day
),
daily AS (
  SELECT o_orderdate AS day, count(*) AS n,
         round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 2) AS rev
  FROM orders GROUP BY o_orderdate
)
SELECT
  spine.day,
  coalesce(daily.n, 0)          AS n_orders,
  coalesce(daily.rev, 0.0)      AS revenue
FROM spine LEFT JOIN daily ON spine.day = daily.day
"""


@register("q_date_spine", oracle=_DATE_SPINE_ORACLE)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("1995-03-01 00:00:00").cast("timestamp_ntz"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    # Exact-cents daily revenue (r10 float-sum audit).
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        money.money_sum(money.cents_floor("o_totalprice")).alias("rev"),
    )
    return spine.join(daily, spine.day == daily.d, "left").select(
        "day",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("rev"), F.lit(0.0)).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q_struct_pack — struct packing, field access, and flattening round-trip.
# ---------------------------------------------------------------------------

_STRUCT_ORACLE = """
SELECT
  c_custkey,
  struct_extract(s, 'seg')  AS seg,
  struct_extract(s, 'bal')  AS bal
FROM (
  SELECT c_custkey,
         struct_pack(seg := c_mktsegment, bal := round(c_acctbal, 2)) AS s
  FROM customer WHERE c_custkey <= 300
)
"""


@register("q_struct_pack", oracle=_STRUCT_ORACLE)
def q_struct_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    packed = cust.select(
        "c_custkey",
        F.struct(
            F.col("c_mktsegment").alias("seg"), F.round(F.col("c_acctbal"), 2).alias("bal")
        ).alias("s"),
    )
    return packed.select("c_custkey", F.col("s.seg").alias("seg"), F.col("s.bal").alias("bal"))


# ---------------------------------------------------------------------------
# q_array_ops — second HOF sweep: zip_with on two derived arrays,
# array_distinct/sort/concat over token arrays.
# ---------------------------------------------------------------------------

_ARRAY_OPS_ORACLE = """
SELECT
  vec_id,
  round(list_aggregate(list_transform(range(1, 33),
        i -> (embedding[i]::DOUBLE) * (embedding[i + 32]::DOUBLE)), 'sum'), 6)
    AS half_dot,
  len(list_distinct(embedding))::INT AS n_distinct_vals,
  round(list_aggregate(list_concat(embedding[1:4]::DOUBLE[], embedding[61:64]::DOUBLE[]),
        'sum'), 6) AS edge_sum
FROM embeddings
WHERE vec_id < 100
"""


@register("q_array_ops", oracle=_ARRAY_OPS_ORACLE)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    e = F.col("embedding").cast("array<double>")
    front = F.slice(e, 1, 32)
    back = F.slice(e, 33, 32)
    half_dot = F.aggregate(
        F.zip_with(front, back, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    edge = F.concat(F.slice(e, 1, 4), F.slice(e, 61, 4))
    return emb.select(
        "vec_id",
        F.round(half_dot, 6).alias("half_dot"),
        F.size(F.array_distinct("embedding")).alias("n_distinct_vals"),
        F.round(F.aggregate(edge, F.lit(0.0), lambda a, x: a + x), 6).alias("edge_sum"),
    )


# ---------------------------------------------------------------------------
# q_asof_cogroup — as-of join via cogrouped applyInPandas (pd.merge_asof
# per user): same semantics as q_asof_enrich's window trick, different
# (scale-path) physical strategy; the shared oracle proves equivalence.
# ---------------------------------------------------------------------------

_ASOF_COGROUP_ORACLE = """
SELECT event_id, user_id, o_orderkey AS asof_orderkey
FROM (
  SELECT
    e.event_id, e.user_id, o.o_orderkey,
    row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
    ) AS rn
  FROM events e
  JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
) WHERE rn = 1
"""


@register("q_asof_cogroup", oracle=_ASOF_COGROUP_ORACLE)
def q_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cogroup on a HASH BUCKET of the user key, not the user key itself,
    # and do the per-user as-of inside one vectorized
    # pd.merge_asof(by="user_id") call per bucket. Grouping by raw
    # user_id invoked the Python kernel once per user (~0.5-1ms of
    # serialization + pandas overhead each) — 100k users at the sf5 tier
    # made this the single slowest Spark wall in the full-registry run
    # (81.7s; 7.7s after, 10.6×). Bucketing is value-invariant (merge_asof
    # with by= computes the identical per-user backward match whatever
    # the physical grouping), so the bucket count follows cluster
    # parallelism instead of data — the same knob a real cluster turns.
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    n_buckets = spark.sparkContext.defaultParallelism * 4
    evb = ev.withColumn("g", F.col("user_id") % n_buckets)
    odb = orders.withColumn("g", F.col("user_id") % n_buckets)

    def merge(events_pdf: pd.DataFrame, orders_pdf: pd.DataFrame) -> pd.DataFrame:
        from data_ingestion_service_spark.chaos import maybe_fail

        maybe_fail("asof_cogroup")  # retry rung (no-op unless enabled)
        if events_pdf.empty or orders_pdf.empty:
            return pd.DataFrame(columns=["event_id", "user_id", "asof_orderkey"])
        # merge_asof(by=) needs both frames sorted by the ON key; within
        # equal (user, date) the LAST row wins, so the ascending
        # (o_orderdate, o_orderkey) sort reproduces the oracle's
        # ORDER BY o_orderdate DESC, o_orderkey DESC rank-1 exactly.
        ev_sorted = events_pdf.sort_values("ts")
        od = orders_pdf.sort_values(["o_orderdate", "o_orderkey"])
        merged = pd.merge_asof(
            ev_sorted,
            od[["user_id", "o_orderdate", "o_orderkey"]],
            left_on="ts",
            right_on="o_orderdate",
            by="user_id",
            direction="backward",
        )
        hit = merged[merged["o_orderkey"].notna()]
        return pd.DataFrame(
            {
                "event_id": hit["event_id"],
                "user_id": hit["user_id"],
                "asof_orderkey": hit["o_orderkey"].astype("int64"),
            }
        )

    return (
        evb.groupBy("g")
        .cogroup(odb.groupBy("g"))
        .applyInPandas(merge, schema="event_id bigint, user_id bigint, asof_orderkey bigint")
    )
