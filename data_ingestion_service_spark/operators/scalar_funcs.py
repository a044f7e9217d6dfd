"""Scalar function families: string / date / math / JSON / array HOFs
(SURVEY.md §2.8).

All expressions are built-in ``pyspark.sql.functions`` — JVM-side, inside
whole-stage codegen; no Python crosses the row path. Type alignment with
DuckDB is explicit where defaults differ (Spark ``ceil``/``floor`` return
BIGINT, DuckDB returns DOUBLE → cast both to BIGINT; ``datediff`` returns
INT vs BIGINT → cast to BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_string_funcs
# ---------------------------------------------------------------------------

_STRING_ORACLE = """
SELECT
  p_partkey,
  upper(p_name)                         AS name_upper,
  lower(p_brand)                        AS brand_lower,
  substr(p_name, 1, 5)                  AS name_pfx,
  concat(p_brand, ':', p_type)          AS brand_type,
  length(p_name)                        AS name_len,
  trim(p_name)                          AS name_trim,
  regexp_extract(p_brand, '[0-9]+')     AS brand_num,
  split_part(p_name, ' ', 1)            AS first_word,
  replace(p_type, 'A', '@')             AS type_repl,
  reverse(p_brand)                      AS brand_rev
FROM part
WHERE p_partkey <= 500
"""


@register("q_string_funcs", oracle=_STRING_ORACLE)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("@")).alias("type_repl"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
    )


# ---------------------------------------------------------------------------
# q_date_funcs
# ---------------------------------------------------------------------------

_DATE_ORACLE = """
SELECT
  o_orderkey,
  year(o_orderdate)::BIGINT                                    AS yr,
  month(o_orderdate)::BIGINT                                   AS mo,
  day(o_orderdate)::BIGINT                                     AS dom,
  dayofweek(o_orderdate)::BIGINT                               AS dow,
  date_trunc('month', o_orderdate)::TIMESTAMP                  AS month_start,
  date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)::BIGINT AS days_since,
  (CAST(o_orderdate AS DATE) + 30)::TIMESTAMP                  AS due_date,
  strftime(o_orderdate, '%Y-%m-%d')                            AS iso_day
FROM orders
WHERE o_orderkey <= 500
"""


@register("q_date_funcs", oracle=_DATE_ORACLE)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") <= 500).select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1.
        (F.dayofweek("o_orderdate") - 1).cast("bigint").alias("dow"),
        F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("month_start"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
        ).cast("bigint").alias("days_since"),
        # TIMESTAMP, not DATE: raw DATE columns canonicalize asymmetrically
        # (Spark→object-of-date, DuckDB→datetime64) and mismatch the driver hash.
        F.date_add(F.col("o_orderdate").cast("date"), 30)
        .cast("timestamp_ntz")
        .alias("due_date"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


# ---------------------------------------------------------------------------
# q_math_funcs
# ---------------------------------------------------------------------------

_MATH_ORACLE = """
SELECT
  l_orderkey,
  l_linenumber,
  round(l_extendedprice, 1)            AS price_r1,
  abs(l_discount - 0.05)               AS disc_dev,
  ceil(l_quantity / 7.0)::BIGINT       AS qty_ceil,
  floor(l_tax * 100)::BIGINT           AS tax_pct_floor,
  round(ln(l_extendedprice + 1), 6)    AS ln_price,
  round(exp(l_discount), 6)            AS exp_disc,
  round(pow(l_quantity, 2), 2)         AS qty_sq,
  round(sqrt(l_extendedprice), 6)      AS sqrt_price,
  mod(l_orderkey, 7)                   AS key_mod,
  sign(l_discount - 0.05)::DOUBLE      AS disc_sign,
  greatest(l_quantity, 25.0)           AS qty_hi,
  least(l_quantity, 25.0)              AS qty_lo
FROM lineitem
WHERE l_orderkey <= 300
"""


@register("q_math_funcs", oracle=_MATH_ORACLE)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 300).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice"), 1).alias("price_r1"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7.0).cast("bigint").alias("qty_ceil"),
        F.floor(F.col("l_tax") * 100).cast("bigint").alias("tax_pct_floor"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("ln_price"),
        F.round(F.exp(F.col("l_discount")), 6).alias("exp_disc"),
        F.round(F.pow(F.col("l_quantity"), 2), 2).alias("qty_sq"),
        F.round(F.sqrt(F.col("l_extendedprice")), 6).alias("sqrt_price"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_hi"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_lo"),
    )


# ---------------------------------------------------------------------------
# q_events_json — JSON extraction from the semi-structured props column.
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT
  event_type,
  count(*)                                                          AS n,
  round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
  max(CAST(json_extract_string(props, '$.k') AS INTEGER))           AS max_k,
  min(CAST(json_extract_string(props, '$.k') AS INTEGER))           AS min_k
FROM events
GROUP BY event_type
"""


@register("q_events_json", oracle=_JSON_ORACLE)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.min(k).alias("min_k"),
    )


# ---------------------------------------------------------------------------
# q_array_funcs — higher-order functions over the embedding vectors.
# DuckDB computes in FLOAT where Spark widens to DOUBLE, so both sides cast
# the list to DOUBLE[] up front; folds run in identical sequential order.
# ---------------------------------------------------------------------------

_ARRAY_ORACLE = """
SELECT
  vec_id,
  len(embedding)::INT                                              AS dim,
  embedding[1]::DOUBLE                                             AS first_val,
  round(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum'), 4) AS sq_norm,
  len(list_filter(embedding, x -> x > 0.5))::INT                   AS n_gt_half,
  round(list_aggregate(embedding::DOUBLE[], 'max'), 6)             AS max_val,
  array_to_string(list_transform(embedding[1:3]::DOUBLE[],
                                 x -> CAST(round(x * 1000000) AS BIGINT)), ',') AS head3
FROM embeddings
WHERE vec_id < 100
"""


@register("q_array_funcs", oracle=_ARRAY_ORACLE)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    return emb.filter(F.col("vec_id") < 100).select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at(vec, 1).alias("first_val"),
        F.round(
            F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sq_norm"),
        F.size(F.filter("embedding", lambda x: x > F.lit(0.5))).alias("n_gt_half"),
        F.round(F.array_max(vec), 6).alias("max_val"),
        # Stringified via e6-scaled ints: array outputs crash the driver's
        # canonicalizer, and raw double formatting differs across engines.
        F.array_join(
            F.transform(F.slice(vec, 1, 3), lambda x: F.round(x * 1000000).cast("bigint")),
            ",",
        ).alias("head3"),
    )


# ---------------------------------------------------------------------------
# q_try_arithmetic — the error-safe expression family (try_divide /
# try_cast): malformed or degenerate rows yield NULL instead of failing
# the job. At 100 TB this is the difference between one poison row
# killing a 6-hour pipeline and a countable, quarantineable null. The
# quotient is scaled by 12 (lcm of the |denominator| range) so every
# surviving division is integral — exact on both engines with no float
# rounding in play.
# ---------------------------------------------------------------------------

_TRY_ARITH_ORACLE = """
SELECT
  count(*) AS n_rows,
  count(CASE WHEN l_linenumber = 3 THEN 1 END) AS n_div_by_zero,
  CAST(sum(
    CASE WHEN l_linenumber - 3 = 0 THEN NULL
         ELSE CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * 12
                   / (l_linenumber - 3) AS BIGINT)
    END
  ) AS BIGINT) AS scaled_quotient_sum,
  count(TRY_CAST(CASE WHEN l_linenumber = 1 THEN '12'
                      ELSE 'x' || l_returnflag END AS INTEGER)) AS n_castable
FROM lineitem
"""


@register("q_try_arithmetic", oracle=_TRY_ARITH_ORACLE)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    quotient = F.expr(
        f"try_divide({money.cents_sql('l_extendedprice')} * 12L, "
        "cast(l_linenumber - 3 as bigint))"
    )
    castable = F.expr(
        "try_cast(CASE WHEN l_linenumber = 1 THEN '12' "
        "ELSE concat('x', l_returnflag) END AS INT)"
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_linenumber") == 3).alias("n_div_by_zero"),
        F.sum(quotient.cast("long")).cast("long").alias("scaled_quotient_sum"),
        F.count(castable).alias("n_castable"),
    )
