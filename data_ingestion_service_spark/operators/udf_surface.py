"""UDF surface demo (SURVEY.md §2.11).

UDFs are deliberately kept OFF the hot path everywhere else in this engine
(built-in expressions stay inside whole-stage codegen). This module proves
the Arrow-vectorized escape hatch works: a scalar ``pandas_udf`` computing
a checkable expression, so the DuckDB oracle can still verify the result.
Rounding happens JVM-side *after* the UDF (numpy's round is banker's
rounding; Spark/DuckDB round half-away — never round inside the UDF).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register


def _make_discounted_udf():
    # Built lazily: pandas_udf registration needs an active SparkContext,
    # which doesn't exist at import time in the driver's verify flow.
    @pandas_udf(DoubleType())
    def _discounted_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        from data_ingestion_service_spark.chaos import maybe_fail

        maybe_fail("pandas_udf")  # retry rung (no-op unless enabled)
        return price * (1.0 - discount)

    return _discounted_price


# Parity note: price*(1-discount) is a true-4-decimal quantity; rounding it
# to 2dp lands exactly on .xx5 boundaries where Spark and DuckDB round
# doubles differently. Requantize at the data's own precision instead
# (x*1e4 is integer-valued, so round-to-int has no boundary ambiguity) and
# return the full-precision value — bit-identical in both engines.
_PANDAS_UDF_ORACLE = """
SELECT
  l_orderkey,
  l_linenumber,
  CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) / 10000.0 AS discounted
FROM lineitem
WHERE l_orderkey <= 100
"""


@register("q_pandas_udf", oracle=_PANDAS_UDF_ORACLE)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    discounted = _make_discounted_udf()
    return li.filter(F.col("l_orderkey") <= 100).select(
        "l_orderkey",
        "l_linenumber",
        (
            F.round(discounted(F.col("l_extendedprice"), F.col("l_discount")) * 10000, 0)
            .cast("bigint")
            / 10000.0
        ).alias("discounted"),
    )


# ---------------------------------------------------------------------------
# q_udtf_installments — Python UDTF (user-defined TABLE function,
# Spark 3.5+/4): each order row expands to 3 installment rows via a
# lateral generator. Arithmetic stays in integer cents (floor-divide,
# remainder on installment 1) so the expansion is exact and the DuckDB
# oracle reproduces it with an unnest + CASE — the table-function
# surface, verified.
# ---------------------------------------------------------------------------

_UDTF_ORACLE = """
SELECT o_orderkey, i.i AS installment,
       CASE WHEN i.i = 1 THEN cents // 3 + cents % 3 ELSE cents // 3 END
         AS amount_cents
FROM (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 50 = 0
)
CROSS JOIN (SELECT unnest(range(1, 4)) AS i) i
"""


def _make_installments_udtf():
    # Built lazily (mirrors _make_discounted_udf): udtf registration needs
    # an active session in the driver's verify flow.
    from pyspark.sql.functions import udtf

    @udtf(returnType="installment int, amount_cents bigint")
    class Installments:
        def eval(self, cents: int):
            base, rem = divmod(cents, 3)
            for i in range(1, 4):
                yield i, base + (rem if i == 1 else 0)

    return Installments


@register("q_udtf_installments", oracle=_UDTF_ORACLE)
def q_udtf_installments(spark: SparkSession, sf_dir: str) -> DataFrame:
    subset = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 50 == 0
    ).select(
        "o_orderkey",
        money.cents("o_totalprice").alias("cents"),
    )
    spark.udtf.register("installments_udtf", _make_installments_udtf())
    return spark.sql(
        """
        SELECT o.o_orderkey, t.installment, t.amount_cents
        FROM {subset} o,
             LATERAL installments_udtf(o.cents) t
        """,
        subset=subset,
    )


# ---------------------------------------------------------------------------
# q_arrow_udf — Arrow-optimized Python scalar UDF (Spark 4 `useArrow=True`):
# rows cross the JVM<->Python boundary as Arrow batches instead of pickled
# rows, the middle ground between a legacy row-at-a-time UDF and a full
# pandas_udf. Same contract as any scalar UDF, so the plain-SQL oracle is
# exact. (In the hot path built-ins still win — SURVEY.md §2.11 — this op
# pins the surface, not a recommendation.)
# ---------------------------------------------------------------------------

_ARROW_UDF_ORACLE = """
SELECT
  source,
  count(*)                                              AS n_docs,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT)     AS total_tokens,
  max(len(string_split(text, ' ')))                     AS max_tokens
FROM documents
GROUP BY source
"""


@register("q_arrow_udf", oracle=_ARROW_UDF_ORACLE)
def q_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.udf(returnType="bigint", useArrow=True)
    def n_tokens(text: str) -> int:
        return len(text.split(" "))

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", n_tokens("text").alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.max("nt").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q_pandas_udaf — a true Python UDAF: GROUPED_AGG pandas_udf computing a
# weighted mean per group. The whole group's values arrive as one pandas
# Series (no partial aggregation), so the arithmetic is done in exact
# integer cents — integer sums are associative, which removes the
# accumulate-order float hazard that a double UDAF would have across
# shuffle orders. Scale note: GROUPED_AGG ships every group member to
# Python (no map-side combine) — use it for genuinely non-relational
# aggregates only; this one exists to prove the surface, and the oracle
# can restate it relationally.
# ---------------------------------------------------------------------------

_PANDAS_UDAF_ORACLE = """
SELECT
  o_orderpriority,
  round(sum((o_custkey % 10 + 1)
            * CAST(round(o_totalprice * 100) AS BIGINT)) * 1.0
        / sum(o_custkey % 10 + 1) / 100, 4) AS wavg_price
FROM orders
GROUP BY o_orderpriority
"""


def _make_wavg_udaf():
    @pandas_udf(DoubleType())
    def _wavg_cents(w: pd.Series, cents: pd.Series) -> float:
        from data_ingestion_service_spark.chaos import maybe_fail

        maybe_fail("pandas_udaf")  # retry rung (no-op unless enabled)
        # int64 sums: exact, order-independent.
        return float((w * cents).sum()) / float(w.sum())

    return _wavg_cents


@register("q_pandas_udaf", oracle=_PANDAS_UDAF_ORACLE)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wavg = _make_wavg_udaf()
    w = (F.col("o_custkey") % 10 + 1).cast("long")
    cents = money.cents("o_totalprice")
    return (
        orders.select("o_orderpriority", w.alias("w"), cents.alias("cents"))
        .groupBy("o_orderpriority")
        .agg(F.round(wavg(F.col("w"), F.col("cents")) / 100, 4).alias("wavg_price"))
    )


# ---------------------------------------------------------------------------
# q_map_in_arrow — mapInArrow: the zero-copy RecordBatch surface (one
# abstraction level below mapInPandas — no pandas conversion at all).
# Net-price cents are computed with pyarrow.compute integer kernels;
# the aggregation stays JVM-side, so Python only touches a map stage.
# ---------------------------------------------------------------------------

_MAP_IN_ARROW_ORACLE = """
SELECT
  l_returnflag,
  count(*) AS n,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
    AS net_e4
FROM lineitem
GROUP BY l_returnflag
"""


def _arrow_net_batches(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    from data_ingestion_service_spark.chaos import maybe_fail

    maybe_fail("arrow_net")  # retry-determinism rung (no-op unless enabled)
    for batch in batches:
        ext = pc.cast(pc.round(pc.multiply(batch.column(1), 100.0)), pa.int64())
        disc = pc.cast(pc.round(pc.multiply(batch.column(2), 100.0)), pa.int64())
        net = pc.multiply(ext, pc.subtract(pa.scalar(100, pa.int64()), disc))
        yield pa.RecordBatch.from_arrays(
            [batch.column(0), net], ["l_returnflag", "net_e4"]
        )


@register("q_map_in_arrow", oracle=_MAP_IN_ARROW_ORACLE)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    net = li.mapInArrow(_arrow_net_batches, "l_returnflag string, net_e4 long")
    return net.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("net_e4").cast("bigint").alias("net_e4"),
    )
