"""Shared batch↔stream model definitions (the alerts.py pattern, applied
to learned models): a model computed by a batch key and SCORED inside a
streaming plan must have exactly one definition, or the batch audit and
the live monitor silently drift apart.

Currently: the exact per-type cents percentile (also q_latency_percentiles
and q_winsorized_stats in operators/mining.py) and the discrete-p99
threshold model built on it, which q_stream_model_score broadcast-joins
into a live plan. Both engines and both execution modes derive from the
construction here — integer cents, rank ceil(q·n), event_id tiebreak — so
the threshold is bit-identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.functions import money

# Quantile of the threshold model (discrete — the element at rank
# ceil(q*n), never an interpolated blend).
SCORE_QUANTILE = 0.99


def cents_histogram(events: DataFrame) -> DataFrame:
    """(event_type, cents, c, cum, n): per-type bucket counts, cumulative
    counts and type totals. Equal cents occupy one contiguous rank run
    [cum-c+1, cum] under (cents, event_id), so an exact rank pick reads
    this domain-sized table instead of sorting the event stream."""
    cnt = (
        events.select("event_type", money.cents("value").alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_all = Window.partitionBy("event_type")
    w_cum = w_all.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    return cnt.select(
        "event_type",
        "cents",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )


def cents_at_rank(rank: Column) -> Column:
    """Aggregate over :func:`cents_histogram` rows: the cents at ``rank``."""
    covers = (rank > F.col("cum") - F.col("c")) & (rank <= F.col("cum"))
    return F.min(F.when(covers, F.col("cents")))


def quantile_rank(q: float) -> Column:
    """Discrete quantile rank ceil(q·n) over :func:`cents_histogram` rows."""
    return F.ceil(F.lit(q) * F.col("n")).cast("bigint")


def p99_threshold_model(events: DataFrame) -> DataFrame:
    """(event_type, p99_cents) learned from a batch of events."""
    return (
        cents_histogram(events)
        .groupBy("event_type")
        .agg(cents_at_rank(quantile_rank(SCORE_QUANTILE)).alias("p99_cents"))
    )


# Oracle-side (DuckDB) CTE body producing the identical model table.
ORACLE_P99_MODEL_CTE = f"""
ranked AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(round(value * 100) AS BIGINT),
                                     event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
model AS (
  SELECT event_type,
         min(CASE WHEN rn = CAST(ceil({SCORE_QUANTILE} * n) AS BIGINT)
                  THEN cents END) AS p99_cents
  FROM ranked GROUP BY event_type
)
"""
