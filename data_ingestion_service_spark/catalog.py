"""Table loaders over the driver-generated parquet fixtures.

Schemas documented in FIXTURES.md; generated per TESTDATA.md. All loaders
are plain ``spark.read.parquet`` scans — columnar, vectorized, with
predicate pushdown and column pruning left to Catalyst (SURVEY.md §4).

The one irregularity: ``events.parquet``'s ``ts`` physical type has varied
across driver fixture regenerations — TIMESTAMP(NANOS) (which Spark can
only read as raw longs via ``spark.sql.legacy.parquet.nanosAsLong``) vs
TIMESTAMP(MICROS) (plain ``timestamp_ntz``). The loader probes the actual
schema and converts nanos-as-long fixtures by integer-dividing to
microseconds — the exact truncation DuckDB applies when it casts
TIMESTAMP_NS to TIMESTAMP — and passes µs fixtures through untouched, so
both engines see identical values for either vintage.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_service_spark.session import ensure_session_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables — always broadcast-joinable; used by operators to
# add explicit broadcast() hints (at 100 TB the fact side scales, these
# stay O(MB)).
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Analyzed-DataFrame cache, per session. Weak keys stop id-reuse from
# aliasing a dead session, but each cached DataFrame holds its session, so
# entries stay for the life of the process. Re-running spark.read.parquet
# per query re-lists files and re-reads footers (~60-80ms/table, the
# dominant cost of ms-scale queries); a real ingestion service registers
# its catalog once. Execution still scans fresh data — only the *plan*
# (schema + file listing) is reused.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with oracle-parity normalizations applied."""
    import os

    per_session = _TABLE_CACHE.setdefault(spark, {})
    # Keyed by (path, mtime, size) like stream_queries._TS_KIND_CACHE: a
    # fixture regenerated in-place mid-session gets a fresh plan (new
    # file listing + schema probe) instead of the stale cached one.
    path = table_path(sf_dir, name)
    try:
        st = os.stat(path)
        key = (sf_dir.rstrip("/"), name, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (sf_dir.rstrip("/"), name, 0, 0)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    ensure_session_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns since epoch -> us since epoch -> naive timestamp (UTC session).
        # Integer `div`, NOT `/`: epoch-ns (~1.7e18) exceeds double's 2^53
        # mantissa, so float division mis-rounds the last microsecond.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    per_session[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
