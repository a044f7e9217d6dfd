"""Query registry — the single source of truth for the driver contract.

Every operator module registers its queries here via :func:`register`;
``__spark_entry__.py`` simply re-exports :data:`QUERIES` / :data:`ORACLES`.

Contract (``__spark_entry__.py`` docstring, SURVEY.md §0.4):
  - each key maps to a callable ``(spark, sf_dir) -> DataFrame``;
  - if an equivalent ANSI-SQL oracle exists, it is registered alongside and
    the driver hash-compares Spark vs DuckDB output (row count + schema +
    order-insensitive value hash);
  - column names must match exactly between the Spark result and the SQL
    (the driver sorts columns by name before hashing) — alias everything;
  - float aggregates are rounded *in-query on both sides* so last-ulp
    differences between engines cannot flip the hash (SURVEY.md §5).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_service_spark.session import call_scope

QueryFn = Callable[[SparkSession, str], DataFrame]
F = TypeVar("F", bound=QueryFn)

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[F], F]:
    """Register ``fn`` under ``name``; ``oracle`` is DuckDB-runnable ANSI SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible operator — the
    driver then records a weaker rows-only check (SURVEY.md §2 legend: ◐).
    Returns ``fn`` wrapped once in ``session.call_scope()``; registering
    the wrapper under a second name does not wrap it again.
    """

    def deco(fn: F) -> F:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        if not getattr(fn, "_call_scoped", False):
            fn = call_scope()(fn)
            fn._call_scoped = True
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all_operators() -> None:
    """Import every operator module so registration side effects run."""
    # Imports are deferred so `import data_ingestion_service_spark` stays
    # cheap and so a syntax error in one module is easy to localize.
    from data_ingestion_service_spark.operators import (  # noqa: F401
        advanced,
        aggregation,
        analytics,
        corpus_dedup,
        corpus_quality,
        corpus_retrieval,
        engine_features,
        joins,
        llm,
        llm_extended,
        mining,
        ml_features,
        relational,
        reporting,
        scalar_funcs,
        semistructured,
        setops,
        sketches,
        spark4_features,
        timeseries,
        tpch_extended,
        tpch_more,
        training_data,
        udf_surface,
        windows,
    )
    from data_ingestion_service_spark import pipeline  # noqa: F401
    from data_ingestion_service_spark.sources import io  # noqa: F401
    from data_ingestion_service_spark.streaming import stream_queries  # noqa: F401
