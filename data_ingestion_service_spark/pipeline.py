"""User-facing ingestion-pipeline API: declare source → transforms →
sink once, run it in batch or streaming.

The registry (`__spark_entry__.py`) is the *driver's* surface; this is
the *user's* — what "a data-ingestion service" means as a library: a
declarative description of where records come from, how they're
transformed, and where they land, executed by Spark in either mode from
the same description (the batch/stream unification that motivated
Structured Streaming, PAPERS.md).

Design rules, enforced here rather than documented away:
  - The pipeline holds a DESCRIPTION (format, path, schema, transform
    callables), not DataFrames — so one definition can be executed in
    batch and streaming, repeatedly, against different sessions.
  - Transforms are DataFrame -> DataFrame callables (or SQL strings
    over the step's view) — everything stays declarative/Catalyst-
    optimizable; nothing here touches rows.
  - Streaming execution requires a checkpoint dir (exactly-once file
    sinks, restart recovery — q_stream_restart_exactly_once is the
    behavior contract) and replays the same transforms unchanged.

Example::

    p = (
        Pipeline()
        .read_parquet(f"{sf}/events.parquet")
        .transform(lambda df: df.filter(F.col("event_type") == "purchase"))
        .sql("SELECT event_type, count(*) AS n FROM {src} GROUP BY 1")
        .write_parquet(out_dir)
    )
    p.run(spark)                      # batch: read -> transforms -> sink
    p.run_stream(spark, checkpoint)   # same description, micro-batched
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.session import ensure_session_confs, work_dir

Transform = Callable[[DataFrame], DataFrame]


class ExpectationError(RuntimeError):
    """A fail-mode data-quality expectation was violated at run time."""


@dataclass
class _Source:
    fmt: str
    path: str
    schema: str | None = None
    options: dict[str, str] = field(default_factory=dict)


@dataclass
class _Sink:
    fmt: str
    path: str | None
    mode: str = "overwrite"
    partition_by: tuple[str, ...] = ()
    options: dict[str, str] = field(default_factory=dict)


class Pipeline:
    """Declarative source → transforms → sink description."""

    def __init__(self) -> None:
        self._source: _Source | None = None
        self._steps: list[Transform] = []
        self._sink: _Sink | None = None
        # Steps that require batch execution (they run actions or side
        # writes): run_stream refuses the whole pipeline if any exist.
        self._batch_only: list[str] = []
        self._quarantine_paths: list[str] = []

    # -- sources ----------------------------------------------------------
    def read_parquet(self, path: str, **options: str) -> "Pipeline":
        return self._set_source("parquet", path, None, options)

    def read_csv(self, path: str, schema: str, **options: str) -> "Pipeline":
        # schema is mandatory: inference is a full extra pass at 100 TB
        # and non-deterministic across samples — an ingestion service
        # declares its contract.
        return self._set_source("csv", path, schema, {"header": "true", **options})

    def read_json(self, path: str, schema: str, **options: str) -> "Pipeline":
        return self._set_source("json", path, schema, options)

    def _set_source(self, fmt, path, schema, options) -> "Pipeline":
        if self._source is not None:
            raise ValueError("source already set")
        self._source = _Source(fmt, path, schema, dict(options))
        return self

    # -- transforms -------------------------------------------------------
    def transform(self, fn: Transform) -> "Pipeline":
        """Append a DataFrame -> DataFrame step (runs in declared order)."""
        self._steps.append(fn)
        return self

    def sql(self, query: str) -> "Pipeline":
        """Append a SQL step; ``{src}`` in the query names this step's
        input view. Runs through the same Catalyst pipeline as the
        DataFrame steps."""

        def _sql_step(df: DataFrame) -> DataFrame:
            import uuid

            # uuid, not id(df): temp views are session-global and masked
            # ids can collide across concurrently-running pipelines.
            view = f"pipeline_step_{uuid.uuid4().hex[:12]}"
            df.createOrReplaceTempView(view)
            # replace, not str.format: user SQL legitimately contains
            # literal braces (named_struct, format_string('{}')) which
            # .format would choke on with KeyError/ValueError.
            return df.sparkSession.sql(query.replace("{src}", view))

        self._steps.append(_sql_step)
        return self

    def expect(
        self,
        condition: str,
        on_violation: str = "drop",
        quarantine_path: str | None = None,
    ) -> "Pipeline":
        """Data-quality gate at this point in the chain.

        ``on_violation``:
          - ``"drop"``   — violating rows are filtered out (works in
            batch AND streaming; pure predicate, Catalyst-pushable).
          - ``"fail"``   — batch-only: count violations when the
            pipeline runs and raise ``ExpectationError`` if any.
          - ``"quarantine"`` — batch-only: write violating rows to
            ``quarantine_path`` (parquet, OVERWRITE — re-running the
            pipeline replaces rather than duplicates the side sink, so
            audits stay single-counted; one gate per path, enforced) and
            continue with the clean subset — the malformed-row sideline
            every ingestion pipeline needs (cf. src_csv_corrupt for the
            reader-level variant).
        """
        if on_violation not in ("drop", "fail", "quarantine"):
            raise ValueError(f"unknown on_violation: {on_violation!r}")
        if on_violation == "quarantine" and not quarantine_path:
            raise ValueError("quarantine needs quarantine_path")
        if on_violation == "quarantine":
            # One gate per quarantine path: the side sink is written with
            # overwrite (so re-running the pipeline — advertised above —
            # does not duplicate quarantined rows and audits stay
            # single-counted); two gates sharing a path would clobber
            # each other, so refuse at declaration time.
            if quarantine_path in self._quarantine_paths:
                raise ValueError(
                    f"quarantine_path {quarantine_path!r} already used by "
                    "another expect() in this pipeline"
                )
            self._quarantine_paths.append(quarantine_path)
        if on_violation in ("fail", "quarantine"):
            self._batch_only.append(f"expect({condition!r}, {on_violation})")

        def _expect_step(df: DataFrame) -> DataFrame:
            from pyspark.sql import functions as F

            cond = F.expr(condition)
            if on_violation == "drop":
                return df.filter(cond)
            bad = df.filter(~F.coalesce(cond, F.lit(False)))
            if on_violation == "fail":
                n = bad.count()
                if n:
                    raise ExpectationError(
                        f"{n} rows violate expectation {condition!r}"
                    )
                return df
            bad.write.mode("overwrite").parquet(quarantine_path)
            return df.filter(F.coalesce(cond, F.lit(False)))

        self._steps.append(_expect_step)
        return self

    # -- sinks ------------------------------------------------------------
    def write_parquet(
        self,
        path: str,
        mode: str = "overwrite",
        partition_by: tuple[str, ...] | list[str] = (),
        **options: str,
    ) -> "Pipeline":
        if self._sink is not None:
            raise ValueError("sink already set")
        self._sink = _Sink("parquet", path, mode, tuple(partition_by), dict(options))
        return self

    def to_dataframe(self) -> "Pipeline":
        """No materialized sink: run() returns the final DataFrame."""
        if self._sink is not None:
            raise ValueError("sink already set")
        self._sink = _Sink("dataframe", None)
        return self

    def dedupe(
        self, keys: list[str] | tuple[str, ...], order_by: str | None = None
    ) -> "Pipeline":
        """Keep one row per ``keys``. With ``order_by`` (a column name;
        batch-only) the survivor is deterministic — the first row by
        that ordering, residual ties broken by every remaining column
        (so for distinct row contents the pick is a pure function of
        the data, never of shuffle order). Without it the step is
        ``dropDuplicates(keys)``: survivor arbitrary but
        streaming-capable (state-store-backed, bound the state with an
        upstream watermark — q_stream_dedup is the behavior contract)."""
        keys = list(keys)
        if order_by:
            self._batch_only.append(f"dedupe({keys}, order_by={order_by!r})")

        def _dedupe_step(df: DataFrame) -> DataFrame:
            if not order_by:
                return df.dropDuplicates(keys)
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            # Tie-break on ALL other columns, sorted by name: partition
            # keys are constant within a partition, so they can't break
            # order_by ties — data columns can and do.
            rest = sorted(c for c in df.columns if c not in keys and c != order_by)
            w = Window.partitionBy(*keys).orderBy(F.asc(order_by), *rest)
            return (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

        self._steps.append(_dedupe_step)
        return self

    def expect_schema(self, ddl: str) -> "Pipeline":
        """Schema contract at this point in the chain: the step's input
        must carry exactly these columns/types (DDL string, order-
        insensitive). Fails at plan time — before any data moves — in
        both batch and streaming, which is where an ingestion service
        wants contract breaks to surface."""
        from pyspark.sql.types import StructType

        expected = {f.name: f.dataType for f in StructType.fromDDL(ddl).fields}

        def _schema_step(df: DataFrame) -> DataFrame:
            actual = {f.name: f.dataType for f in df.schema.fields}
            if actual != expected:
                missing = sorted(set(expected) - set(actual))
                extra = sorted(set(actual) - set(expected))
                drift = sorted(
                    n
                    for n in set(actual) & set(expected)
                    if actual[n] != expected[n]
                )
                raise ExpectationError(
                    f"schema contract violated: missing={missing} "
                    f"extra={extra} type-drift={drift}"
                )
            return df

        self._steps.append(_schema_step)
        return self

    def with_metrics(self) -> "Pipeline":
        """Instrument the pipeline: after a batch ``run()``, read
        ``last_metrics`` for per-stage row counts — ``source`` plus one
        entry per step (``step_1`` …) — collected through Spark's
        Observation API, i.e. free-riding on the job that already runs
        (no extra pass per stage, unlike naive ``count()`` probes).
        Batch-only: streaming reports equivalent numbers through each
        micro-batch's ``lastProgress.observedMetrics`` instead."""
        self._with_metrics = True
        self._batch_only.append("with_metrics()")
        return self

    # -- execution --------------------------------------------------------
    _with_metrics = False
    #: per-stage row counts from the latest instrumented batch run()
    last_metrics: dict[str, int] | None = None

    def _apply_steps(self, df: DataFrame) -> DataFrame:
        if not self._with_metrics:
            for fn in self._steps:
                df = fn(df)
            return df
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self._observations = [("source", Observation())]
        df = df.observe(self._observations[0][1], F.count(F.lit(1)).alias("rows"))
        for i, fn in enumerate(self._steps):
            df = fn(df)
            obs = Observation()
            self._observations.append((f"step_{i + 1}", obs))
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        return df

    def _require(self) -> tuple[_Source, _Sink]:
        if self._source is None:
            raise ValueError("pipeline has no source")
        if self._sink is None:
            raise ValueError("pipeline has no sink")
        return self._source, self._sink

    def run(self, spark: SparkSession) -> DataFrame:
        """Batch execution. Returns the sink contents as a DataFrame
        (re-read for file sinks, so callers always observe exactly what
        landed)."""
        src, sink = self._require()
        ensure_session_confs(spark)
        reader = spark.read.format(src.fmt).options(**src.options)
        if src.schema:
            reader = reader.schema(src.schema)
        out = self._apply_steps(reader.load(src.path))
        if sink.fmt == "dataframe":
            return out
        writer = out.write.format(sink.fmt).mode(sink.mode).options(**sink.options)
        if sink.partition_by:
            writer = writer.partitionBy(*sink.partition_by)
        writer.save(sink.path)
        if self._with_metrics:
            self.last_metrics = {
                name: obs.get["rows"] for name, obs in self._observations
            }
        return spark.read.format(sink.fmt).load(sink.path)

    def run_stream(
        self,
        spark: SparkSession,
        checkpoint: str,
        drain: bool = True,
        sink_path: str | None = None,
    ) -> Any:
        """Streaming execution of the same description: file-stream the
        source dir, apply the same transforms, append to the sink with
        exactly-once checkpointing. With ``drain=True`` (default) the
        call blocks until all currently-available input is processed,
        stops the query, and returns the sink DataFrame; with
        ``drain=False`` it returns the live StreamingQuery.

        ``sink_path`` overrides the sink location for THIS execution
        only — the batch/stream-parity pattern: one definition, run()
        to one sink and run_stream() to another, compare (the declared
        sink path is deployment config, not part of the transform
        semantics; without the override a batch run followed by a
        streaming run would append a second copy into the same files).

        The query runs on the caller's session with its confs as they
        are: unlike the registered stream keys' drain, it neither sizes
        ``spark.sql.shuffle.partitions`` to the input nor switches the
        checkpoint file manager, so the caller's settings for both hold."""
        src, sink = self._require()
        if sink_path is not None:
            sink = _Sink(
                sink.fmt, sink_path, sink.mode, sink.partition_by, sink.options
            )
        if sink.fmt == "dataframe":
            raise ValueError("streaming needs a materialized sink")
        if self._batch_only:
            raise ValueError(
                f"batch-only steps in pipeline: {', '.join(self._batch_only)}"
            )
        ensure_session_confs(spark)
        if not src.schema:
            # File-stream sources need an explicit schema; derive it
            # from the batch reader once (footer probe, no data read).
            src_schema = (
                spark.read.format(src.fmt)
                .options(**src.options)
                .load(src.path)
                .schema
            )
        else:
            src_schema = src.schema  # type: ignore[assignment]
        reader = spark.readStream.format(src.fmt).options(**src.options)
        reader = reader.schema(src_schema)
        stream_path = src.path
        if os.path.isfile(stream_path):
            # File-stream sources take directories; stream the parent
            # with a glob pinned to this file.
            reader = reader.option(
                "pathGlobFilter", os.path.basename(stream_path)
            )
            stream_path = os.path.dirname(stream_path)
        out = self._apply_steps(reader.load(stream_path))
        q = (
            out.writeStream.format(sink.fmt)
            .option("path", sink.path)
            .option("checkpointLocation", checkpoint)
            .options(**sink.options)
            .outputMode("append")
            .start()
        )
        if not drain:
            return q
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.format(sink.fmt).load(sink.path)


# ---------------------------------------------------------------------------
# q_pipeline_api — the pipeline API end-to-end, inside the correctness
# gate: parquet source -> filter transform -> SQL aggregation step ->
# partitioned parquet sink -> re-read. The oracle restates the whole
# pipeline relationally, so the API's read/transform/write path is
# hash-verified like any operator.
# ---------------------------------------------------------------------------

from data_ingestion_service_spark.registry import register  # noqa: E402

_PIPELINE_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE event_type IN ('purchase', 'signup')
GROUP BY event_type
"""


@register("q_pipeline_api", oracle=_PIPELINE_ORACLE)
def q_pipeline_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    out = work_dir("pipeline_")
    p = (
        Pipeline()
        .read_parquet(f"{sf_dir.rstrip('/')}/events.parquet")
        .transform(
            lambda df: df.filter(F.col("event_type").isin("purchase", "signup"))
        )
        .sql(
            "SELECT event_type, count(*) AS n, "
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) "
            "AS value_cents FROM {src} GROUP BY event_type"
        )
        .write_parquet(f"{out}/sink", partition_by=("event_type",))
    )
    back = p.run(spark)
    # partitionBy writes the partition column typed as read-back string;
    # project columns in declared order and restore types for the hash.
    return back.select(
        F.col("event_type").cast("string"),
        F.col("n").cast("bigint"),
        F.col("value_cents").cast("bigint"),
    )


_PIPELINE_EXPECT_ORACLE = """
SELECT c_mktsegment,
       CAST(sum(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clean,
       CAST(sum(CASE WHEN c_acctbal >= 0 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_quarantined
FROM customer
GROUP BY c_mktsegment
"""


@register("q_pipeline_expectations", oracle=_PIPELINE_EXPECT_ORACLE)
def q_pipeline_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gated pipeline end-to-end: negative-balance customers are
    quarantined to a side parquet sink, clean rows land in the main
    sink, and the result reconciles both against the source — proving
    the gate neither drops nor duplicates anything."""
    from pyspark.sql import functions as F

    out = work_dir("expect_")
    p = (
        Pipeline()
        .read_parquet(f"{sf_dir.rstrip('/')}/customer.parquet")
        .expect(
            "c_acctbal >= 0",
            on_violation="quarantine",
            quarantine_path=f"{out}/quarantine",
        )
        .write_parquet(f"{out}/clean")
    )
    clean = p.run(spark)
    import os

    if os.path.isdir(f"{out}/quarantine"):
        bad = spark.read.parquet(f"{out}/quarantine")
    else:
        # Zero violations -> the side sink was never written; an audit
        # must report n_quarantined=0, not crash on a missing path.
        bad = clean.limit(0)
    g_clean = clean.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_clean")
    )
    g_bad = bad.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_quarantined")
    )
    return (
        g_clean.join(g_bad, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("n_clean", F.lit(0)).cast("bigint").alias("n_clean"),
            F.coalesce("n_quarantined", F.lit(0))
            .cast("bigint")
            .alias("n_quarantined"),
        )
    )


# ---------------------------------------------------------------------------
# q_pipeline_stream_parity — the batch/stream unification claim actually
# oracle-gated over a REAL operator chain: ONE pipeline definition
# (quality gate -> dedupe -> parquet sink) executed BOTH ways — run()
# into one sink, run_stream() into another — over a replay dir holding
# TWO copies of the events table (so .dedupe() has real duplicates to
# remove and the gate real rows to drop). The returned row set is the
# STREAMING sink's aggregate (hash-checked against the batch-relational
# oracle), with per-group batch-equality pinned as a hashed column —
# both executions of the one definition must land identical data.
# ---------------------------------------------------------------------------

_PIPELINE_PARITY_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       TRUE AS batch_stream_match
FROM events
WHERE value >= 250
GROUP BY event_type
"""


@register("q_pipeline_stream_parity", oracle=_PIPELINE_PARITY_ORACLE)
def q_pipeline_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .streaming.stream_queries import _copy_fixture

    work = work_dir("parity_")
    src_file = f"{sf_dir.rstrip('/')}/events.parquet"
    os.makedirs(f"{work}/replay")
    for i in range(2):  # duplicate delivery: what .dedupe() must undo
        _copy_fixture(src_file, f"{work}/replay", f"events_{i}")

    p = (
        Pipeline()
        .read_parquet(f"{work}/replay")
        .expect("value >= 250", on_violation="drop")
        .dedupe(["event_id"])
        .write_parquet(f"{work}/batch_sink")
    )
    batch = p.run(spark)
    stream = p.run_stream(
        spark, f"{work}/ckpt", sink_path=f"{work}/stream_sink"
    )

    def agg(df: DataFrame, n: str, c: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(n),
            F.sum(money.cents("value")).cast("long").alias(c),
        )

    b = agg(batch, "n_b", "cents_b")
    s = agg(stream, "n", "value_cents")
    return s.join(b, "event_type", "full_outer").select(
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("value_cents", F.lit(0)).alias("value_cents"),
        (
            (F.col("n") == F.col("n_b"))
            & (F.col("value_cents") == F.col("cents_b"))
        ).alias("batch_stream_match"),
    )
