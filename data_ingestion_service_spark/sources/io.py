"""Non-parquet sources and sinks: CSV, JSON-lines, partitioned parquet
(SURVEY.md §2.1).

Each query round-trips fixture data through the format under test and
aggregates the re-read result; the oracle aggregates the original parquet
directly, so a hash match proves the round-trip is lossless. Columns are
chosen so text serialization is exact (Spark writes shortest-round-trip
doubles; values re-parse bit-identically).

Sinks write under a per-call temp directory — safe for concurrent runs,
nothing outside /tmp is touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import fixture_cache_key, load_table, table_path
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register
from data_ingestion_service_spark.session import call_persisted, staged, work_dir

_CSV_ORACLE = """
SELECT l_returnflag, count(*) AS n,
       round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_qty,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("src_csv_roundtrip", oracle=_CSV_ORACLE)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    out = work_dir("csv_")
    li.write.mode("overwrite").option("header", "true").csv(out)
    back = (
        spark.read.schema("l_returnflag string, l_quantity double, l_extendedprice double")
        .option("header", "true")
        .csv(out)
    )
    # Exact cents sums (both columns are 2dp-exact): plain double sums
    # diverged from DuckDB's sum order in the last ulp on a rounding
    # boundary at the sf1 stress tier. The CSV round-trip itself is
    # lossless (shortest-round-trip doubles re-parse bit-identically).
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        money.money_sum(money.cents("l_quantity")).alias("total_qty"),
        money.money_sum(money.cents("l_extendedprice")).alias("total_price"),
    )


_JSONL_ORACLE = """
SELECT event_type, count(*) AS n,
       round(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


@register("src_json_lines", oracle=_JSONL_ORACLE)
def src_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "user_id")
    out = work_dir("jsonl_")
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema("event_type string, value double, user_id bigint").json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # Exact-cents sum (r10 float-sum audit): value is 2dp and JSON
        # round-trips doubles exactly, so the snap is lossless.
        money.money_sum(money.cents_floor("value")).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


_TEXT_ORACLE = """
SELECT l_returnflag, count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS key_sum
FROM lineitem
GROUP BY l_returnflag
"""


@register("src_text_roundtrip", oracle=_TEXT_ORACLE)
def src_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source: serialize to delimited lines, re-parse.

    Exercises spark.read.text + string parsing — the shape of raw-log
    ingestion (the most common ingestion-service input at scale).
    """
    li = load_table(spark, sf_dir, "lineitem")
    out = work_dir("text_")
    li.select(
        F.concat_ws("|", F.col("l_returnflag"), F.col("l_orderkey").cast("string")).alias(
            "value"
        )
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out).select(
        F.split_part(F.col("value"), F.lit("|"), F.lit(1)).alias("l_returnflag"),
        F.split_part(F.col("value"), F.lit("|"), F.lit(2)).cast("bigint").alias(
            "l_orderkey"
        ),
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_orderkey").alias("key_sum")
    )


_ORC_ORACLE = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@register("src_orc_roundtrip", oracle=_ORC_ORACLE)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar source (Spark-native reader/writer; the oracle checks
    the round-tripped aggregate against the original table, so lossless-
    ness of the format conversion is what's being proven)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    out = work_dir("orc_")
    orders.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    # Exact cents sum — same last-ulp divergence class as the partitioned
    # sink, caught by the full-registry sf5 run (2.5M-row groups).
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        money.money_sum(money.cents("o_totalprice")).alias("total_price"),
    )


_SCHEMA_EVOLUTION_ORACLE = """
SELECT
  count(*)                                                   AS n,
  count(CASE WHEN event_id % 2 = 1 THEN event_type END)      AS n_typed,
  round(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value
FROM events
"""


@register("src_schema_evolution", oracle=_SCHEMA_EVOLUTION_ORACLE)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet generations (the newer adds a
    column), read with mergeSchema — older rows surface NULLs for the
    added column. The standard widening path for an evolving feed."""
    ev = load_table(spark, sf_dir, "events")
    out = work_dir("evo_")
    gen1 = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value")
    gen2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "value", "event_type"
    )
    gen1.write.mode("overwrite").parquet(f"{out}/g=1")
    gen2.write.mode("overwrite").parquet(f"{out}/g=2")
    back = spark.read.option("mergeSchema", "true").parquet(f"{out}/g=1", f"{out}/g=2")
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("event_type").alias("n_typed"),
        # Exact-cents sum (r10 float-sum audit).
        money.money_sum(money.cents_floor("value")).alias("total_value"),
    )


_PARTITIONED_SINK_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


_COMPACTED_SINK_ORACLE = """
SELECT l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS total_qty
FROM lineitem
GROUP BY l_linestatus
"""


@register("sink_compacted", oracle=_COMPACTED_SINK_ORACLE)
def sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction sink: repartition-on-write to a fixed file
    count — the maintenance job every streaming ingest needs (thousands
    of micro-batch files → a few scan-efficient ones), then re-read."""
    li = load_table(spark, sf_dir, "lineitem").select("l_linestatus", "l_quantity")
    out = work_dir("compact_")
    li.repartition(4).write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@register("sink_parquet_partitioned", oracle=_PARTITIONED_SINK_ORACLE)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink, then re-scan.

    The re-read aggregation groups on the partition column, so Catalyst
    satisfies the partition-key side from directory metadata (partition
    pruning / no data read for the key) — the layout a 100 TB ingest sink
    would use for downstream predicate pruning.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    out = work_dir("part_")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    # Exact cents sum (the src_csv_roundtrip discipline): plain double
    # sums diverged from DuckDB's sum order in the last ulp at the sf5
    # stress tier (3M-row groups crossed a rounding boundary).
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        money.money_sum(money.cents("l_extendedprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# src_python_datasource — the Spark 4 Python DataSource API: a custom
# batch source written entirely in Python (schema + partition planning +
# per-partition generator), registered with spark.dataSource.register and
# consumed through the normal spark.read path. The generator is
# deterministic, so the DuckDB oracle reproduces it from range() — the
# extensibility surface a connector to an internal system would use,
# verified. Partition planning is real: rows are generated across 4
# independent input partitions.
# ---------------------------------------------------------------------------

_PYTHON_DS_ORACLE = """
SELECT i AS id, i % 4 AS bucket, i * 25 AS val_cents
FROM (SELECT unnest(range(0, 40)) AS i)
"""


def _make_range_label_source():
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _Reader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 40))
            self.parts = int(options.get("parts", 4))

        def partitions(self):
            return [InputPartition(p) for p in range(self.parts)]

        def read(self, partition):
            for i in range(partition.value, self.n, self.parts):
                yield (i, i % 4, i * 25)

    class RangeLabelSource(DataSource):
        @classmethod
        def name(cls):
            return "range_label"

        def schema(self):
            return "id bigint, bucket bigint, val_cents bigint"

        def reader(self, schema):
            return _Reader(self.options)

    return RangeLabelSource


@register("src_python_datasource", oracle=_PYTHON_DS_ORACLE)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.dataSource.register(_make_range_label_source())
    return (
        spark.read.format("range_label")
        .option("n", "40")
        .option("parts", "4")
        .load()
    )


_XML_ORACLE = """
SELECT
  c_mktsegment,
  count(*) AS n,
  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
GROUP BY c_mktsegment
"""


@register("src_xml_roundtrip", oracle=_XML_ORACLE)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source (native in Spark 4): write customers as XML rows, read
    back with rowTag inference, aggregate. Doubles round-trip exactly
    (shortest-repr text -> same double); the oracle checks the aggregate
    against the original table, proving lossless conversion including
    XML entity escaping."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    out = work_dir("xml_")
    cust.write.format("xml").option("rowTag", "customer").mode("overwrite").save(out)
    back = spark.read.format("xml").option("rowTag", "customer").load(out)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money.cents("c_acctbal")).cast("long").alias("acctbal_cents"),
    )


_SORTED_SINK_ORACLE = """
SELECT
  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
  count(*) AS n,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem
GROUP BY 1
"""


@register("sink_sorted_parquet", oracle=_SORTED_SINK_ORACLE)
def sink_sorted_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered write: repartitionByRange + sortWithinPartitions on the
    time column before writing parquet. Each file/row-group then covers a
    narrow, non-overlapping l_shipdate range, so parquet min/max footer
    stats prune time-range scans to a handful of row groups — the layout
    that makes a 100 TB time-series table cheap to query (pinned by
    tests/test_scale_posture.py::test_sorted_write_rowgroup_stats). The
    oracle checks the re-read aggregate, proving the re-layout is
    content-preserving."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice"
    )
    out = work_dir("sorted_")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy(
        F.year("l_shipdate").cast("int").alias("ship_year")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money.cents("l_extendedprice")).cast("long").alias("price_cents"),
    )


_CSV_CORRUPT_ORACLE = """
SELECT
  count(CASE WHEN o_orderkey % 7 <> 0 THEN 1 END)  AS n_good,
  count(CASE WHEN o_orderkey % 7 = 0 THEN 1 END)   AS n_corrupt,
  CAST(sum(CASE WHEN o_orderkey % 7 <> 0
                THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
                                                   AS good_cents
FROM orders
"""


@register("src_csv_corrupt", oracle=_CSV_CORRUPT_ORACLE)
def src_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row quarantine on ingest: a CSV feed where every 7th
    order line is truncated mid-row is read in PERMISSIVE mode with a
    _corrupt_record column — bad rows land in the quarantine column
    instead of failing the load (FAILFAST) or silently disappearing
    (DROPMALFORMED). The oracle recomputes good/corrupt splits from the
    clean fixture, so capture-exactness is what's proven."""
    orders = load_table(spark, sf_dir, "orders")
    # Corrupt rows are truncated to a single unparseable-for-schema cell:
    # the key with a trailing dangling quote (deterministic from the key).
    line = F.when(
        F.col("o_orderkey") % 7 == 0,
        F.concat(F.col("o_orderkey").cast("string"), F.lit(',"x')),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            money.cents("o_totalprice").cast("string"),
            F.col("o_orderstatus"),
        )
    )
    out = work_dir("corrupt_csv_")
    orders.select(line.alias("value")).write.mode("overwrite").text(out)
    schema = (
        "o_orderkey BIGINT, price_cents BIGINT, o_orderstatus STRING, "
        "_corrupt_record STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    return back.agg(
        F.count_if(F.col("_corrupt_record").isNull()).alias("n_good"),
        F.count_if(F.col("_corrupt_record").isNotNull()).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("price_cents"))
        )
        .cast("long")
        .alias("good_cents"),
    )


_FILE_METADATA_ORACLE = """
SELECT count(*)  AS n_rows,
       true      AS files_zero_based,
       true      AS row_index_dense
FROM documents
"""


@register("src_file_metadata", oracle=_FILE_METADATA_ORACLE)
def src_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage metadata columns: every file source exposes a hidden
    `_metadata` struct (file_name, file_path, row_index, ...) — the
    provenance an ingestion service attaches to each row so any record
    can be traced back to its source file and position.

    Layout-invariant contract (r10): the table may be ONE file (the
    driver's fixture) or a DIRECTORY of part files (every real cluster,
    the multi-file stress rung), so per-file names/spans cannot appear in
    the output. Instead the per-file invariants the lineage columns
    promise are VERIFIED across whatever files exist — row_index starts
    at 0 in every file and is dense (max-min+1 == rows) — and the key
    returns the invariant verdicts plus the total row count."""
    from data_ingestion_service_spark.catalog import table_path

    df = spark.read.parquet(table_path(sf_dir, "documents")).select(
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    per_file = df.groupBy("file_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("row_index").alias("min_ri"),
        F.max("row_index").alias("max_ri"),
    )
    return per_file.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.bool_and(F.col("min_ri") == 0).alias("files_zero_based"),
        F.bool_and(
            F.col("max_ri") - F.col("min_ri") + 1 == F.col("n_rows")
        ).alias("row_index_dense"),
    )


_TIME_TRAVEL_ORACLE = """
SELECT 1 AS version, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders WHERE o_orderkey % 3 <> 0
UNION ALL
SELECT 2 AS version, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
"""

@register("q_time_travel", oracle=_TIME_TRAVEL_ORACLE)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based snapshot reads (the lakehouse time-travel core,
    format-agnostic): every commit is an immutable list of data files; a
    reader resolves a version by loading its manifest and scanning
    exactly those files — old versions stay readable after new commits
    because data files are never rewritten, only added. Commit v1 holds
    2/3 of orders; commit v2 appends the rest as a new file. The result
    reads BOTH versions side by side from the same store."""
    import json
    import os

    def commit_snapshots() -> str:
        root = work_dir("snapshots_")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        orders.filter(F.col("o_orderkey") % 3 != 0).coalesce(1).write.parquet(
            f"{root}/files/commit1"
        )
        orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(1).write.parquet(
            f"{root}/files/commit2"
        )

        def data_files(commit: str) -> list[str]:
            d = f"{root}/files/{commit}"
            return [
                f"{d}/{f}" for f in sorted(os.listdir(d)) if f.endswith(".parquet")
            ]

        v1 = data_files("commit1")
        v2 = v1 + data_files("commit2")
        os.makedirs(f"{root}/manifests", exist_ok=True)
        for ver, files in ((1, v1), (2, v2)):
            with open(f"{root}/manifests/v{ver}.json", "w") as fh:
                json.dump({"version": ver, "files": files}, fh)
        return root

    root = staged(
        ("snapshots", fixture_cache_key(table_path(sf_dir, "orders"))),
        commit_snapshots,
    )

    def read_version(ver: int) -> DataFrame:
        with open(f"{root}/manifests/v{ver}.json") as fh:
            manifest = json.load(fh)
        snap = spark.read.parquet(*manifest["files"])
        return snap.agg(
            F.lit(ver).alias("version"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money.cents("o_totalprice")).cast("long").alias("cents"),
        )

    return read_version(1).unionAll(read_version(2))


# ---------------------------------------------------------------------------
# src_binaryfile — the binaryFile source: ingest opaque files as
# (path, length, content: binary) rows — the entry point for multimodal
# corpora (images/audio land exactly like this before q_media_features'
# decode stage). Files are staged from documents' text so the oracle
# can recompute every checksum from the table; the id travels in the
# FILENAME and is recovered with regexp_extract on the path, the
# standard layout-metadata pattern.
# ---------------------------------------------------------------------------

_BINARYFILE_ORACLE = """
SELECT doc_id,
       md5(text)                                   AS content_md5,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id < 20
"""


@register("src_binaryfile", oracle=_BINARYFILE_ORACLE)
def src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()
    )
    stage = work_dir("binfiles_")
    for r in docs:
        with open(os.path.join(stage, f"doc_{r.doc_id}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    files = spark.read.format("binaryFile").load(stage)
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.md5("content").alias("content_md5"),
        F.col("length").cast("bigint").alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# q_checksum_table — content checksum per partition-of-record: the
# data-contract audit primitive. Every row is canonicalized to a pipe-
# joined string of engine-stable fields (integer keys, money re-
# quantized to cents, dates as epoch seconds), hashed, reduced to a
# bounded integer, and SUMMED — integer addition is associative and
# commutative, so the checksum is independent of row order, partition
# count, and engine, which is exactly what lets two sides of a transfer
# (or two snapshots) be compared with one number per group.
# ---------------------------------------------------------------------------

_CHECKSUM_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n_rows,
       CAST(sum(('0x' || substr(md5(
           CAST(o_orderkey AS VARCHAR) || '|' ||
           CAST(o_custkey AS VARCHAR) || '|' ||
           CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
           CAST(CAST(epoch(o_orderdate) AS BIGINT) AS VARCHAR) || '|' ||
           o_orderpriority), 1, 15))::BIGINT % 1000000000) AS BIGINT)
         AS content_checksum
FROM orders
GROUP BY o_orderstatus
"""


@register("q_checksum_table", oracle=_CHECKSUM_ORACLE)
def q_checksum_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # NULL-propagating concat (not concat_ws): the oracle's `||` nulls the
    # whole canonical string on any NULL field, so a NULL must null the hash
    # rather than silently shifting separators — concat_ws would drop the
    # field and let two distinct rows collide (the q_feature_hash idiom).
    canon = F.concat(
        F.col("o_orderkey").cast("string"),
        F.lit("|"),
        F.col("o_custkey").cast("string"),
        F.lit("|"),
        money.cents("o_totalprice").cast("string"),
        F.lit("|"),
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).cast("string"),
        F.lit("|"),
        F.col("o_orderpriority"),
    )
    row_hash = (
        F.conv(F.substring(F.md5(canon.cast("binary")), 1, 15), 16, 10).cast(
            "bigint"
        )
        % 1000000000
    )
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).cast("bigint").alias("content_checksum"),
    )


# ---------------------------------------------------------------------------
# sink_python_datasource — the WRITE half of the Spark 4 Python
# DataSource API (src_python_datasource exercises the read half): a
# custom batch WRITER — per-task write(iterator) -> commit-message, a
# driver-side commit() that publishes a manifest, and abort() cleanup —
# the connector surface for pushing curated data into a system Spark
# has no native sink for. Each task writes its partition to a JSON-lines
# part file and returns (path, rows, checksum); commit() writes the
# manifest only if every task reported — the two-phase commit an
# exactly-once custom sink needs. The key writes orders aggregates
# through the custom sink, re-reads what landed, VERIFIES the manifest
# totals, and returns the re-read rows for the oracle hash.
# ---------------------------------------------------------------------------

_PYTHON_SINK_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY o_orderpriority
"""


def _make_jsonl_sink():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Commit(WriterCommitMessage):
        def __init__(self, path, rows):
            self.path = path
            self.rows = rows

    class _Writer(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            import json
            import os
            import uuid

            os.makedirs(self.path, exist_ok=True)
            part = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(part, "w", encoding="utf-8") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict()) + "\n")
                    n += 1
            return _Commit(part, n)

        def commit(self, messages):
            import json
            import os

            manifest = {
                "parts": sorted(m.path for m in messages),
                "total_rows": sum(m.rows for m in messages),
            }
            with open(os.path.join(self.path, "_MANIFEST"), "w") as f:
                json.dump(manifest, f)

        def abort(self, messages):
            import os

            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonl_manifest"

        def writer(self, schema, overwrite):
            return _Writer(self.options)

    return JsonlSink


@register("sink_python_datasource", oracle=_PYTHON_SINK_ORACLE)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    spark.dataSource.register(_make_jsonl_sink())
    out = work_dir("pysink_") + "/sink"
    # Persist so the sink write and the verification read the SAME
    # materialization — one orders scan, not two (VERDICT r9 item 7: of
    # the key's 3.5s wall, ~0.9s was the duplicate aggregate scan plus
    # two extra verification actions; the Python-datasource worker
    # round-trip itself is the feature under test and stays).
    agg = call_persisted(
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money.cents("o_totalprice")).cast("long").alias("total_cents"),
        )
    )
    # coalesce(1): the aggregate is ≤|priorities| rows, but the cached
    # plan keeps the shuffle's partitioning (AQE does not re-plan
    # cached output), so the sink write otherwise launches one Python
    # writer TASK — a worker round-trip and a near-empty part file —
    # per shuffle partition (measured r12 at sf0.001: 32 part files
    # for 5 rows, write wall 0.82 → 0.55s with the coalesce; guide §6
    # output sizing). One task also makes the manifest's two-phase
    # commit read one part, which is the shape a real manifest sink
    # wants for a result-sized table.
    agg.coalesce(1).write.format("jsonl_manifest").option("path", out).mode(
        "append"
    ).save()
    with open(f"{out}/_MANIFEST") as f:
        manifest = json.load(f)
    back = spark.read.schema(
        "o_orderpriority string, n_orders bigint, total_cents bigint"
    ).json(f"{out}/part-*.jsonl")
    # Full row-set equality (stronger than the old count/total
    # probes) in two bounded actions: the group-by output is ≤5 rows.
    back_rows = {tuple(r) for r in back.collect()}
    agg_rows = {tuple(r) for r in agg.collect()}
    if manifest["total_rows"] != len(back_rows) or back_rows != agg_rows:
        raise AssertionError(
            f"python sink mismatch: {manifest['total_rows']} manifest "
            f"rows, {len(back_rows)} read back, sets equal: "
            f"{back_rows == agg_rows}"
        )
    for p in manifest["parts"]:
        if not os.path.exists(p):
            raise AssertionError(f"manifest names missing part {p}")
    return back.select("o_orderpriority", "n_orders", "total_cents")


# ---------------------------------------------------------------------------
# q_dead_letter_replay — the quarantine is not a graveyard: rows that
# failed the first parse (src_csv_corrupt's scenario — every 7th order
# line truncated with a dangling quote) are captured via
# _corrupt_record, REPAIRED with a parser that understands the failure
# mode (strip the dangling fragment, recover the key), re-joined to the
# authoritative source for their lost fields, and merged back with the
# clean rows. The final accounting must equal a clean pass over ALL
# rows — recovery is complete and duplicate-free, which is exactly what
# the oracle (a plain aggregate over the original table) proves. This
# is the operational loop every production feed needs: quarantine →
# diagnose → repair → replay → reconcile.
# ---------------------------------------------------------------------------

_DEAD_LETTER_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents,
       CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_recovered
FROM orders
GROUP BY o_orderstatus
"""


@register("q_dead_letter_replay", oracle=_DEAD_LETTER_ORACLE)
def q_dead_letter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    line = F.when(
        F.col("o_orderkey") % 7 == 0,
        F.concat(F.col("o_orderkey").cast("string"), F.lit(',"x')),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            money.cents("o_totalprice").cast("string"),
            F.col("o_orderstatus"),
        )
    )
    out = work_dir("dlq_")
    orders.select(line.alias("value")).write.mode("overwrite").text(out)
    schema = (
        "o_orderkey BIGINT, price_cents BIGINT, o_orderstatus STRING, "
        "_corrupt_record STRING"
    )
    # Spark refuses filters that reference ONLY the internal corrupt
    # column on the lazy reader (the raw record would have to be
    # re-parsed per predicate); persisting materializes the parse once,
    # which is also what the replay loop wants — quarantine triage
    # reads the same parsed batch repeatedly.
    back = call_persisted(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    clean = back.filter(F.col("_corrupt_record").isNull()).select(
        "o_orderkey", "price_cents", "o_orderstatus", F.lit(0).alias("recovered")
    )
    # Repair: the failure mode is known (truncation after the key with a
    # dangling quote) — recover the key from the quarantined raw line,
    # then re-fetch the lost fields from the authoritative source.
    dead = back.filter(F.col("_corrupt_record").isNotNull()).select(
        F.split(F.col("_corrupt_record"), ",").getItem(0).cast("bigint").alias(
            "o_orderkey"
        )
    )
    repaired = dead.join(orders, "o_orderkey").select(
        "o_orderkey",
        money.cents("o_totalprice").alias("price_cents"),
        "o_orderstatus",
        F.lit(1).alias("recovered"),
    )
    merged = clean.unionByName(repaired)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_cents").cast("long").alias("price_cents"),
        F.sum("recovered").cast("long").alias("n_recovered"),
    )
