"""Structured Streaming operators over a file-replay of the events table
(SURVEY.md §2.9; declarative model per the Structured Streaming paper,
PAPERS.md).

Verification strategy: the oracle cannot run a stream, so each streaming
query replays ``events.parquet`` as a file stream, drains it into a
sink, and returns the final sink state — which, for these operators,
provably equals the batch query the oracle runs (SURVEY.md §2.9).

Every events replay is read by one function, ``events_stream`` (or its
raw-``ts`` twin ``raw_events_stream``): it streams the fixture itself or
a replay dir the key staged with ``_stage_replay_dir`` from
``replay_stage``'s split files, takes the fixture's ``ts`` vintage from
the stage, notes the fixture's size for the drain's shuffle sizing and
normalizes ``ts`` to event time. A key picks only its split files and
whether the source delivers one file per micro-batch.

Every query drains through one function, ``_drain``: it starts the query,
waits with ``processAllAvailable()``, ``awaitTermination()`` under an
``availableNow`` trigger, or a bounded poll until a memory sink holds N
rows, and stops it. ``run_to_memory`` and ``run_to_parquet`` wrap it
for the two common sinks; ``foreachBatch`` keys pass their own writer.
Window/session operators that are identical batch/streaming by
construction (same ``window()`` / ``session_window()`` expression) run in
whichever mode verifies strongest.

State & scale: tumbling windows keep one row of state per (window, type);
dedup state is bounded by ``withWatermark`` in production (unbounded here
on purpose — the fixture replay is in-order and finite). At 100 TB/day the
same plans run with RocksDB state store and watermarked eviction.
"""

from __future__ import annotations

import contextlib
import functools
import importlib.util
import os
import shutil
import threading
import time
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from data_ingestion_service_spark.catalog import (
    fixture_cache_key,
    fixture_parts,
    load_table,
    table_path,
)
from data_ingestion_service_spark.functions import alerts, models, money
from data_ingestion_service_spark.registry import register as _register_raw
from data_ingestion_service_spark.session import (
    call_persisted,
    ensure_session_confs,
    staged,
    work_dir,
)

# ---------------------------------------------------------------------------
# Stream-session isolation (VERDICT r9 item 2 / ADVICE r9): the drain
# helpers below size spark.sql.shuffle.partitions to the replay input for
# the duration of a drain. Doing that on the CALLER's session means a
# batch plan built concurrently (the bench's 8-thread pool) can observe
# the lowered value — a hidden perf variable and exactly the
# addition-order surface behind the r8/r9 float-sum findings. Every
# registered key in this module therefore runs on a dedicated child
# session: ``newSession()`` shares the SparkContext and SharedState
# (cached data, catalog) but owns its SQLConf, so the drain's conf writes
# are invisible outside this module. One child per parent session
# (weak-keyed — dies with the parent); drains racing each other INSIDE
# the child remain the documented benign-perf trade, bounded by
# _drain_confs' restore-to-entered-value.
# ---------------------------------------------------------------------------

_STREAM_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)
_STREAM_SESSION_LOCK = threading.Lock()


def stream_session(spark: SparkSession) -> SparkSession:
    """Dedicated drain session for ``spark`` (idempotent on a child)."""
    if getattr(spark, "_ingest_stream_child", False):
        return spark
    with _STREAM_SESSION_LOCK:
        child = _STREAM_SESSIONS.get(spark)
        if child is None:
            child = spark.newSession()
            child._ingest_stream_child = True
            ensure_session_confs(child)
            # Respect a caller-level override of the drain-relevant conf
            # (a value set on the parent session): the child starts from
            # the parent's CURRENT value, not the RUNTIME_CONFS default.
            try:
                child.conf.set(
                    "spark.sql.shuffle.partitions",
                    spark.conf.get("spark.sql.shuffle.partitions"),
                )
            except Exception:
                pass
            # r11 RocksDB rung: SPARK_GRAFT_STATE_PROVIDER=rocksdb routes
            # EVERY streaming key's state store through the RocksDB
            # provider (what a production 100 TB cluster runs) instead of
            # the default in-memory HDFS-backed map. Session-scoped on
            # the drain child, so batch plans never observe it; keys that
            # pin their own provider (q_stream_rocksdb, TWS) set it again
            # for their drain.
            if os.environ.get("SPARK_GRAFT_STATE_PROVIDER") == "rocksdb":
                child.conf.set(_PROVIDER_CONF, _ROCKSDB_PROVIDER)
            _STREAM_SESSIONS[spark] = child
    return child


def _restore_active_session(spark: SparkSession) -> None:
    """Re-pin the JVM thread-local active session to the caller's.

    Some drain paths leave it pointing at the child (observed:
    q_stream_listener's multi-batch listener drain — a later
    ``DataFrameWriter.save`` on the PARENT then failed
    DATA_SOURCE_NOT_FOUND because ``DataSource.lookupDataSource``
    resolves registered *Python* data sources through the ACTIVE
    session's manager, not the writer's). Py4j pins this Python thread
    to one JVM thread, so restoring here repairs exactly the thread a
    routed key may have poisoned."""
    try:
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except Exception:
        pass


def register(name: str, oracle: str | None = None):
    """Module-local registry shim: registered streaming keys run on the
    isolated drain session (their result DataFrames stay valid — the
    child shares the parent's SparkContext and cache). Always restores
    the caller's session as the JVM-active one afterwards."""

    def deco(fn):
        @functools.wraps(fn)
        def on_stream_session(spark, sf_dir, *args, **kwargs):
            try:
                return fn(stream_session(spark), sf_dir, *args, **kwargs)
            finally:
                _restore_active_session(spark)

        return _register_raw(name, oracle)(on_stream_session)

    return deco

def _events_raw_schema(kind: str) -> str:
    ts_ddl = "bigint" if kind == "bigint" else "timestamp_ntz"
    return (
        f"event_id bigint, ts {ts_ddl}, user_id bigint, "
        "event_type string, value double, props string"
    )


def _normalize_ts(df: DataFrame, kind: str) -> DataFrame:
    """Raw -> event-time ``ts``, identical to the batch loader's value.

    bigint fixtures: integer `div` (epoch-ns overflows double precision)
    to micros. Either way ``ts`` ends as TIMESTAMP (LTZ): streaming
    event-time ops (withWatermark) reject NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The NTZ->LTZ cast is
    value-preserving under the pinned UTC session; final projections cast
    back to NTZ batch-side.
    """
    if kind == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


# Streaming shuffle right-sizing (r9): a streaming query's shuffle
# partition count is fixed at query start and becomes the state-store
# partition count — AQE cannot coalesce it at runtime the way it does
# for batch. At replay scale the session's 32 partitions mean 32 state
# commits per stateful operator per micro-batch (q_stream_outer_join at
# sf0.1: 14.9s at 32 partitions, 4.7s at 8 — same rows). Each commit
# writes a delta file and its .crc, and the measured cost of a commit is
# mostly child processes, not I/O: without the native Hadoop library the
# local filesystem forks `chmod` per created file and, under Spark's
# default checkpoint manager, `readlink` 4 times per rename (see
# _CKPT_MANAGER_CONF; JFR counted 2,094 spawns per pass of perfbench's
# stream_write keys, 601 with the FileSystem manager). _drain therefore
# sizes partitions to the replay INPUT (~8 MB/partition, floor 4),
# clamped to the session value, so a 100 TB run still gets the
# submitter's full setting while a megabyte-scale replay stops paying
# hundredfold state overhead. The
# input size is noted per-thread by the events reader; the conf
# write lands on the isolated drain session only (stream_session above)
# and is restored to its entered value after, so batch plans on the
# caller's session can never observe it (VERDICT r9 item 2).
_STREAM_INPUT = threading.local()


def _copy_fixture(src: str, dst_dir: str, tag: str) -> None:
    """Copy a fixture table (file or directory of parts) into a replay
    dir as ``{tag}_<k>.parquet`` leaf files."""
    for k, part in enumerate(fixture_parts(src)):
        shutil.copy(part, f"{dst_dir}/{tag}_{k}.parquet")


def _note_stream_input(path: str) -> None:
    try:
        _STREAM_INPUT.nbytes = sum(
            os.path.getsize(p) for p in fixture_parts(path)
        )
    except OSError:
        _STREAM_INPUT.nbytes = None


def _stream_partitions(spark: SparkSession) -> str | None:
    nbytes = getattr(_STREAM_INPUT, "nbytes", None)
    if not nbytes:
        return None
    want = max(4, (int(nbytes) + (8 << 20) - 1) // (8 << 20))
    try:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None
    return str(want) if want < cur else None


_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
# Checkpoint files (offsets, commits, sink metadata, state deltas, RocksDB
# uploads) are written through CheckpointFileManager.create, which reads
# this conf. Spark's default FileContext manager renames through
# AbstractFileSystem, whose link check on the local filesystem runs
# `readlink` in a child process when no native Hadoop library is loaded:
# 4 spawns per checkpoint file (source, destination, both .crc files).
# The FileSystem manager writes the same temp file and renames it with
# FileSystem.rename (the same rename(2) locally) without the link check.
_CKPT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextlib.contextmanager
def _drain_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the drain session for one drain.

    Runs against the isolated drain session (see :func:`stream_session`),
    so the writes are invisible to batch plans on the caller's session.
    Each conf goes back to the value OBSERVED on entry — not the
    RUNTIME_CONFS default, so session-specific overrides survive a drain
    (ADVICE r9) — or is unset if it had none.
    """
    entered = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in entered.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _events_source(
    spark: SparkSession,
    sf_dir: str,
    replay: str | None,
    copies: int,
    file_per_batch: bool,
) -> tuple[DataFrame, str]:
    """The one events-shaped file-stream reader: (raw stream, ts kind).

    Reads ``replay`` (a caller-staged dir) or else the fixture itself;
    the file source needs a directory, so a single-file fixture streams
    its parent dir under a glob pinned to the one file (a glob matches
    leaf files only, so a directory table streams as itself). ``copies``
    > 1 stages that many copies into a fresh replay dir (duplicate
    delivery for the dedup keys). The drain's shuffle sizing always
    notes the fixture's bytes, never those of a staged copy.
    """
    fixture = table_path(sf_dir, "events")
    _note_stream_input(fixture)
    kind = replay_stage(spark, sf_dir).kind
    reader = spark.readStream.schema(_events_raw_schema(kind))
    if file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    if copies > 1:
        replay = work_dir("replay_")
        for i in range(copies):
            _copy_fixture(fixture, replay, f"events_{i}")
    if replay is not None:
        return reader.parquet(replay), kind
    if os.path.isdir(fixture):
        return reader.parquet(fixture), kind
    return reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir), kind


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    replay: str | None = None,
    *,
    copies: int = 1,
    file_per_batch: bool = False,
) -> DataFrame:
    """Replayable stream over the events fixture or a staged ``replay``
    dir of events-shaped files.

    ``ts`` is normalized to event time exactly like the batch loader
    (schema probed from the footer), so stream and batch see identical
    values. ``file_per_batch`` delivers one file per micro-batch
    (``maxFilesPerTrigger=1``, oldest mtime first).
    """
    raw, kind = _events_source(spark, sf_dir, replay, copies, file_per_batch)
    return _normalize_ts(raw, kind)


def raw_events_stream(
    spark: SparkSession,
    sf_dir: str,
    replay: str | None = None,
    *,
    file_per_batch: bool = False,
) -> DataFrame:
    """:func:`events_stream` with ``ts`` left in the fixture's physical
    type: a landing zone that preserves the source schema, or a key that
    never reads ``ts``."""
    return _events_source(spark, sf_dir, replay, 1, file_per_batch)[0]


# ---------------------------------------------------------------------------
# Replay staging (VERDICT r8 item 1): the multi-file replay layouts the
# streaming keys feed the file source (parity halves, residue chunks,
# late splits, far-future sentinels) are pure functions of the events
# fixture. _ReplayStage builds each layout ONCE per fixture vintage with
# pyarrow (no Spark jobs) and probes the vintage's ts kind; a key picks
# its split files, copies them into a PRIVATE replay dir with
# _stage_replay_dir (so source/checkpoint isolation between keys holds)
# and reads that dir through events_stream, the one reader. Row values
# are identical by construction: the splits partition the same fixture
# rows, and the reader applies the same explicit schema to every file
# (the dedup keys already stream copies of the fixture itself, so
# pyarrow-written parquet of the same rows is an equivalence relied on).
# ---------------------------------------------------------------------------


class _ReplayStage:
    """Staged replay artifacts for one events-fixture vintage."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self.fixture = table_path(sf_dir, "events")
        # 'bigint' (legacy TIMESTAMP(NANOS) fixtures, readable only as raw
        # longs under nanosAsLong) or 'timestamp' (µs, read as NTZ).
        ensure_session_confs(spark)
        dt = dict(spark.read.parquet(self.fixture).dtypes)["ts"]
        self.kind = "bigint" if dt == "bigint" else "timestamp"
        self._dir = work_dir("stage_")
        self._lock = threading.Lock()
        self._splits: dict[str, list[str]] = {}
        self._scalars: dict[str, object] = {}

    # -- pyarrow schema helpers -------------------------------------------
    def _pa_ts_type(self):
        import pyarrow as pa

        # bigint vintages carry raw epoch-ns longs (read by Spark via
        # nanosAsLong); µs vintages are naive timestamp[us] == Spark's
        # timestamp_ntz under the explicit read schema.
        return pa.int64() if self.kind == "bigint" else pa.timestamp("us")

    def write_events_rows(self, path: str, rows: list[tuple]) -> None:
        """Write sentinel rows as a parquet file the replay schema reads
        identically to a Spark-written one — no Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        event_id, ts, user_id, event_type, value, props = zip(*rows)
        table = pa.table(
            {
                "event_id": pa.array(event_id, pa.int64()),
                "ts": pa.array(ts, self._pa_ts_type()),
                "user_id": pa.array(user_id, pa.int64()),
                "event_type": pa.array(event_type, pa.string()),
                "value": pa.array(value, pa.float64()),
                "props": pa.array(props, pa.string()),
            }
        )
        pq.write_table(table, path)

    # -- scalars (were per-key collect() actions) -------------------------
    def max_raw(self):
        """max(ts) in RAW fixture units (ns int for bigint vintages, naive
        datetime for µs) — replaces the per-key agg(max).collect() probe."""
        with self._lock:
            if "max_raw" not in self._scalars:
                import pyarrow as pa
                import pyarrow.compute as pc
                import pyarrow.parquet as pq

                # read_table handles file AND directory fixtures alike.
                col = pq.read_table(self.fixture, columns=["ts"]).column("ts")
                if self.kind == "bigint":
                    self._scalars["max_raw"] = pc.max(col.cast(pa.int64())).as_py()
                else:
                    mx = pc.max(col.cast(pa.timestamp("us"))).as_py()
                    self._scalars["max_raw"] = mx.replace(tzinfo=None)
            return self._scalars["max_raw"]

    def plus_hours(self, h: int):
        """max(ts) shifted by ``h`` hours, in raw fixture units."""
        if self.kind == "bigint":
            return self.max_raw() + h * 3600 * 10**9
        import datetime

        return self.max_raw() + datetime.timedelta(hours=h)

    def single_file(self) -> str:
        """The fixture as ONE parquet file.

        Delivery-unit control: a key that replays the raw fixture with
        ``maxFilesPerTrigger=1`` (q_stream_outer_join) needs the whole
        corpus to land in a single micro-batch — with a directory-shaped
        table (the r10 multi-file rung; every real cluster layout) the
        parts interleave the time range, so part 2+ rows would arrive
        behind the watermark part 1 advanced and be dropped as late,
        changing the answer for layout (not data) reasons. The driver's
        single-file fixture returns as-is; a directory merges ONCE per
        vintage into a staged file (pyarrow, no Spark job).
        """
        if not os.path.isdir(self.fixture):
            return self.fixture
        with self._lock:
            path = self._scalars.get("single_file")
            if path is None:
                import pyarrow.parquet as pq

                path = f"{self._dir}/fixture_single.parquet"
                # version='2.6' keeps TIMESTAMP(NANOS) physical for
                # nanos-vintage fixtures (older writer defaults coerce
                # to micros, silently changing the staged vintage —
                # same pin as gen_nanos_fixture.py; ADVICE r10 low).
                pq.write_table(
                    pq.read_table(self.fixture), path, version="2.6"
                )
                self._scalars["single_file"] = path
            return path

    def n_users(self) -> int:
        with self._lock:
            if "n_users" not in self._scalars:
                import pyarrow.compute as pc
                import pyarrow.parquet as pq

                col = pq.read_table(
                    self.fixture, columns=["user_id"]
                ).column("user_id")
                self._scalars["n_users"] = pc.count_distinct(col).as_py()
            return self._scalars["n_users"]

    # -- file splits (were per-key filter+coalesce(1) write jobs) ---------
    def splits(self, klass: str) -> list[str]:
        """Staged single-file parquet splits of the fixture.

        eid2/eid4: event_id % 2/4 residues (restart, evolve, idempotent,
        dim-refresh, listener, out-of-order, and the multi-batch chunk
        consumers — results there are split-invariant final states).
        uid2: user_id % 2 (stateful-timeout). late3: the late-drop
        bulk/mid/late trio, with the exact predicates the key always
        used (its RESULT depends on which rows are late)."""
        with self._lock:
            files = self._splits.get(klass)
            if files is None:
                files = self._build_split(klass)
                self._splits[klass] = files
            return files

    def _build_split(self, klass: str) -> list[str]:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(self.fixture)
        eid = t.column("event_id").to_numpy()
        if klass in ("eid2", "eid4"):
            m = 2 if klass == "eid2" else 4
            masks = [(eid % m) == k for k in range(m)]
        elif klass == "uid2":
            uid = t.column("user_id").to_numpy()
            masks = [(uid % 2) == k for k in range(2)]
        elif klass == "late3":
            ts = t.column("ts").cast(pa.int64()).to_numpy()
            hour = 3600 * (10**9 if self.kind == "bigint" else 10**6)
            mx = int(ts.max())
            late = ((eid % 50) == 0) & (ts < mx - 2 * hour)
            mid = ((eid % 50) == 1) & (ts < mx - hour)
            masks = [~late & ~mid, mid, late]
        else:  # pragma: no cover - caller bug
            raise ValueError(f"unknown split class {klass!r}")
        files = []
        for k, mask in enumerate(masks):
            part = t.filter(pa.array(mask))
            if part.num_rows == 0:
                raise RuntimeError(
                    f"replay split {klass}[{k}] is empty for {self.fixture}"
                )
            path = f"{self._dir}/{klass}_{k}.parquet"
            pq.write_table(part, path)
            files.append(path)
        return files


def replay_stage(spark: SparkSession, sf_dir: str) -> _ReplayStage:
    """The staged-artifact registry for ``sf_dir``'s current fixture
    vintage (keyed by ``fixture_cache_key``: an in-place regeneration
    gets a fresh stage, never stale files or a stale ts kind)."""
    key = ("replay_stage", fixture_cache_key(table_path(sf_dir, "events")))
    return staged(key, lambda: _ReplayStage(spark, sf_dir))


def _stage_replay_dir(work: str, entries: list[tuple[str, str]]) -> str:
    """Copy ``(src, name)`` entries into ``work``/replay with strictly
    increasing mtimes and return the dir: the file source consumes the
    oldest file first."""
    replay = f"{work}/replay"
    os.makedirs(replay, exist_ok=True)
    now = time.time()
    for i, (src, name) in enumerate(entries):
        shutil.copy(src, f"{replay}/{name}")
        mt = now - 30 * (len(entries) - 1 - i)
        os.utime(f"{replay}/{name}", (mt, mt))
    return replay


class _LastDrain(threading.local):
    """The calling thread's last drain: ``record`` is None or
    ``{"setup_sec", "drain_sec", "query_id"}``, written in one assignment
    by :func:`_drain`. Setup is ``start()``'s wall, drain the wait's; a
    streamed key's wall conflates the two, so ``bench.py`` reports them
    as additive detail. Per thread, so concurrent drains (the bench's
    thread pool) never mix one call's setup with another's drain."""

    record: dict | None = None


LAST_DRAIN = _LastDrain()


def _drain(
    writer: DataStreamWriter,
    spark: SparkSession,
    *,
    available_now: bool = False,
    until_rows: int | None = None,
    rocksdb: bool = False,
) -> None:
    """Start ``writer``'s query on the drain session, wait, stop it.

    The one place a stream query in this module starts, waits and
    stops. The conf scope sizes the shuffle to the replay input, writes
    checkpoint files through the FileSystem manager unless the session
    names its own and, with ``rocksdb``, routes state through the RocksDB
    provider. Three waits:
    ``processAllAvailable()`` by default; ``awaitTermination()`` under an
    ``availableNow`` trigger (set here); or, with ``until_rows``, a bounded
    poll until the memory sink holds that many rows — for sources that
    never quiesce (an unbounded rate source, processing-time timeouts).
    """
    confs = {}
    parts = _stream_partitions(spark)
    if parts is not None:
        confs["spark.sql.shuffle.partitions"] = parts
    if spark.conf.get(_CKPT_MANAGER_CONF, None) is None:
        confs[_CKPT_MANAGER_CONF] = _FS_CKPT_MANAGER
    if rocksdb:
        confs[_PROVIDER_CONF] = _ROCKSDB_PROVIDER
    if available_now:
        writer = writer.trigger(availableNow=True)
    t0 = time.monotonic()
    with _drain_confs(spark, confs):
        q = writer.start()
        t1 = time.monotonic()
        try:
            if available_now:
                q.awaitTermination()
            elif until_rows is None:
                q.processAllAvailable()
            else:
                deadline = t1 + 180
                while (n := spark.table(q.name).count()) < until_rows:
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"stream stalled: {n}/{until_rows} rows in sink"
                        )
                    time.sleep(0.2)
            t2 = time.monotonic()
        finally:
            q.stop()
    LAST_DRAIN.record = {
        "setup_sec": round(t1 - t0, 4),
        "drain_sec": round(t2 - t1, 4),
        "query_id": str(q.id),
    }


def run_to_parquet(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Drain an append-mode streaming DataFrame into a parquet sink and
    return the written table. For result sets that scale with the DATA
    (the stream-stream joins: a hot user × 1h interval is ~36M matched
    pairs on the skewed-sf1 tier) the memory sink is the wrong tool — it
    materializes every row on the driver, then the consumer collects a
    second copy. The parquet sink writes distributed and the read-back
    scans like any other table; this is also the only sink shape that
    exists at 100 TB."""
    work = work_dir("sink_")
    _drain(
        df.writeStream.format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/ckpt")
        .outputMode("append"),
        spark,
    )
    # Explicit schema: a zero-row drain leaves only _spark_metadata and
    # schema inference would fail; the streaming DF's schema is the
    # sink's schema by construction (ADVICE r7).
    return spark.read.schema(df.schema).parquet(f"{work}/out")


def run_to_memory(
    df: DataFrame,
    output_mode: str,
    *,
    checkpoint: str | None = None,
    available_now: bool = False,
    until_rows: int | None = None,
    rocksdb: bool = False,
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink; return final state.

    ``checkpoint`` pins the query's checkpoint dir (state inspection,
    restarts); the other keywords pass through to :func:`_drain`. The
    sink view is dropped even when the drain fails.
    """
    name = f"sink_{uuid.uuid4().hex[:12]}"
    spark = df.sparkSession
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    try:
        _drain(
            writer,
            spark,
            available_now=available_now,
            until_rows=until_rows,
            rocksdb=rocksdb,
        )
        # The resolved DataFrame keeps the sink's rows; the view would
        # pin them on the session for as long as the session lives.
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


# ---------------------------------------------------------------------------
# q_events_tumbling — streaming tumbling 1h window aggregate (complete
# mode; final state == batch GROUP BY date_trunc hour).
# ---------------------------------------------------------------------------

_TUMBLING_ORACLE = f"""
SELECT
  date_trunc('hour', ts)  AS hour_start,
  event_type,
  count(*)                AS n,
  round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100, 2) AS total_value
FROM events
GROUP BY 1, 2
"""


@register("q_events_tumbling", oracle=_TUMBLING_ORACLE)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money.cents_floor("value")).alias("value_cents"),
    )
    final = run_to_memory(agg, "complete")
    return final.select(
        F.col("window.start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n",
        F.round(F.col("value_cents") / 100, 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q_events_sliding — sliding windows (1h size, 30m slide): every event
# lands in exactly 2 epoch-aligned windows. Same window() expression is
# batch/streaming-identical; run batch for the strongest oracle check.
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = f"""
SELECT ws AS window_start, event_type, count(*) AS n,
       round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100, 2) AS total_value
FROM (
  SELECT
    make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - k * 1800000000) AS ws,
    event_type,
    value
  FROM events
  CROSS JOIN (SELECT unnest([0, 1]) AS k) offsets
)
GROUP BY ws, event_type
"""


@register("q_events_sliding", oracle=_SLIDING_ORACLE)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money.money_sum(money.cents_floor("value")).alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q_events_session — session windows, 30-minute gap, per user.
# Spark merges an event into a session iff ts < session_end (= last ts +
# gap); the oracle's lag-and-cumulative-flag sessionization uses >= gap as
# the break condition — the exact same boundary rule.
# ---------------------------------------------------------------------------

_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT
  user_id,
  min(ts)              AS session_start,
  max(ts)              AS session_end,
  count(*)             AS n_events,
  round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100, 2) AS total_value
FROM sess
GROUP BY user_id, sess_id
"""


@register("q_events_session", oracle=_SESSION_ORACLE)
def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            money.money_sum(money.cents_floor("value")).alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# q_stream_dedup — streaming dropDuplicates over a doubled replay: the
# source directory holds TWO copies of events.parquet; exactly-once output
# must equal a single copy.
# ---------------------------------------------------------------------------

_STREAM_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type, round(value, 2) AS value
FROM events
"""


@register("q_stream_dedup", oracle=_STREAM_DEDUP_ORACLE)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, copies=2)
    deduped = ev.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type", F.round(F.col("value"), 2).alias("value")
    )
    return run_to_memory(deduped, "append")


# ---------------------------------------------------------------------------
# q_stream_stateful — custom stateful operator via applyInPandasWithState:
# per-user running counters. The replay is a single file → single
# micro-batch → the emitted update per user is the final total, which the
# batch GROUP BY oracle checks exactly.
# ---------------------------------------------------------------------------

_STATEFUL_ORACLE = f"""
SELECT user_id, count(*) AS n_events,
       round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100, 2) AS total_value
FROM events
GROUP BY user_id
"""


@register("q_stream_stateful", oracle=_STATEFUL_ORACLE)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select("user_id", "value")

    def update_counters(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        from data_ingestion_service_spark.chaos import maybe_fail

        # Retry-determinism rung (r11): failed attempts must not have
        # committed state — a retried update starts from the last
        # committed value, so the final state is attempt-count-invariant.
        maybe_fail("stateful_update")
        # State accumulates integer cents (r10 float-sum audit): a double
        # running total would depend on micro-batch/row order.
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(
                np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    updated = ev.groupBy("user_id").applyInPandasWithState(
        update_counters,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    final = run_to_memory(updated, "update")
    return final.select(
        "user_id", "n_events", F.round(F.col("total_value"), 2).alias("total_value")
    )


# ---------------------------------------------------------------------------
# q_stream_dedup_watermark — dropDuplicatesWithinWatermark: the bounded-
# state production variant of stream dedup (state for a key is evictable
# once the watermark passes it; unbounded dropDuplicates would grow
# forever on an infinite stream). The in-order doubled replay still
# dedups to exactly one copy, so the batch oracle is exact.
# ---------------------------------------------------------------------------

_STREAM_DEDUP_WM_ORACLE = """
SELECT event_id, user_id, event_type
FROM events
"""


@register("q_stream_dedup_watermark", oracle=_STREAM_DEDUP_WM_ORACLE)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir, copies=2)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(deduped, "append")


# ---------------------------------------------------------------------------
# q_stream_foreach_batch — foreachBatch sink: per-micro-batch custom
# logic using the full batch API (the escape hatch for sinks Spark lacks
# natively — JDBC upserts, external indexes, multi-sink fan-out). Here
# each batch appends to parquet; result re-read batch-side.
# ---------------------------------------------------------------------------

_FOREACH_BATCH_ORACLE = f"""
SELECT event_type, count(*) AS n,
       round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100 / count(*), 4) AS avg_value
FROM events
WHERE value >= 250
GROUP BY event_type
"""


@register("q_stream_foreach_batch", oracle=_FOREACH_BATCH_ORACLE)
def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    out = work_dir("feb_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.filter(F.col("value") >= 250)
            .select("event_id", "event_type", "value")
            .write.mode("append")
            .parquet(f"{out}/data")
        )

    _drain(
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{out}/checkpoint"),
        spark,
    )
    back = spark.read.parquet(f"{out}/data")
    # Exact-cents avg (r10 float-sum audit): sum cents, divide once.
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(money.cents_floor("value")).cast("double")
            / 100
            / F.count(F.lit(1)),
            4,
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# q_stream_sliding — the sliding-window aggregate actually run as a
# stream (complete mode): same window('1 hour','30 minutes') expression
# as the batch variant, so the drained final state equals the same
# oracle. Demonstrates batch/stream unification on one plan.
# ---------------------------------------------------------------------------


@register("q_stream_sliding", oracle=_SLIDING_ORACLE)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money.cents_floor("value")).alias("value_cents"),
    )
    final = run_to_memory(agg, "complete")
    return final.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
        F.round(F.col("value_cents") / 100, 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q_stream_topk — complete-mode streaming top-k: most active users by
# event count (sorting is only legal in complete mode — the final ranking
# over total state is exactly the batch answer).
# ---------------------------------------------------------------------------

_STREAM_TOPK_ORACLE = """
SELECT user_id, n
FROM (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
)
ORDER BY n DESC, user_id
LIMIT 5
"""


@register("q_stream_topk", oracle=_STREAM_TOPK_ORACLE)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(5)
    )
    return run_to_memory(top, "complete")


# ---------------------------------------------------------------------------
# q_stream_watermark — watermarked tumbling aggregate (update mode).
# Watermark semantics (late-data drop) can't be SQL-oracled: the in-order
# finite replay never produces late rows, so this is registered rows-only
# (◐) as the watermark plumbing demo; state-bounding is the production
# point.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# q_stream_static_join — stream-static enrichment join: the event stream
# joins the customer dimension (classic ingestion enrichment). The static
# side is re-read per micro-batch; Catalyst broadcasts it. Final state ==
# batch join + GROUP BY.
# ---------------------------------------------------------------------------

_STREAM_STATIC_ORACLE = """
SELECT c.c_mktsegment, e.event_type, count(*) AS n,
       round(CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


@register("q_stream_static_join", oracle=_STREAM_STATIC_ORACLE)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money.cents_floor("value")).alias("value_cents"),
    )
    final = run_to_memory(agg, "complete")
    return final.select(
        "c_mktsegment",
        "event_type",
        "n",
        F.round(F.col("value_cents") / 100, 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q_stream_to_parquet — streaming parquet sink with checkpointing: filter
# the stream, append to a parquet directory (exactly-once via the commit
# log), then read the sink back as a batch table.
# ---------------------------------------------------------------------------

_STREAM_TO_PARQUET_ORACLE = f"""
SELECT event_type, count(*) AS n,
       round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100, 2) AS total_value
FROM events
WHERE event_type IN ('purchase', 'signup')
GROUP BY event_type
"""


@register("q_stream_to_parquet", oracle=_STREAM_TO_PARQUET_ORACLE)
def q_stream_to_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    filtered = ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id", "event_type", "value"
    )
    out = work_dir("stream_sink_")
    _drain(
        filtered.writeStream.format("parquet")
        .option("path", f"{out}/data")
        .option("checkpointLocation", f"{out}/checkpoint")
        .outputMode("append"),
        spark,
    )
    back = spark.read.parquet(f"{out}/data")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money.money_sum(money.cents_floor("value")).alias("total_value"),
    )


# Batch-equivalent final-state oracle: once the replay drains, every
# window's latest update equals the batch GROUP BY over the same data
# (the watermark only bounds state retention; no rows are late in a
# replay). Counts per window are monotonic across updates, so max(n)
# per window selects each window's final state even if the file source
# splits the replay into multiple micro-batches.
_STREAM_WATERMARK_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n
FROM events
GROUP BY 1
"""


@register("q_stream_watermark", oracle=_STREAM_WATERMARK_ORACLE)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    final = run_to_memory(agg, "update")
    return (
        final.groupBy(F.col("window.start").cast("timestamp_ntz").alias("hour_start"))
        .agg(F.max("n").alias("n"))
    )


# ---------------------------------------------------------------------------
# q_stream_session_window — session_window aggregation actually run as a
# stream. Spark only supports APPEND mode for streaming session windows:
# a session is emitted once the event-time watermark passes its end
# (last ts + gap). The watermark is global, so a single far-future
# sentinel event (dummy user -1) staged alongside the replay closes every
# real session; the sentinel's own still-open session is filtered out of
# the drained result. Final state then equals the batch sessionization
# the oracle runs (same 30-minute-gap boundary rule as q_events_session).
# ---------------------------------------------------------------------------

_STREAM_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT
  user_id,
  min(ts)              AS session_start,
  count(*)             AS n_events,
  round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100, 2) AS total_value
FROM sess
GROUP BY user_id, sess_id
"""


@register("q_stream_session_window", oracle=_STREAM_SESSION_ORACLE)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = replay_stage(spark, sf_dir)
    src = work_dir("sess_replay_")
    _copy_fixture(table_path(sf_dir, "events"), src, "events")
    # Sentinel 2h past the corpus max: watermark (max - 10min) then clears
    # every real session's end (last ts + 30min gap). Sentinel row carries
    # the same raw ts type as the fixture so both files stream uniformly;
    # staged max(ts) + pyarrow write replace two per-call Spark jobs.
    stage.write_events_rows(
        f"{src}/z_sentinel.parquet",
        [(-1, stage.plus_hours(2), -1, "sentinel", 0.0, "{}")],
    )
    ev = events_stream(spark, sf_dir, src)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.min("ts").alias("session_start_ltz"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money.cents_floor("value")).alias("value_cents"),
        )
    )
    final = run_to_memory(agg, "append")
    return final.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.col("session_start_ltz").cast("timestamp_ntz").alias("session_start"),
        "n_events",
        F.round(F.col("value_cents") / 100, 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q_stream_ivm_merge — incremental view maintenance: the stream is split
# into four files replayed one per micro-batch (maxFilesPerTrigger=1);
# each foreachBatch invocation computes the batch's partial aggregate and
# MERGEs it into a versioned parquet snapshot keyed by (hour, event_type)
# — the upsert composite a warehouse sink (JDBC/Delta MERGE) would run.
# Counts and integer-cent sums re-aggregate exactly, so the final
# snapshot is invariant to how rows were split across batches and equals
# the one-shot batch aggregate the oracle runs.
# ---------------------------------------------------------------------------

_STREAM_IVM_ORACLE = """
SELECT
  date_trunc('hour', ts)                        AS hour_start,
  event_type,
  count(*)                                      AS n,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2
"""


@register("q_stream_ivm_merge", oracle=_STREAM_IVM_ORACLE)
def q_stream_ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("ivm_")
    # Four staged event_id-residue chunk files so the file source yields
    # four micro-batches — the multi-batch path is the point of the test,
    # and the MERGE result is split-invariant by construction.
    chunks = replay_stage(spark, sf_dir).splits("eid4")
    replay = _stage_replay_dir(
        work, [(p, f"chunk_{i}.parquet") for i, p in enumerate(chunks)]
    )
    ev = events_stream(spark, sf_dir, replay, file_per_batch=True)
    snap_state = {"version": -1}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money.cents("value")).alias("value_cents"),
        )
        sess = batch_df.sparkSession
        if snap_state["version"] >= 0:
            prev = sess.read.parquet(f"{work}/snap_v{snap_state['version']}")
            merged = (
                prev.unionByName(partial)
                .groupBy("hour_start", "event_type")
                .agg(F.sum("n").alias("n"), F.sum("value_cents").alias("value_cents"))
            )
        else:
            merged = partial
        merged.write.mode("overwrite").parquet(f"{work}/snap_v{batch_id}")
        snap_state["version"] = batch_id

    _drain(
        ev.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", f"{work}/checkpoint"),
        spark,
    )
    final = spark.read.parquet(f"{work}/snap_v{snap_state['version']}")
    return final.select(
        F.col("hour_start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n",
        "value_cents",
    )


# ---------------------------------------------------------------------------
# q_stream_rocksdb — the 100 TB state-store posture actually exercised:
# the same watermarked tumbling aggregate, but (a) the replay is split
# into four files consumed one per micro-batch, (b) the state lives in
# the RocksDB state store (off-heap, incremental-checkpoint — the
# provider a large cluster runs, vs the default in-memory HDFS-backed
# map), and (c) the query runs with trigger(availableNow) — the bounded
# "drain everything then stop" replay used for backfills. Complete-mode
# final state equals the batch aggregate regardless of the 4-way split.
# ---------------------------------------------------------------------------

_ROCKSDB_ORACLE = """
SELECT
  date_trunc('hour', ts) AS hour_start,
  event_type,
  count(*)               AS n,
  round(max(value), 2)   AS max_value
FROM events
GROUP BY 1, 2
"""


@register("q_stream_rocksdb", oracle=_ROCKSDB_ORACLE)
def q_stream_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("rocksdb_")
    # Staged residue chunks: multi-batch state-store exercise; the
    # complete-mode final aggregate is split-invariant.
    chunks = replay_stage(spark, sf_dir).splits("eid4")
    replay = _stage_replay_dir(
        work, [(p, f"chunk_{i}.parquet") for i, p in enumerate(chunks)]
    )
    ev = events_stream(spark, sf_dir, replay, file_per_batch=True)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("max_val"))
    )
    final = run_to_memory(
        agg,
        "complete",
        checkpoint=f"{work}/checkpoint",
        available_now=True,
        rocksdb=True,
    )
    return final.select(
        F.col("window.start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n",
        F.round(F.col("max_val"), 2).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# q_stream_stream_join — stream-stream interval join: the signup stream
# inner-joins the purchase stream per user where the purchase lands
# within 1 hour of the signup. Both sides carry watermarks and the join
# condition is time-bounded — the two requirements that let Spark expire
# buffered state instead of holding both streams forever. Inner-join
# matches emit as soon as both rows have arrived, so the drained result
# of the finite replay equals the batch interval self-join the oracle
# runs.
#
# Skew guard (round 7, found by the full-registry skewed-sf1 run): with
# user_id as the ONLY equality key, a hot user owning 80% of events
# degenerates the per-key state probe to |signups_u| × |purchases_u| —
# ~2.6e10 row-pair evaluations in ONE partition at the skewed tier (the
# run sat on this key for 25+ minutes). The fix is the standard bucketed
# interval join: an hour-bucket joins as a SECOND equality key. A
# purchase can only match signups whose bucket is its own or the one
# before (the interval is exactly 1 hour), so the purchase side explodes
# to those two bucket keys — each true pair matches in EXACTLY one copy
# (hb(s) is either hb(p) or hb(p)-1, never both), so no dedup is needed
# and outer semantics stay exact. State lists shrink from per-user to
# per-(user, hour): the hot user's probe work drops by the number of
# active hours (~720× here), and the plan survives any single-key skew
# whose events spread over time.
# ---------------------------------------------------------------------------


def _hour_bucket(ts_col: str):
    return F.floor(F.unix_timestamp(ts_col) / 3600).cast("long")

# The oracle carries the SAME hour-bucket equi-key as the Spark plan
# (p exploded to its two candidate buckets; each true pair matches in
# exactly one copy — provably identical result): without it DuckDB's
# hash join probes every (signup, purchase) pair of the hot user on the
# skewed tier, the exact quadratic blow-up the bucket key exists to kill.
_STREAM_STREAM_ORACLE = """
SELECT s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts
FROM (SELECT user_id, ts, floor(epoch(ts) / 3600) AS hb
      FROM events WHERE event_type = 'signup') s
JOIN (SELECT user_id, ts, unnest([floor(epoch(ts) / 3600),
                                  floor(epoch(ts) / 3600) - 1]) AS hb
      FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id
 AND s.hb = p.hb
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
"""


@register("q_stream_stream_join", oracle=_STREAM_STREAM_ORACLE)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    signups = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"))
        .withColumn("s_hb", _hour_bucket("s_ts"))
        .withWatermark("s_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withColumn(
            "p_hb",
            F.explode(
                F.array(_hour_bucket("p_ts"), _hour_bucket("p_ts") - 1)
            ),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = signups.join(
        purchases,
        F.expr(
            "s_user = p_user AND s_hb = p_hb"
            " AND p_ts >= s_ts AND p_ts <= s_ts + interval 1 hour"
        ),
    )
    final = run_to_parquet(joined, spark)
    return final.select(
        F.col("s_user").alias("user_id"),
        F.col("s_ts").cast("timestamp_ntz").alias("signup_ts"),
        F.col("p_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )


# ---------------------------------------------------------------------------
# q_stream_late_drop — the watermark contract made OBSERVABLE: the replay
# is deliberately out-of-order. Micro-batch 1 carries the bulk of the
# on-time rows including the corpus max; micro-batch 2 a small on-time
# subset; micro-batch 3 then delivers a deterministic "late" subset
# (event_id%50==0 with ts < max−2h) whose 1-hour windows all ended hours
# below the watermark — Structured Streaming must DROP every one of
# them. Three batches because watermark advancement lags the data that
# produced it: Spark documents a one-batch lag (batch N runs under the
# watermark derived from data through batch N−1), and this build was
# measured to need the extra middle batch before the bulk file's
# watermark reliably took effect. With three files the late rows arrive
# in batch 3, where the bulk watermark is active under EITHER the
# documented one-batch lag or the measured slower propagation — the
# design does not depend on which one this Spark version exhibits. The
# oracle aggregates events EXCLUDING exactly the late subset, so the
# result differs (and the driver's hash check fails) if late rows were
# let back in. Complements q_stream_watermark, whose in-order replay
# asserts the drop only by construction.
# ---------------------------------------------------------------------------

_LATE_DROP_ORACLE = """
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n
FROM events, mx
WHERE NOT (event_id % 50 = 0 AND ts < mx.m - INTERVAL 2 HOUR)
GROUP BY 1
"""


@register("q_stream_late_drop", oracle=_LATE_DROP_ORACLE)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("late_")
    # bulk / mid / late trio staged once per fixture vintage (late =
    # event_id%50==0 AND ts < max-2h; mid = %50==1 AND ts < max-1h; the
    # bulk file keeps the global max so its watermark covers the late
    # rows). Three replay files with explicit mtimes: the file source
    # (maxFilesPerTrigger=1, latestFirst=false) consumes oldest-first.
    bulk, mid, late = replay_stage(spark, sf_dir).splits("late3")
    replay = _stage_replay_dir(
        work,
        [(bulk, "a_bulk.parquet"), (mid, "b_mid.parquet"), (late, "c_late.parquet")],
    )
    ev = events_stream(spark, sf_dir, replay, file_per_batch=True)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    final = run_to_memory(agg, "update")
    # max(n) per window selects each window's final update; if a late row
    # had been aggregated, its window's count would exceed the oracle's.
    return final.groupBy(
        F.col("window.start").cast("timestamp_ntz").alias("hour_start")
    ).agg(F.max("n").alias("n"))


# ---------------------------------------------------------------------------
# q_stream_rate_source — trigger-cadence micro-batching on a generator
# source (no file replay): the deterministic `rate-micro-batch` source
# emits exactly rowsPerBatch consecutive integers per trigger, the
# windowed-by-value aggregate drains to a memory sink, and the query is
# stopped once the deterministic prefix [0, 2000) has arrived. The
# result over that prefix is independent of when the stop lands, so the
# DuckDB range() oracle checks it exactly. This exercises the micro-
# batch scheduler in its production mode — an unbounded source paced by
# triggers — rather than the drain-a-directory mode of the replay keys.
# ---------------------------------------------------------------------------

_RATE_TARGET = 2000

_RATE_ORACLE = f"""
SELECT v % 10 AS bucket, count(*) AS n, CAST(sum(v) AS BIGINT) AS total
FROM range({_RATE_TARGET}) t(v)
GROUP BY 1
"""


@register("q_stream_rate_source", oracle=_RATE_ORACLE)
def q_stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 500)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    # Unbounded source: drain until the deterministic prefix is in the
    # sink (4+ triggers), then stop.
    sink = run_to_memory(src.select("value"), "append", until_rows=_RATE_TARGET)
    rows = sink.filter(F.col("value") < _RATE_TARGET)
    return rows.groupBy((F.col("value") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").cast("bigint").alias("total"),
    )


# ---------------------------------------------------------------------------
# q_stream_state_inspect — read a streaming aggregation's STATE STORE
# back as a batch DataFrame (Spark 4 `statestore` reader): the
# operational surface for debugging/auditing live streaming state. The
# inspected state must equal the batch aggregate over the drained
# replay, which is exactly what the oracle checks. At 100 TB this reads
# RocksDB state files per shuffle partition in parallel — the only way
# to audit a live pipeline's state without stopping it.
# ---------------------------------------------------------------------------

_STATE_INSPECT_ORACLE = f"""
SELECT event_type, count(*) AS n,
       round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100, 2) AS total_value
FROM events
GROUP BY event_type
"""


@register("q_stream_state_inspect", oracle=_STATE_INSPECT_ORACLE)
def q_stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    # The inspected state itself holds integer cents (r10 float-sum audit).
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(money.cents_floor("value")).alias("sv")
    )
    out = work_dir("state_inspect_")
    run_to_memory(agg, "complete", checkpoint=out)
    # Not the sink: the OPERATOR STATE itself, keyed by group, one
    # struct per (key, partition).
    state = spark.read.format("statestore").load(out)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.round(F.col("value.sum") / 100, 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# src_python_stream_source — the Spark 4 Python DataSource API's
# STREAMING surface (SimpleDataSourceStreamReader): offset management,
# micro-batch planning, and replay-between-offsets all implemented in
# Python — the extensibility path for ingesting from a system with no
# native connector. The generator is deterministic (48 rows, 16 per
# micro-batch), so the DuckDB oracle reproduces the drained result from
# range(). processAllAvailable() terminates because the reader reports
# an unchanged offset once exhausted.
# ---------------------------------------------------------------------------

_PY_STREAM_ROWS = 48
_PY_STREAM_BATCH = 16

_PY_STREAM_ORACLE = f"""
SELECT i % 4 AS bucket, count(*) AS n, CAST(sum(i * 7) AS BIGINT) AS total
FROM (SELECT unnest(range(0, {_PY_STREAM_ROWS})) AS i)
GROUP BY 1
"""


def _make_counter_stream_source():
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    n_rows, per_batch = _PY_STREAM_ROWS, _PY_STREAM_BATCH

    class _Reader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            end = min(i + per_batch, n_rows)
            return iter([(j, j % 4, j * 7) for j in range(i, end)]), {"i": end}

        def readBetweenOffsets(self, start, end):
            return iter([(j, j % 4, j * 7) for j in range(start["i"], end["i"])])

    class CounterStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "counter_stream"

        def schema(self):
            return "i bigint, bucket bigint, val bigint"

        def simpleStreamReader(self, schema):
            return _Reader()

    return CounterStreamSource


@register("src_python_stream_source", oracle=_PY_STREAM_ORACLE)
def src_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.dataSource.register(_make_counter_stream_source())
    stream = spark.readStream.format("counter_stream").load()
    agg = stream.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("total")
    )
    final = run_to_memory(agg, "complete")
    return final.select("bucket", "n", F.col("total").cast("bigint").alias("total"))


# ---------------------------------------------------------------------------
# q_stream_restart_exactly_once — checkpoint recovery across a process-
# style restart: drain half the data, STOP the query, add the second
# half, restart a NEW query object on the SAME checkpoint + sink, drain,
# and read the sink. Exactly-once file-sink semantics (offset log +
# commit-manifest) mean the result equals one batch pass over all the
# data — no duplicated first half, no lost second half. This is the
# core reliability contract an ingestion service restarts depend on; at
# 100 TB the same checkpoint protocol rides on a durable object store.
# ---------------------------------------------------------------------------

_RESTART_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
"""


@register("q_stream_restart_exactly_once", oracle=_RESTART_ORACLE)
def q_stream_restart_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("restart_")
    # Two staged halves by event_id parity, delivered as separate replay
    # files (second lands only after the planned "crash").
    h1, h2 = replay_stage(spark, sf_dir).splits("eid2")
    replay = _stage_replay_dir(work, [(h1, "a_half.parquet")])

    def run_pass() -> None:
        ev = events_stream(spark, sf_dir, replay)
        proj = ev.select(
            "event_id",
            "event_type",
            money.cents("value").alias("value_cents"),
        )
        _drain(
            proj.writeStream.format("parquet")
            .option("path", f"{work}/sink")
            .option("checkpointLocation", f"{work}/checkpoint")
            .outputMode("append"),
            spark,
        )

    run_pass()  # first half drains, query stops (planned "crash" point)
    shutil.copy(h2, f"{replay}/b_half.parquet")
    run_pass()  # fresh query, same checkpoint: resumes after half one
    sink = spark.read.parquet(f"{work}/sink")
    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_cents").cast("bigint").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# q_stream_state_evolution — what happens to a checkpoint when the QUERY
# evolves: phase 1 drains half the data with a count-only aggregate,
# stops; phase 2 restarts the SAME checkpoint with an ADDED aggregation
# column (sum). Observed behavior (pinned into the hashed result):
# Spark REFUSES — STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE — because the
# evolved value schema (count, sum) cannot be reconciled with the
# checkpointed (count) state rows. That refusal is the safe semantics
# (silently mis-decoding state would corrupt totals; the conf escape
# hatch spark.sql.streaming.stateStore.stateSchemaCheck=false trades
# exactly that safety away). The production remediation is also run:
# the evolved query starts on a FRESH checkpoint and — the source being
# replayable — rebuilds state from the full history. The result carries
# phase-1 counts, the refusal flag, and the rebuilt totals, so the
# oracle hash-checks all three observed facts.
# ---------------------------------------------------------------------------

_STATE_EVOLUTION_ORACLE = """
SELECT e.event_type,
       CAST(sum(CASE WHEN e.event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_first_half,
       TRUE AS evolution_refused,
       count(*) AS n_total,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents_total
FROM events e
GROUP BY e.event_type
"""


@register("q_stream_state_evolution", oracle=_STATE_EVOLUTION_ORACLE)
def q_stream_state_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.errors.exceptions.captured import StreamingQueryException

    work = work_dir("evolve_")
    h1, h2 = replay_stage(spark, sf_dir).splits("eid2")
    replay = _stage_replay_dir(work, [(h1, "a_half.parquet")])

    def run_agg(aggs: list, ckpt: str) -> DataFrame:
        agg = events_stream(spark, sf_dir, replay).groupBy("event_type").agg(*aggs)
        return run_to_memory(agg, "complete", checkpoint=ckpt)

    count_only = [F.count(F.lit(1)).alias("n")]
    evolved = [
        F.count(F.lit(1)).alias("n"),
        F.sum(money.cents("value")).alias("cents"),
    ]
    phase1 = run_agg(count_only, f"{work}/ckpt").select(
        "event_type", F.col("n").alias("n_first_half")
    )
    # Freeze phase 1's final state batch-side: the memory sink table is
    # re-populated by any later query reusing it, and phase 2 intends to
    # fail mid-batch.
    phase1 = spark.createDataFrame(phase1.collect(), phase1.schema)

    shutil.copy(h2, f"{replay}/b_half.parquet")
    refused = False
    try:
        run_agg(evolved, f"{work}/ckpt")
    except StreamingQueryException as e:
        # The precise refusal matters: anything else is a different bug.
        refused = "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in str(e)
    rebuilt = run_agg(evolved, f"{work}/ckpt_v2")
    # Right join on the rebuilt (full-history) side: an event_type whose
    # events all carry odd event_ids has NO phase-1 row but the oracle
    # still emits it with n_first_half = 0 — an inner join would drop it
    # on such a data shape (r5 advisor finding).
    return phase1.join(rebuilt, "event_type", "right").select(
        "event_type",
        F.coalesce(F.col("n_first_half"), F.lit(0)).cast("long").alias(
            "n_first_half"
        ),
        F.lit(refused).alias("evolution_refused"),
        F.col("n").alias("n_total"),
        F.col("cents").cast("long").alias("value_cents_total"),
    )


# ---------------------------------------------------------------------------
# q_stream_transform_with_state — Spark 4's transformWithStateInPandas:
# the arbitrary-state successor to applyInPandasWithState (kept above as
# q_stream_stateful for contrast), with named state variables, TTL, and
# timers. Here: a per-user running counter in a ValueState with a 1h
# TTL, plus a registered processing-time timer whose expiry path clears
# the state (it cannot fire inside the bounded drain — registering it
# exercises the timer API; handleExpiredTimer pins the eviction shape).
# The replay is split into two chunks consumed one micro-batch each, so
# state provably carries ACROSS batches; updates are emitted per batch
# and the batch side keeps each user's final (max-count) update, which
# the plain GROUP BY oracle checks exactly. TWS requires the RocksDB
# state store — the 100 TB posture by construction.
#
# ENVIRONMENT GATE: pyspark's TWS Python state client speaks protobuf
# (pyspark/sql/streaming/proto/StateMessage_pb2.py imports
# google.protobuf), and this container has no protobuf package — the
# streaming runner dies with STREAMING_PYTHON_RUNNER_INITIALIZATION_
# FAILURE / ImportError (observed; pinned by
# tests/test_invariants.py::test_transform_with_state_env_gate). The
# key therefore registers only when protobuf is importable, and NOTES.md
# records the dead end; on any standard cluster image (protobuf ships
# with every major distro) it activates unchanged.
# ---------------------------------------------------------------------------

try:
    _HAS_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:  # no `google` namespace package at all
    _HAS_PROTOBUF = False

_TWS_ORACLE = f"""
SELECT user_id, count(*) AS n_events,
       round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100, 2) AS total_value
FROM events
GROUP BY user_id
"""


def _transform_with_state_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    work = work_dir("tws_")
    # Staged parity halves: two micro-batches; per-user running state is
    # split-invariant (counts and sums re-aggregate).
    chunks = replay_stage(spark, sf_dir).splits("eid2")
    replay = _stage_replay_dir(
        work, [(p, f"chunk_{i}.parquet") for i, p in enumerate(chunks)]
    )
    ev = events_stream(spark, sf_dir, replay, file_per_batch=True).select(
        "user_id", "value"
    )

    class UserCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "counts", "n bigint, cents bigint", ttlDurationMs=3_600_000
            )
            self._handle = handle

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as pd

            # Integer-cents state (r10 float-sum audit).
            n, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    np.floor(pdf["value"].to_numpy() * 100.0 + 0.5)
                    .astype("int64")
                    .sum()
                )
            self._state.update((n, cents))
            self._handle.registerTimer(
                timerValues.getCurrentProcessingTimeInMs() + 3_600_000
            )
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                }
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            self._state.clear()
            return iter([])

        def close(self) -> None:
            pass

    out = ev.groupBy("user_id").transformWithStateInPandas(
        UserCounter(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        outputMode="Update",
        timeMode="ProcessingTime",
    )
    updates = run_to_memory(
        out,
        "update",
        checkpoint=f"{work}/checkpoint",
        available_now=True,
        rocksdb=True,
    )
    # One update per (user, batch-with-activity); n_events is strictly
    # increasing per user, so the final state is the max-n row.
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("total_value"), 2).alias("total_value"),
        )
    )


if _HAS_PROTOBUF:
    register("q_stream_transform_with_state", oracle=_TWS_ORACLE)(
        _transform_with_state_impl
    )


# ---------------------------------------------------------------------------
# q_stream_outer_join — LEFT OUTER stream-stream interval join: signups
# left-join purchases within 1 hour; signups with NO purchase must still
# emit (with nulls) — but only once the watermark proves no match can
# still arrive, which is the part an inner join never exercises. Outer
# results flush a batch AFTER the watermark passes their join window, so
# the replay appends two far-future sentinel batches (each carrying a
# signup+purchase pair on a negative user so BOTH sides' watermarks
# advance): batch 2 moves the watermark past every real window, batch 3
# gives Spark the extra trigger in which the flushed outer rows are
# actually emitted — the operational gotcha ("my outer join emits
# nothing") demonstrated and pinned. Oracle = the batch LEFT JOIN.
# ---------------------------------------------------------------------------

# Bucketed like _STREAM_STREAM_ORACLE (see note there); the LEFT side is
# not exploded, so unmatched signups still emit exactly one null row.
_STREAM_OUTER_ORACLE = """
SELECT s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts
FROM (SELECT user_id, ts, floor(epoch(ts) / 3600) AS hb
      FROM events WHERE event_type = 'signup') s
LEFT JOIN (SELECT user_id, ts, unnest([floor(epoch(ts) / 3600),
                                       floor(epoch(ts) / 3600) - 1]) AS hb
      FROM events WHERE event_type = 'purchase') p
  ON p.user_id = s.user_id
 AND p.hb = s.hb
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
"""


@register("q_stream_outer_join", oracle=_STREAM_OUTER_ORACLE)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("souter_")
    stage = replay_stage(spark, sf_dir)
    # The full fixture must land as ONE delivery unit (see
    # _ReplayStage.single_file — file_per_batch below makes any
    # multi-part delivery drop late rows); sentinels are pyarrow-written
    # (staged max(ts) + two tiny files replace four per-call Spark jobs).
    entries = [(stage.single_file(), "a_events.parquet")]
    for tag, uid, hrs in (("b", -1, 24), ("c", -2, 48)):
        name = f"{tag}_sentinel.parquet"
        stage.write_events_rows(
            f"{work}/{name}",
            [
                (uid, stage.plus_hours(hrs), uid, "signup", 0.0, "{}"),
                (uid, stage.plus_hours(hrs), uid, "purchase", 0.0, "{}"),
            ],
        )
        entries.append((f"{work}/{name}", name))
    replay = _stage_replay_dir(work, entries)

    def side(event_type: str, u: str, t: str) -> DataFrame:
        return (
            events_stream(spark, sf_dir, replay, file_per_batch=True)
            .filter(F.col("event_type") == event_type)
            .select(F.col("user_id").alias(u), F.col("ts").alias(t))
            .withWatermark(t, "1 hour")
        )

    # Hour-bucket second equality key — the q_stream_stream_join skew
    # guard (see that key's design note). The LEFT side is NOT exploded
    # (an unmatched signup must emit its null row exactly once); the
    # purchase side explodes to its two candidate buckets, and each true
    # pair matches in exactly one copy.
    signups = side("signup", "s_user", "s_ts").withColumn(
        "s_hb", _hour_bucket("s_ts")
    )
    purchases = side("purchase", "p_user", "p_ts").withColumn(
        "p_hb",
        F.explode(F.array(_hour_bucket("p_ts"), _hour_bucket("p_ts") - 1)),
    )
    joined = signups.join(
        purchases,
        F.expr(
            "s_user = p_user AND s_hb = p_hb"
            " AND p_ts >= s_ts AND p_ts <= s_ts + interval 1 hour"
        ),
        "leftOuter",
    )
    final = run_to_parquet(joined, spark)
    return final.filter(F.col("s_user") >= 0).select(
        F.col("s_user").alias("user_id"),
        F.col("s_ts").cast("timestamp_ntz").alias("signup_ts"),
        F.col("p_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )


# ---------------------------------------------------------------------------
# q_stream_stateful_timeout — the TIMEOUT path of applyInPandasWithState
# (q_stream_stateful exercises NoTimeout): per-user counters that emit
# ONLY when their processing-time timeout fires — the session-flush /
# abandoned-cart pattern where absence of input is itself the signal.
# Replay is split by USER parity, one file per micro-batch, so each
# user's whole history lands in exactly one batch and its single timer
# flush carries the full per-user totals (a user spanning batches would
# flush twice with partial counts). DRAIN CAVEAT, learned the hard way:
# a ProcessingTimeTimeout query NEVER quiesces — shouldRunAnotherBatch
# is always true (processing time keeps advancing), Spark schedules
# empty micro-batches forever to evaluate timers, and
# processAllAvailable() therefore never returns (observed: 90+ empty
# batches before the harness timeout). The correct drain for a
# timeout-driven stream is CONVERGENCE POLLING: wait until the sink
# holds one flush row per expected user, then stop() — which is also
# how production monitors such pipelines (they are unbounded by
# design). Oracle = the plain batch GROUP BY.
# ---------------------------------------------------------------------------

_STATEFUL_TIMEOUT_ORACLE = f"""
SELECT user_id, count(*) AS n_events,
       round(CAST(sum({money.cents_floor_sql("value")}) AS DOUBLE) / 100, 2) AS total_value
FROM events
GROUP BY user_id
"""


@register("q_stream_stateful_timeout", oracle=_STATEFUL_TIMEOUT_ORACLE)
def q_stream_stateful_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    work = work_dir("sto_")
    stage = replay_stage(spark, sf_dir)
    u0, u1 = stage.splits("uid2")
    replay = _stage_replay_dir(
        work, [(u0, "a_even.parquet"), (u1, "b_odd.parquet")]
    )
    n_users = stage.n_users()

    ev = events_stream(spark, sf_dir, replay, file_per_batch=True).select(
        "user_id", "value"
    )

    def flush_on_timeout(key, pdf_iter, state):
        import numpy as np

        from data_ingestion_service_spark.chaos import maybe_fail

        # Retry-determinism rung (r11): timeout flushes must survive a
        # first-attempt failure without double-emitting or losing state.
        maybe_fail("stateful_timeout")
        if state.hasTimedOut:
            n, cents = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                }
            )
        else:
            # Integer-cents state (r10 float-sum audit).
            n, cents = state.get if state.exists else (0, 0)
            for pdf in pdf_iter:
                n += len(pdf)
                cents += int(
                    np.floor(pdf["value"].to_numpy() * 100.0 + 0.5)
                    .astype("int64")
                    .sum()
                )
            state.update((n, cents))
            state.setTimeoutDuration(1)  # ms; expires before the next batch
            return

    flushed = ev.groupBy("user_id").applyInPandasWithState(
        flush_on_timeout,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, cents bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    final = run_to_memory(flushed, "append", until_rows=n_users)
    return final.select(
        "user_id",
        "n_events",
        F.round(F.col("total_value"), 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q_stream_fanout — multi-sink fan-out from ONE stream pass: each
# micro-batch is persisted once inside foreachBatch, then lands in TWO
# sinks — raw high-value rows (audit trail) and a per-type aggregate
# (serving layer) — the standard one-ingest-many-consumers shape.
# Without the persist, each sink write would re-read the source and the
# sinks could observe DIFFERENT data on a changing source; with it both
# writes consume the same materialized batch. The result joins the two
# re-read sinks and reconciles them against each other (row counts from
# the aggregate sink must equal counting the raw sink) so cross-sink
# consistency is itself hash-verified.
# ---------------------------------------------------------------------------

_STREAM_FANOUT_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       TRUE AS sinks_consistent
FROM events
WHERE value >= 100
GROUP BY event_type
"""


@register("q_stream_fanout", oracle=_STREAM_FANOUT_ORACLE)
def q_stream_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    out = work_dir("fanout_")

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.filter(F.col("value") >= 100).persist()
        try:
            (
                batch_df.select("event_id", "event_type", "value")
                .write.mode("append")
                .parquet(f"{out}/raw")
            )
            (
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(money.cents("value")).alias("cents"),
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(f"{out}/agg")
            )
        finally:
            batch_df.unpersist()

    _drain(
        ev.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", f"{out}/checkpoint"),
        spark,
    )
    raw = spark.read.parquet(f"{out}/raw")
    agg = spark.read.parquet(f"{out}/agg")
    from_raw = raw.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(money.cents("value")).alias("cents_raw"),
    )
    from_agg = agg.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("value_cents"),
    )
    return from_agg.join(from_raw, "event_type", "full_outer").select(
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("value_cents", F.lit(0)).alias("value_cents"),
        (
            (F.col("n") == F.col("n_raw"))
            & (F.col("value_cents") == F.col("cents_raw"))
        ).alias("sinks_consistent"),
    )


# ---------------------------------------------------------------------------
# q_stream_dim_refresh — per-batch dimension refresh: the dimension a
# stream enriches against CHANGES while the stream runs, and each
# micro-batch must join the CURRENT version — the gap q_stream_static_
# join cannot show (a static DataFrame join plans the dim once). The
# standard fix is foreachBatch re-reading the dimension per batch. The
# replay splits events by event_id parity into two files (one per
# micro-batch); the handler enriches batch 1 against dim v1 (segment
# labels suffixed "_v1"), then REWRITES the dimension to v2 and
# enriches batch 2 against it — so the sink provably carries both
# versions, split exactly along the parity line, which the oracle
# reconstructs relationally. At 100 TB this is the hourly-refreshed
# broadcast dim every enrichment pipeline runs.
# ---------------------------------------------------------------------------

_STREAM_DIM_REFRESH_ORACLE = """
SELECT c.c_mktsegment ||
         (CASE WHEN e.event_id % 2 = 0 THEN '_v1' ELSE '_v2' END) AS segment,
       count(*) AS n,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1
"""


@register("q_stream_dim_refresh", oracle=_STREAM_DIM_REFRESH_ORACLE)
def q_stream_dim_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("dimref_")
    h0, h1 = replay_stage(spark, sf_dir).splits("eid2")
    replay = _stage_replay_dir(
        work, [(h0, "a_even.parquet"), (h1, "b_odd.parquet")]
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def write_dim(version: str) -> None:
        cust.select(
            "c_custkey",
            F.concat(F.col("c_mktsegment"), F.lit(f"_{version}")).alias(
                "segment"
            ),
        ).write.mode("overwrite").parquet(f"{work}/dim")

    write_dim("v1")
    ev = events_stream(spark, sf_dir, replay, file_per_batch=True)

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        # Re-read the dimension EVERY batch: this is the refresh — a
        # dim captured outside the closure would be planned once and
        # never see v2.
        dim = spark.read.parquet(f"{work}/dim")
        (
            batch_df.join(dim, batch_df.user_id == dim.c_custkey)
            .select(
                "segment",
                money.cents("value").alias("cents"),
            )
            .write.mode("append")
            .parquet(f"{work}/sink")
        )
        if batch_id == 0:
            write_dim("v2")  # the refresh lands between batches

    _drain(
        ev.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", f"{work}/checkpoint"),
        spark,
    )
    sink = spark.read.parquet(f"{work}/sink")
    return sink.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# q_stream_medallion — the bronze/silver/gold staged architecture as
# three CHAINED streaming queries, each reading the previous stage's
# parquet sink as its file-stream source: bronze = raw append (schema'd
# landing zone), silver = cleaned/typed (drop error events and null
# users, money to integer cents), gold = per-type aggregate. Every hop
# is checkpointed exactly-once, so the pipeline is restartable at any
# stage — the reason the pattern exists. The stages drain sequentially
# here (file-stream sources pick up whatever upstream committed);
# in production all three run continuously and the chain is identical.
# The oracle states the composition relationally in one query — a
# hash match proves three checkpointed hops lose/duplicate nothing.
# ---------------------------------------------------------------------------

_MEDALLION_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE event_type <> 'error' AND user_id IS NOT NULL
GROUP BY event_type
"""


@register("q_stream_medallion", oracle=_MEDALLION_ORACLE)
def q_stream_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("medal_")

    def drain(df: DataFrame, path: str, ckpt: str) -> None:
        _drain(
            df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
            spark,
        )

    # bronze: raw landing zone (append-only, source schema preserved).
    drain(raw_events_stream(spark, sf_dir), f"{work}/bronze", f"{work}/ckpt_bronze")

    # silver: cleaned + typed, streamed FROM bronze
    silver_df = (
        events_stream(spark, sf_dir, f"{work}/bronze")
        .filter((F.col("event_type") != "error") & F.col("user_id").isNotNull())
        .select(
            "event_id",
            "event_type",
            "user_id",
            money.cents("value").alias("value_cents"),
        )
    )
    drain(silver_df, f"{work}/silver", f"{work}/ckpt_silver")

    # gold: serving aggregate, streamed FROM silver (foreachBatch MERGE
    # shape is q_stream_ivm_merge; a complete-mode rollup suffices here)
    gold_src = spark.readStream.schema(
        "event_id bigint, event_type string, user_id bigint, value_cents bigint"
    ).parquet(f"{work}/silver")
    gold = gold_src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_cents").cast("long").alias("value_cents"),
    )
    return run_to_memory(gold, "complete", checkpoint=f"{work}/ckpt_gold")


# ---------------------------------------------------------------------------
# q_stream_idempotent_batchid — MANUAL exactly-once for sinks without a
# commit log (JDBC, external indexes — anything foreachBatch feeds):
# the batchId is the idempotency key. Each batch writes its rows into a
# partition directory keyed by batch_id with OVERWRITE semantics, so a
# RETRIED batch replaces itself instead of appending a duplicate. The
# key exercises the full failure script: drain half the data (batch 0),
# stop; deliberately RE-RUN batch 0's write with identical data (the
# retry a driver failure after-commit-before-ack produces); add the
# second half and restart the same checkpoint (batch 1). The re-read
# sink must equal one batch pass over all data — the oracle proves the
# retry added nothing. This is the pattern q_stream_restart_exactly_once's
# file-sink commit log gives for free, reconstructed for sinks that
# have no log.
# ---------------------------------------------------------------------------

_IDEMPOTENT_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
"""


@register("q_stream_idempotent_batchid", oracle=_IDEMPOTENT_ORACLE)
def q_stream_idempotent_batchid(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("idem_")
    h1, h2 = replay_stage(spark, sf_dir).splits("eid2")
    replay = _stage_replay_dir(work, [(h1, "a_half.parquet")])

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id IS the idempotency key: overwrite-into-own-partition
        # makes re-delivery a no-op-shaped replace, never an append.
        (
            batch_df.select(
                "event_id",
                "event_type",
                money.cents("value").alias("cents"),
            )
            .write.mode("overwrite")
            .parquet(f"{work}/sink/batch_id={batch_id}")
        )

    def run_pass() -> None:
        _drain(
            events_stream(spark, sf_dir, replay)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", f"{work}/checkpoint"),
            spark,
        )

    run_pass()  # batch 0 lands
    # The RETRY: re-deliver batch 0's exact payload (post-commit crash →
    # the batch runs again on restart). Overwrite semantics must absorb it.
    write_batch(spark.read.parquet(replay), 0)
    shutil.copy(h2, f"{replay}/b_half.parquet")
    run_pass()  # same checkpoint: resumes at batch 1
    sink = spark.read.parquet(f"{work}/sink")
    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# q_stream_error_rate — the error-share health monitor actually run AS
# A STREAM (q_error_rate_alert is the batch/backfill form): tumbling
# 1-hour windows, integer-basis-point error share, 250bp alert flag,
# complete-mode drain. The pair demonstrates the same alert definition
# served both ways — the batch form audits history, this one pages.
# ---------------------------------------------------------------------------

# Threshold, bp expression, and alert predicate come from
# functions/alerts.py — the single definition this live monitor shares
# with the batch audit `q_error_rate_alert` (r5 verdict item 7).
_STREAM_ERROR_RATE_ORACLE = f"""
SELECT date_trunc('hour', ts) AS hour_start,
       count(*) AS n_events,
       {alerts.ORACLE_ERROR_BP_EXPR},
       {alerts.ORACLE_ERROR_ALERT_EXPR}
FROM events
GROUP BY 1
"""


@register("q_stream_error_rate", oracle=_STREAM_ERROR_RATE_ORACLE)
def q_stream_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(alerts.is_error()).alias("n_errors"),
    )
    final = run_to_memory(agg, "complete")
    bp = alerts.error_bp()
    return final.select(
        F.col("window.start").cast("timestamp_ntz").alias("hour_start"),
        "n_events",
        bp.cast("long").alias("error_bp"),
        alerts.error_alert(bp).alias("alert"),
    )


# ---------------------------------------------------------------------------
# q_stream_listener — per-batch progress observability via the
# StreamingQueryListener API (r5 verdict item 6): the third leg of the
# streaming audit surface beside state introspection
# (q_stream_state_inspect) and in-job metrics (q_observed_metrics). The
# events table is split into four replay files by event_id % 4 (ordered
# mtimes; the file source consumes oldest-first with
# maxFilesPerTrigger=1), a listener registered on the SparkSession bus
# captures every onQueryProgress for THIS query id, and the captured
# (batchId, numInputRows) telemetry is returned AS DATA — so the oracle
# can check it exactly: batch i ingested precisely the residue-i file.
# This is the hook a production monitor exports to metrics backends;
# here the export target is the correctness harness itself.
# ---------------------------------------------------------------------------

_LISTENER_CHUNKS = 4

_STREAM_LISTENER_ORACLE = f"""
SELECT event_id % {_LISTENER_CHUNKS} AS batch_id,
       count(*) AS num_input_rows
FROM events
GROUP BY 1
"""


@register("q_stream_listener", oracle=_STREAM_LISTENER_ORACLE)
def q_stream_listener(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.listener import StreamingQueryListener

    work = work_dir("listener_")
    # Staged residue chunks; explicit increasing mtimes pin replay order
    # = residue order.
    chunks = replay_stage(spark, sf_dir).splits("eid4")
    replay = _stage_replay_dir(
        work, [(p, f"chunk_{i}.parquet") for i, p in enumerate(chunks)]
    )

    progress: list[tuple[str, int, int]] = []

    class _CaptureListener(StreamingQueryListener):
        """Appends (query_id, batchId, numInputRows) for EVERY progress
        event; the watched query is filtered at the end. Capturing
        unconditionally avoids two races: a batch-0 progress event
        arriving before the caller learns q.id, and progress from other
        concurrent queries in the session (the bench thread pool) being
        attributed to this one."""

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            progress.append((str(p.id), int(p.batchId), int(p.numInputRows)))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = _CaptureListener()
    spark.streams.addListener(listener)
    try:
        ev = events_stream(spark, sf_dir, replay, file_per_batch=True)
        run_to_memory(ev.select("event_id"), "append")
        watched = LAST_DRAIN.record["query_id"]
        # The listener bus is asynchronous: progress events can trail the
        # drain (each is posted before its batch signals the drain, then
        # delivered later). Convergence-poll (bounded) until all non-empty
        # batches have been delivered to the Python side.
        deadline = time.monotonic() + 60
        while (
            sum(1 for i, _, n in progress if i == watched and n > 0)
            < _LISTENER_CHUNKS
        ):
            if time.monotonic() > deadline:
                raise TimeoutError(
                    "listener progress events did not arrive: "
                    f"{progress!r}"
                )
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    rows = [(b, n) for i, b, n in progress if i == watched and n > 0]
    return spark.createDataFrame(
        rows, "batch_id bigint, num_input_rows bigint"
    )


# ---------------------------------------------------------------------------
# q_stream_model_score — a batch-learned model scored INSIDE a live
# streaming plan: the per-type discrete-p99 threshold model (shared
# definition: functions/models.py — the alerts.py single-source pattern
# applied to a learned model) broadcast-joins into the event stream, each
# event is flagged against its type's threshold map-side, and a
# complete-mode streaming aggregate reports per-type outlier counts.
#
# This is the production model-in-the-loop shape: train on history in
# batch, broadcast the (small) model, score events as they arrive — the
# stream-static join is evaluated per micro-batch with NO state, so a hot
# stream costs one broadcast probe per event. Distinct from
# q_stream_static_join (dimension enrichment): the static side here is a
# DERIVED aggregate whose definition the batch key q_latency_percentiles
# shares, and from q_stream_error_rate (threshold on the windowed
# aggregate itself): scoring happens per-EVENT before any window.
# ---------------------------------------------------------------------------

_STREAM_MODEL_SCORE_ORACLE = f"""
WITH {models.ORACLE_P99_MODEL_CTE}
SELECT e.event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN CAST(round(e.value * 100) AS BIGINT) > m.p99_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_over_p99,
       any_value(m.p99_cents) AS p99_cents
FROM events e JOIN model m ON e.event_type = m.event_type
GROUP BY e.event_type
"""


@register("q_stream_model_score", oracle=_STREAM_MODEL_SCORE_ORACLE)
def q_stream_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    model = models.p99_threshold_model(load_table(spark, sf_dir, "events"))
    ev = events_stream(spark, sf_dir)
    scored = ev.join(F.broadcast(model), "event_type").select(
        "event_type",
        "p99_cents",
        (money.cents("value") > F.col("p99_cents")).cast("long").alias("over"),
    )
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("over").cast("long").alias("n_over_p99"),
        F.any_value("p99_cents").alias("p99_cents"),
    )
    return run_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# q_stream_countmin — the mergeability of the Count-Min sketch PROVEN
# by stream/batch parity: the event stream replays in four micro-batch
# chunks; each foreachBatch computes the batch's PARTIAL 4×256 CM cells
# over user_id and MERGEs them (cell-wise BIGINT sum — CM's defining
# associative merge) into a versioned snapshot, exactly how a fleet of
# ingest workers would maintain a shared heavy-hitter sketch. The final
# streamed sketch is then probed for the exact top-10 users; because
# cell sums are associative integers, the estimates are BIT-IDENTICAL
# to the one-shot batch sketch the oracle builds — invariant to how
# rows were split across batches.
#
# The exact per-user counts used to choose/probe the top-10 come from
# the batch table (they are the audit's ground truth, as in
# q_countmin_audit); the sketch under test is the streamed one.
# ---------------------------------------------------------------------------

_SCM_ROWS = 4
_SCM_WIDTH = 256

_SCM_CELL_SQL = (
    "('0x' || substr(md5(CAST(r.r AS VARCHAR) || '#' ||"
    f" CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {_SCM_WIDTH}"
)

_STREAM_COUNTMIN_ORACLE = f"""
WITH uc AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
cells AS (
  SELECT r.r, {_SCM_CELL_SQL} AS col, CAST(sum(c) AS BIGINT) AS counter
  FROM uc CROSS JOIN (SELECT unnest(range(0, {_SCM_ROWS})) AS r) r
  GROUP BY 1, 2
),
top_users AS (
  SELECT user_id, c FROM uc ORDER BY c DESC, user_id LIMIT 10
)
SELECT t.user_id, t.c AS exact_count,
       min(cl.counter) AS cm_estimate,
       min(cl.counter) - t.c AS overestimate
FROM top_users t
CROSS JOIN (SELECT unnest(range(0, {_SCM_ROWS})) AS r) r
JOIN cells cl ON cl.r = r.r AND cl.col = {_SCM_CELL_SQL}
GROUP BY t.user_id, t.c
"""


def _scm_cell(r_col: str) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#",
                        F.col(r_col).cast("string"),
                        F.col("user_id").cast("string"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _SCM_WIDTH
    )


@register("q_stream_countmin", oracle=_STREAM_COUNTMIN_ORACLE)
def q_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("scm_")
    # Staged residue chunks: the sketch is a sum over cells, so the
    # final merged counters are split-invariant. The sketch reads
    # user_id only, so ts stays raw.
    chunks = replay_stage(spark, sf_dir).splits("eid4")
    replay = _stage_replay_dir(
        work, [(p, f"chunk_{i}.parquet") for i, p in enumerate(chunks)]
    )
    raw = raw_events_stream(spark, sf_dir, replay, file_per_batch=True)
    snap_state = {"version": -1}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .select(
                "user_id",
                "c",
                F.explode(F.sequence(F.lit(0), F.lit(_SCM_ROWS - 1))).alias(
                    "r"
                ),
            )
            .select("r", _scm_cell("r").alias("col"), "c")
            .groupBy("r", "col")
            .agg(F.sum("c").cast("bigint").alias("counter"))
        )
        sess = batch_df.sparkSession
        if snap_state["version"] >= 0:
            prev = sess.read.parquet(f"{work}/sketch_v{snap_state['version']}")
            merged = (
                prev.unionByName(partial)
                .groupBy("r", "col")
                .agg(F.sum("counter").cast("bigint").alias("counter"))
            )
        else:
            merged = partial
        merged.write.mode("overwrite").parquet(f"{work}/sketch_v{batch_id}")
        snap_state["version"] = batch_id

    _drain(
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", f"{work}/checkpoint"),
        spark,
    )
    sketch = spark.read.parquet(f"{work}/sketch_v{snap_state['version']}")
    uc = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    probes = (
        uc.orderBy(F.desc("c"), F.asc("user_id"))
        .limit(10)
        .select(
            "user_id",
            F.col("c").alias("exact_count"),
            F.explode(F.sequence(F.lit(0), F.lit(_SCM_ROWS - 1))).alias("r"),
        )
        .select("user_id", "exact_count", "r", _scm_cell("r").alias("col"))
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "col"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("counter").alias("cm_estimate"))
        .select(
            "user_id",
            "exact_count",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_count")).alias(
                "overestimate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_stream_out_of_order — the STREAMING twin of q_out_of_order_audit:
# during an ordered 4-file replay (chunks = event_id % 4, staged with
# explicit mtimes so the file source consumes them in order), each
# micro-batch reports how many of its events are LATE versus the
# maximum event time already seen in prior batches, and the running
# max itself. This is the arrival-side measurement a pipeline uses to
# SET its watermark delay (the batch audit measures per-user lateness
# in the data; this one measures cross-batch lateness the stream
# actually experiences — the number processAllAvailable hides).
#
# Determinism: the chunk split is a pure function of event_id, the
# replay order is pinned by mtimes, and every metric is an exact
# integer (epoch seconds, counts) — so the oracle reproduces the
# batches exactly: prior_max of chunk k = max ts over chunks < k.
#
# Driver state: one scalar (the running max) per batch — the benign
# sentinel pattern (adjudicated in r5 for the watermark replays).
#
# Scale: per-batch work is a count + max over the batch (map-side);
# the result is 4 rows.
# ---------------------------------------------------------------------------

_SOO_CHUNKS = 4

_STREAM_OOO_ORACLE = f"""
WITH e AS (
  SELECT event_id % {_SOO_CHUNKS} AS chunk,
         CAST(floor(epoch(ts)) AS BIGINT) AS t_s
  FROM events
),
per_chunk AS (
  SELECT chunk,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(t_s) AS BIGINT) AS chunk_max_s
  FROM e GROUP BY 1
),
with_prior AS (
  SELECT chunk, n_events, chunk_max_s,
         max(chunk_max_s) OVER (ORDER BY chunk
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prior_max_s
  FROM per_chunk
)
SELECT w.chunk AS batch_id, w.n_events,
       CAST(coalesce(sum(CASE WHEN e.t_s < w.prior_max_s THEN 1 END), 0)
            AS BIGINT) AS n_late,
       greatest(w.chunk_max_s, coalesce(w.prior_max_s, 0)) AS running_max_s
FROM with_prior w
JOIN e ON e.chunk = w.chunk
GROUP BY 1, 2, w.chunk_max_s, w.prior_max_s
"""


@register("q_stream_out_of_order", oracle=_STREAM_OOO_ORACLE)
def q_stream_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = work_dir("soo_")
    # Staged residue chunks replayed in residue order (mtime-pinned).
    chunks = replay_stage(spark, sf_dir).splits("eid4")
    replay = _stage_replay_dir(
        work,
        [(p, f"{chr(ord('a') + k)}_chunk.parquet") for k, p in enumerate(chunks)],
    )
    ev = events_stream(spark, sf_dir, replay, file_per_batch=True)
    state = {"max_s": None}
    rows: list[tuple[int, int, int, int]] = []

    def audit_batch(batch_df: DataFrame, batch_id: int) -> None:
        t_s = F.unix_timestamp("ts").cast("bigint")
        prior = state["max_s"]
        agg = batch_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max(t_s).alias("mx"),
            F.sum(
                F.when(
                    t_s < F.lit(prior if prior is not None else -(1 << 62)),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_late"),
        ).collect()[0]
        if agg["n"] == 0:
            return
        running = agg["mx"] if prior is None else max(prior, agg["mx"])
        # Key the output by a sequential NON-EMPTY-batch counter, not
        # Spark's raw batch_id: a leading/interleaved empty micro-batch
        # (scheduler artifact) would shift raw ids off the oracle's
        # chunk ids 0..3 for a reason unrelated to lateness semantics
        # (ADVICE r6). maxFilesPerTrigger=1 guarantees non-empty batches
        # arrive in mtime order, so the counter IS the chunk id.
        rows.append((len(rows), int(agg["n"]), int(agg["n_late"]), int(running)))
        state["max_s"] = running

    _drain(
        ev.writeStream.foreachBatch(audit_batch)
        .option("checkpointLocation", f"{work}/checkpoint"),
        spark,
    )
    return spark.createDataFrame(
        rows, "batch_id bigint, n_events bigint, n_late bigint, running_max_s bigint"
    )


# ---------------------------------------------------------------------------
# q_stream_asof_enrich — temporal-correct stream enrichment: every
# streamed event picks its user's latest order AT OR BEFORE the event
# time (the as-of join q_asof_enrich runs in batch), executed per
# micro-batch via foreachBatch against the static orders dim. This is
# the streaming pattern the equi-join stream-static key
# (q_stream_static_join) cannot express: the dim match depends on the
# event's OWN timestamp, so a plain stream-static join would leak
# future orders into past events. Stateless per event — each micro-
# batch enriches independently and appends to a parquet sink, so the
# drained result provably equals the batch as-of the oracle runs.
#
# Scale: the static dim reduces once to per-customer order lists
# (bounded fan-in); each batch is then an equi join + map-side array
# as-of pick — no per-event window, no date-range join. The dim
# broadcasts when small, shuffles on the equi key otherwise; the sink
# is distributed parquet.
# ---------------------------------------------------------------------------


@register("q_stream_asof_enrich", oracle="""
SELECT event_id, user_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
FROM (
  SELECT
    e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
    row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
    ) AS rn
  FROM events e
  JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
) WHERE rn = 1
""")
def q_stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    # r11 optimization (guide §2.4/§3): the per-micro-batch theta join
    # (equi user + date bound) shuffled the ORDERS side and ran a
    # per-event rank window on EVERY batch. The dim is static, so build
    # the per-customer order list once (one orders shuffle per call,
    # persisted across the drain's batches) and make each batch a
    # map-only pass: broadcast the dim, pick the as-of order with an
    # array filter + array_max — max(struct(o_orderdate, o_orderkey))
    # over orders at-or-before ts is exactly the former
    # row_number(desc date, desc key) == 1 winner, and `d <= ts`
    # resolves with the same date→timestamp cast as the old join
    # predicate. Events with no qualifying order drop (inner-join
    # semantics preserved via the null filter).
    # Fan-in bound (ADVICE r11): collect_list packs one row per CUSTOMER
    # holding that customer's full order list — bounded by the fixture's
    # ~10 orders/customer and, at any scale, by the hottest customer's
    # order count, NOT by |orders|. If a production tenant could exceed
    # single-row limits, cap the list (slice of sort_array) or fall back
    # to the per-batch join shape this replaced. The broadcast hint
    # below is likewise replay-scale: drop it at 100 TB and let AQE
    # size the join from the persisted dim's runtime stats.
    dim = call_persisted(
        orders.groupBy(F.col("o_custkey").alias("dim_user"))
        .agg(
            F.collect_list(
                F.struct(
                    F.col("o_orderdate").alias("d"),
                    F.col("o_orderkey").alias("k"),
                )
            ).alias("os")
        )
    )
    ev = events_stream(spark, sf_dir)
    work = work_dir("asof_")
    out_dir = f"{work}/out"
    os.makedirs(out_dir)

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        asof = F.array_max(
            F.filter(F.col("os"), lambda x: x["d"] <= F.col("ts"))
        )
        (
            batch_df.select("event_id", "user_id", "ts")
            # Replay-scale dim broadcasts; at 100 TB drop the hint and
            # the planner shuffles once on the equi key per batch —
            # still no per-event window, no date-range join blowup.
            .join(F.broadcast(dim), F.col("user_id") == F.col("dim_user"))
            .select("event_id", "user_id", asof.alias("a"))
            .filter(F.col("a").isNotNull())
            .select(
                "event_id",
                "user_id",
                F.col("a.k").alias("asof_orderkey"),
                F.col("a.d").alias("asof_orderdate"),
            )
            # foreachBatch is at-least-once: a retried micro-batch must
            # land idempotently, so each batch OVERWRITES its own
            # batch_id-named subpath instead of appending to the shared
            # dir (ADVICE r7) — the retry replaces, never double-counts.
            .write.mode("overwrite")
            .parquet(f"{out_dir}/b{batch_id}")
        )

    _drain(
        ev.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", f"{work}/ckpt"),
        spark,
    )
    # Explicit schema (zero-row drains have no footer to infer from) +
    # recursive lookup over the per-batch subdirs.
    from pyspark.sql.types import StructField, StructType

    ev_t = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    sch = StructType(
        list(ev_t.schema.fields)
        + [
            StructField("asof_orderkey", orders.schema["o_orderkey"].dataType),
            StructField("asof_orderdate", orders.schema["o_orderdate"].dataType),
        ]
    )
    return (
        spark.read.schema(sch)
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )
