"""Soak rung: do per-call resources stay bounded in one long session?

Runs every key that makes a per-call resource K times in one
``get_spark()`` session, then once more through an 8-thread pool, and
after each pass logs what a leak would grow:

- the engine work root (``session.work_dir``'s per-process root): bytes,
  dirs and files under it;
- ``getPersistentRDDs().size()`` (per-call persists);
- the session's temp views;
- the JVM's live thread count;
- the RSS of the driver JVM and of this Python process.

The keys: the stream keys, the ``sources/io.py`` keys and the pipeline
keys (selected by module), plus the ``call_persisted`` keys and the
SQL-surface keys named below. Every result is collected on the thread
that made the call, before that thread's next call.

Usage:
    python scripts/soak.py SF_DIR [K]     # K defaults to 3

Prints one JSON line per pass; exits 1 if a key raised.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_service_spark import session  # noqa: E402
from data_ingestion_service_spark.registry import QUERIES, load_all_operators  # noqa: E402

PKG = "data_ingestion_service_spark"
BY_MODULE = (f"{PKG}.streaming.stream_queries", f"{PKG}.sources.io", f"{PKG}.pipeline")
CALL_PERSIST_KEYS = (
    "q_semdedup",
    "q_cdc_chunks",
    "q_dsir_weights",
    "q_naive_bayes",
    "q_market_basket",
    "q_embed_kmeans",
    "q_hits",
)
SQL_SURFACE_KEYS = (
    "q_udtf_installments",
    "q_grouping_sets",
    "q_sql_frontend",
    "q_filtered_agg",
    "q_sql_scripting",
    "q_variant_explode",
    "q_recursive_cte",
    "q_sql_udf",
    "q_pipe_syntax",
    "q_parameterized",
    "q_lateral_topk",
    "q_group_by_all",
)
POOL_THREADS = 8


def soak_keys() -> list[str]:
    named = set(CALL_PERSIST_KEYS) | set(SQL_SURFACE_KEYS)
    return sorted(
        k for k, fn in QUERIES.items() if k in named or fn.__module__ in BY_MODULE
    )


def tree_size(root: str | None) -> tuple[int, int, int]:
    """(bytes, dirs, files) under ``root``, root itself not counted."""
    nbytes = ndirs = nfiles = 0
    for top, dirs, files in os.walk(root) if root else ():
        ndirs += len(dirs)
        nfiles += len(files)
        for name in files:
            try:
                nbytes += os.path.getsize(os.path.join(top, name))
            except OSError:
                pass
    return nbytes, ndirs, nfiles


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def snapshot(spark, label: str, wall: float, failed: list[str]) -> dict:
    jvm = spark._jvm
    nbytes, ndirs, nfiles = tree_size(session._WORK_ROOT)
    return {
        "pass": label,
        "wall_s": round(wall, 1),
        "failed": failed,
        "work_bytes": nbytes,
        "work_dirs": ndirs,
        "work_files": nfiles,
        "persistent_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "temp_views": sorted(t.name for t in spark.catalog.listTables() if t.isTemporary),
        "jvm_threads": jvm.java.lang.management.ManagementFactory.getThreadMXBean().getThreadCount(),
        "jvm_rss_mb": round(rss_mb(jvm.java.lang.ProcessHandle.current().pid()), 1),
        "py_rss_mb": round(rss_mb(os.getpid()), 1),
    }


def main() -> int:
    if len(sys.argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1]
    passes = int(sys.argv[2]) if len(sys.argv) == 3 else 3
    load_all_operators()
    spark = session.get_spark(app_name="soak")
    keys = soak_keys()
    print(json.dumps({"keys": len(keys), "sf_dir": sf_dir, "passes": passes}), flush=True)

    def run(key: str) -> str | None:
        try:
            QUERIES[key](spark, sf_dir).collect()
            return None
        except Exception as exc:  # noqa: BLE001 - reported per pass
            return f"{key}: {type(exc).__name__}: {str(exc)[:200]}"

    any_failed = False
    for k in range(1, passes + 1):
        t0 = time.monotonic()
        failed = [e for e in map(run, keys) if e]
        any_failed |= bool(failed)
        print(json.dumps(snapshot(spark, str(k), time.monotonic() - t0, failed)), flush=True)
    t0 = time.monotonic()
    with ThreadPoolExecutor(POOL_THREADS) as pool:
        failed = [e for e in pool.map(run, keys) if e]
    any_failed |= bool(failed)
    print(json.dumps(snapshot(spark, f"pool{POOL_THREADS}", time.monotonic() - t0, failed)), flush=True)
    spark.stop()
    return 1 if any_failed else 0


if __name__ == "__main__":
    sys.exit(main())
