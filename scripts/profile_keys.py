"""Per-key optimization profiler (round-11 optimization pass).

For each key named on argv: capture `.explain("formatted")` to
plans/r11/<key>_<tag>.txt, run the query twice (cold then warm wall via
the bench's .collect() methodology, plus a warm noop-sink wall per guide
§1.4), and record the Spark job count per run via setJobGroup +
statusTracker and the generated classes each run compiled
(``codegen_compiles``: cold call, last warm call; a warm count above 0
means the key recompiles on every call). Prints one JSON line per key.

Usage:
    python scripts/profile_keys.py [--tag before|after] key [key ...]

Timing caveat: this is a measurement aid, not the official bench —
bench.py remains the record.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = "before"
argv = sys.argv[1:]
if argv and argv[0] == "--tag":
    TAG = argv[1]
    argv = argv[2:]
KEYS = argv

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12"),
)
os.makedirs(PLANS_DIR, exist_ok=True)


def main() -> None:
    from data_ingestion_service_spark.registry import QUERIES, load_all_operators
    from data_ingestion_service_spark.session import get_spark

    load_all_operators()
    spark = get_spark(app_name="profile-keys")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # Warm the Python worker pool once (same rationale as bench.py).
    cpus = sc.defaultParallelism
    spark.range(cpus).repartition(cpus).mapInPandas(
        lambda b: b, "id long"
    ).count()

    for key in KEYS:
        fn = QUERIES[key]
        # --- cold run (session stores empty) ---
        group = f"prof_cold_{key}"
        sc.setJobGroup(group, key)
        c0 = compiles.getCount()
        t0 = time.monotonic()
        df = fn(spark, SF_DIR)
        df.collect()
        cold = round(time.monotonic() - t0, 4)
        cold_compiles = compiles.getCount() - c0
        time.sleep(0.2)
        cold_jobs = len(tracker.getJobIdsForGroup(group))

        # --- plan capture (post-cold so session stores are in final shape) ---
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(PLANS_DIR, f"{key}_{TAG}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        plan = buf.getvalue()
        n_exchange = plan.count("Exchange")
        n_python = sum(plan.count(s) for s in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas"))

        # --- warm runs (bench methodology: median-of-3 collect walls) ---
        walls = []
        warm_jobs = 0
        for i in range(3):
            group = f"prof_warm{i}_{key}"
            sc.setJobGroup(group, key)
            c0 = compiles.getCount()
            t0 = time.monotonic()
            fn(spark, SF_DIR).collect()
            walls.append(time.monotonic() - t0)
            warm_compiles = compiles.getCount() - c0
            time.sleep(0.1)
            warm_jobs = max(warm_jobs, len(tracker.getJobIdsForGroup(group)))
        walls.sort()
        warm = round(walls[1], 4)

        # --- warm noop-sink wall (guide §1.4) ---
        t0 = time.monotonic()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        noop = round(time.monotonic() - t0, 4)

        print(json.dumps({
            "key": key, "tag": TAG, "cold_sec": cold, "warm_med_sec": warm,
            "noop_sec": noop, "cold_jobs": cold_jobs, "warm_jobs": warm_jobs,
            "exchanges": n_exchange, "python_nodes": n_python,
            "codegen_compiles": {"cold": cold_compiles, "warm": warm_compiles},
        }), flush=True)
    try:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    except Exception:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
