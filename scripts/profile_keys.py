"""Per-key optimization profiler (round-11 optimization pass).

For each key named on argv: capture `.explain("formatted")` to
plans/r11/<key>_<tag>.txt, run the query twice (cold then warm wall via
the bench's .collect() methodology, plus a warm noop-sink wall per guide
§1.4), and record the Spark job count per run via setJobGroup +
statusTracker, the generated classes each run compiled
(``codegen_compiles``: cold call, last warm call; a warm count above 0
means the key recompiles on every call) and the child processes the
driver JVM started in the same two calls (``process_spawns``; Hadoop's
local filesystem forks ``chmod``/``readlink`` per checkpoint file when
no native library is loaded). Spawns come from a JFR recording of
``jdk.ProcessStart`` only, started with ``jcmd <pid> JFR.start`` and
read with ``jfr print --json``, so no JVM flag is needed. Prints one
JSON line per key.

Usage:
    python scripts/profile_keys.py [--tag before|after] key [key ...]

Timing caveat: this is a measurement aid, not the official bench —
bench.py remains the record.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import redirect_stdout
from datetime import datetime, timezone

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


_SPAWN_JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""


def start_spawn_recording(spark, work: str) -> str:
    """Start recording the driver JVM's process starts; return its pid."""
    pid = str(spark._jvm.java.lang.ProcessHandle.current().pid())
    jfc = os.path.join(work, "spawns.jfc")
    with open(jfc, "w") as fh:
        fh.write(_SPAWN_JFC)
    subprocess.run(
        ["jcmd", pid, "JFR.start", "name=spawns", f"settings={jfc}"],
        check=True, capture_output=True,
    )
    return pid


def _epoch(stamp: str) -> float:
    """JFR's ``2026-01-02T03:04:05.123456789Z`` as epoch seconds."""
    whole, _, frac = stamp.rstrip("Z").partition(".")
    t = datetime.strptime(whole, "%Y-%m-%dT%H:%M:%S")
    return t.replace(tzinfo=timezone.utc).timestamp() + float(f"0.{frac or 0}")


def spawn_times(pid: str, work: str) -> list[float]:
    """Epoch start time of every process the JVM started since recording."""
    rec = os.path.join(work, "spawns.jfr")
    subprocess.run(
        ["jcmd", pid, "JFR.dump", "name=spawns", f"filename={rec}"],
        check=True, capture_output=True,
    )
    out = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart", rec],
        check=True, capture_output=True, text=True,
    ).stdout
    events = json.loads(out)["recording"]["events"]
    return [_epoch(e["values"]["startTime"]) for e in events]


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
    work = tempfile.mkdtemp(prefix="profile_keys_")
    pid = start_spawn_recording(spark, work)

    for key in KEYS:
        fn = QUERIES[key]
        # --- cold run (session stores empty) ---
        group = f"prof_cold_{key}"
        sc.setJobGroup(group, key)
        c0 = compiles.getCount()
        s0 = time.time()
        t0 = time.monotonic()
        df = fn(spark, SF_DIR)
        df.collect()
        cold = round(time.monotonic() - t0, 4)
        cold_span = (s0, time.time())
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
            s0 = time.time()
            t0 = time.monotonic()
            fn(spark, SF_DIR).collect()
            walls.append(time.monotonic() - t0)
            warm_span = (s0, time.time())
            warm_compiles = compiles.getCount() - c0
            time.sleep(0.1)
            warm_jobs = max(warm_jobs, len(tracker.getJobIdsForGroup(group)))
        walls.sort()
        warm = round(walls[1], 4)

        # --- warm noop-sink wall (guide §1.4) ---
        t0 = time.monotonic()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        noop = round(time.monotonic() - t0, 4)
        spawns = spawn_times(pid, work)

        def spawned(span):
            return sum(span[0] <= t <= span[1] for t in spawns)

        print(json.dumps({
            "key": key, "tag": TAG, "cold_sec": cold, "warm_med_sec": warm,
            "noop_sec": noop, "cold_jobs": cold_jobs, "warm_jobs": warm_jobs,
            "exchanges": n_exchange, "python_nodes": n_python,
            "codegen_compiles": {"cold": cold_compiles, "warm": warm_compiles},
            "process_spawns": {
                "cold": spawned(cold_span), "warm": spawned(warm_span),
            },
        }), flush=True)
    subprocess.run(["jcmd", pid, "JFR.stop", "name=spawns"], capture_output=True)
    shutil.rmtree(work, ignore_errors=True)
    try:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    except Exception:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
