"""Per-layer accounting for the traced run, measured from outside the engine.

Three sources, all installed only when ``--trace 1``:

* ``Wrappers`` rebinds a handful of the engine's public functions (in every
  module that imported them by name) with timing/counting shims: catalog
  loads, session-store builds and hits, per-call persists, stream staging
  and drains. Counts land on the call that is currently running.
* ``ProgressListener`` is a StreamingQueryListener for the stream drain
  session; it keeps every micro-batch progress record.
* ``parse_event_log`` reads Spark's own (uncompressed) event log after the
  context stops and folds jobs, stages and task metrics into per-job rows.

``call_layers`` then attributes jobs and progress records to calls (by job
group when a job carries one, else by the call's wall-clock window — the
traced passes run one call at a time) and ``pass_layers`` sums a pass.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming.listener import StreamingQueryListener

PKG = "data_ingestion_service_spark"


def _rebind(orig, replacement) -> int:
    """Point every ``PKG`` module attribute that is ``orig`` at
    ``replacement``; returns the number of bindings replaced."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, replacement)
                n += 1
    return n


class Wrappers:
    """Timing/counting shims around the engine's layer entry points."""

    def __init__(self) -> None:
        self.current: dict | None = None  # counters of the running call
        self._depth = threading.local()
        self._restore: list[tuple] = []

    def _add(self, key: str, value: float = 1) -> None:
        rec = self.current
        if rec is not None:
            rec[key] = rec.get(key, 0) + value

    def _timed(self, key: str, fn):
        def shim(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._add(key, time.perf_counter() - t0)

        return shim

    def install(self) -> None:
        from data_ingestion_service_spark import catalog, session
        from data_ingestion_service_spark.streaming import stream_queries as sq

        load_table = catalog.load_table

        def traced_load_table(spark, sf_dir, name):
            before = len(catalog._TABLE_CACHE.get(spark, ()))
            t0 = time.perf_counter()
            try:
                return load_table(spark, sf_dir, name)
            finally:
                self._add("catalog.load_s", time.perf_counter() - t0)
                self._add("catalog.loads")
                if len(catalog._TABLE_CACHE.get(spark, ())) > before:
                    self._add("catalog.misses")

        session_persisted = session.session_persisted

        def traced_session_persisted(spark, key, build):
            def traced_build():
                depth = getattr(self._depth, "n", 0)
                self._depth.n = depth + 1
                self._add("session.store_builds")
                t0 = time.perf_counter()
                try:
                    return build()
                finally:
                    self._depth.n = depth
                    if depth == 0:  # nested builds are inside this span
                        self._add("session.store_build_s", time.perf_counter() - t0)

            self._add("session.store_calls")
            return session_persisted(spark, key, traced_build)

        call_persisted = session.call_persisted

        def traced_call_persisted(df):
            self._add("session.call_persists")
            return call_persisted(df)

        shims = [
            (load_table, traced_load_table),
            (session_persisted, traced_session_persisted),
            (call_persisted, traced_call_persisted),
            (sq.events_stream, self._timed("streaming.stage_s", sq.events_stream)),
            (sq.replay_stage, self._timed("streaming.stage_s", sq.replay_stage)),
            (sq.run_to_memory, self._timed("streaming.drain_s", sq.run_to_memory)),
            (sq.run_to_parquet, self._timed("streaming.drain_s", sq.run_to_parquet)),
        ]
        for orig, shim in shims:
            if _rebind(orig, shim) == 0:
                raise RuntimeError(f"no binding of {orig.__qualname__} to trace")
            self._restore.append((shim, orig))

    def uninstall(self) -> None:
        for shim, orig in self._restore:
            _rebind(shim, orig)
        self._restore.clear()


class ProgressListener(StreamingQueryListener):
    """Keeps (trigger start epoch-s, progress fields) per micro-batch."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self.last_event = time.monotonic()

    def onQueryStarted(self, event) -> None:
        self.last_event = time.monotonic()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        self.records.append(
            {
                "start": _iso_epoch(p.timestamp),
                "run_id": str(p.runId),
                "rows": int(p.numInputRows),
                "duration_ms": dict(p.durationMs or {}),
                "state_rows": sum(int(o.numRowsTotal) for o in ops),
                "state_bytes": sum(int(o.memoryUsedBytes) for o in ops),
                "state_commit_ms": sum(int(o.commitTimeMs) for o in ops),
            }
        )
        self.last_event = time.monotonic()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.last_event = time.monotonic()

    def quiesce(self, idle_s: float = 0.3, limit_s: float = 5.0) -> None:
        """Wait until no event arrived for ``idle_s`` (the bus is async)."""
        end = time.monotonic() + limit_s
        while time.monotonic() < end:
            if time.monotonic() - self.last_event >= idle_s:
                return
            time.sleep(0.05)


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

# Task-level SQL accumulators summed per job (name -> output field). Spark
# timing metrics report milliseconds; size metrics bytes.
_TASK_ACCUMS = {
    "time to start Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
    "task commit time": "commit_ms",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(log_dir: str) -> dict[int, dict]:
    """Per-job records from every event-log file under ``log_dir``:
    submit/end times (epoch ms), job group, and stage/task sums."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    ) or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev["Submission Time"],
                        "end": None,
                        "group": (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id"
                        ),
                    }
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        sums[stage_job[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid not in stage_job:
                        continue
                    s = sums[stage_job[sid]]
                    s["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    s["run_ms"] += _num(m.get("Executor Run Time"))
                    s["cpu_ns"] += _num(m.get("Executor CPU Time"))
                    s["gc_ms"] += _num(m.get("JVM GC Time"))
                    s["result_bytes"] += _num(m.get("Result Size"))
                    s["spill_bytes"] += _num(m.get("Disk Bytes Spilled"))
                    s["input_bytes"] += _num(
                        (m.get("Input Metrics") or {}).get("Bytes Read")
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read"] += _num(sr.get("Remote Bytes Read")) + _num(
                        sr.get("Local Bytes Read")
                    )
                    s["shuffle_write"] += _num(
                        (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written"
                        )
                    )
                    out = m.get("Output Metrics") or {}
                    s["output_bytes"] += _num(out.get("Bytes Written"))
                    s["output_rows"] += _num(out.get("Records Written"))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        field = _TASK_ACCUMS.get(acc.get("Name"))
                        if field:
                            s[field] += _num(acc.get("Update"))
    for jid, rec in jobs.items():
        rec.update(sums.get(jid, {}))
    return jobs


# ---------------------------------------------------------------------------
# Attribution
# ---------------------------------------------------------------------------

LAYER_METRICS = [
    ("operators.construct_s", "s"),
    ("operators.construct_jobs", "count"),
    ("catalog.loads", "count"),
    ("catalog.load_s", "s"),
    ("catalog.hit_ratio", "ratio"),
    ("session.store_builds", "count"),
    ("session.store_hits", "count"),
    ("session.store_hit_ratio", "ratio"),
    ("session.store_build_s", "s"),
    ("session.call_persists", "count"),
    ("spark.plan_s", "s"),
    ("spark.execute_s", "s"),
    ("spark.result_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.input_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.result_bytes", "bytes"),
    ("functions.python_init_s", "s"),
    ("functions.python_run_s", "s"),
    ("functions.python_bytes_sent", "bytes"),
    ("functions.python_bytes_returned", "bytes"),
    ("streaming.stage_s", "s"),
    ("streaming.drain_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "count"),
    ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"),
    ("streaming.log_commit_s", "s"),
    ("streaming.state_commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "bytes"),
    ("sources.output_bytes", "bytes"),
    ("sources.output_rows", "count"),
    ("sources.commit_s", "s"),
]


def _owner(calls: list[dict], group: str | None, t_ms: float) -> dict | None:
    if group:
        for c in calls:
            if c["group"] == group:
                return c
    for c in calls:
        if c["t0"] * 1000 <= t_ms <= c["t2"] * 1000:
            return c
    return None


def call_layers(calls: list[dict], jobs: dict[int, dict], progress: list[dict]) -> None:
    """Fill ``call["layers"]`` for every traced call (in place).

    A call dict carries ``group`` (its job group), ``t0`` (call start),
    ``t1`` (``collect()`` start), ``t2`` (return), all epoch seconds, and
    ``counters`` (from :class:`Wrappers`).
    """
    owned: dict[int, list[dict]] = defaultdict(list)
    for job in jobs.values():
        c = _owner(calls, job["group"], job["submit"])
        if c is not None:
            owned[id(c)].append(job)
    batches: dict[int, list[dict]] = defaultdict(list)
    for rec in progress:
        c = _owner(calls, None, rec["start"] * 1000)
        if c is not None:
            batches[id(c)].append(rec)
    for c in calls:
        cj = owned[id(c)]
        k = c["counters"]
        t1_ms, t2_ms = c["t1"] * 1000, c["t2"] * 1000
        in_collect = [j for j in cj if j["submit"] >= t1_ms]
        ends = [j["end"] for j in in_collect if j["end"] is not None]
        if in_collect:
            first = min(j["submit"] for j in in_collect)
            last = max(ends) if ends else t2_ms
            plan_ms, exec_ms, result_ms = first - t1_ms, last - first, t2_ms - last
        else:
            plan_ms, exec_ms, result_ms = t2_ms - t1_ms, 0.0, 0.0

        def js(field: str) -> float:
            return sum(j.get(field, 0.0) for j in cj)

        b = batches[id(c)]
        last_by_run: dict[str, dict] = {}
        for rec in b:
            last_by_run[rec["run_id"]] = rec
        loads = k.get("catalog.loads", 0)
        calls_s = k.get("session.store_calls", 0)
        builds = k.get("session.store_builds", 0)
        c["layers"] = {
            "operators.construct_s": c["t1"] - c["t0"],
            "operators.construct_jobs": sum(1 for j in cj if j["submit"] < t1_ms),
            "catalog.loads": loads,
            "catalog.load_s": k.get("catalog.load_s", 0.0),
            "catalog.misses": k.get("catalog.misses", 0),
            "session.store_calls": calls_s,
            "session.store_builds": builds,
            "session.store_hits": max(calls_s - builds, 0),
            "session.store_build_s": k.get("session.store_build_s", 0.0),
            "session.call_persists": k.get("session.call_persists", 0),
            "spark.plan_s": max(plan_ms, 0.0) / 1000,
            "spark.execute_s": max(exec_ms, 0.0) / 1000,
            "spark.result_s": max(result_ms, 0.0) / 1000,
            "spark.jobs": len(cj),
            "spark.stages": js("stages"),
            "spark.tasks": js("tasks"),
            "spark.executor_run_s": js("run_ms") / 1000,
            "spark.executor_cpu_s": js("cpu_ns") / 1e9,
            "spark.gc_s": js("gc_ms") / 1000,
            "spark.input_bytes": js("input_bytes"),
            "spark.shuffle_read_bytes": js("shuffle_read"),
            "spark.shuffle_write_bytes": js("shuffle_write"),
            "spark.spill_bytes": js("spill_bytes"),
            "spark.result_bytes": js("result_bytes"),
            "functions.python_init_s": js("py_init_ms") / 1000,
            "functions.python_run_s": js("py_run_ms") / 1000,
            "functions.python_bytes_sent": js("py_sent"),
            "functions.python_bytes_returned": js("py_returned"),
            "streaming.stage_s": k.get("streaming.stage_s", 0.0),
            "streaming.drain_s": k.get("streaming.drain_s", 0.0),
            "streaming.batches": len(b),
            "streaming.input_rows": sum(r["rows"] for r in b),
            "streaming.add_batch_s": sum(
                r["duration_ms"].get("addBatch", 0) for r in b
            ) / 1000,
            "streaming.query_planning_s": sum(
                r["duration_ms"].get("queryPlanning", 0) for r in b
            ) / 1000,
            "streaming.log_commit_s": sum(
                r["duration_ms"].get("walCommit", 0)
                + r["duration_ms"].get("commitOffsets", 0)
                for r in b
            ) / 1000,
            "streaming.state_commit_s": sum(r["state_commit_ms"] for r in b) / 1000,
            "streaming.state_rows": sum(r["state_rows"] for r in last_by_run.values()),
            "streaming.state_bytes": sum(
                r["state_bytes"] for r in last_by_run.values()
            ),
            "sources.output_bytes": js("output_bytes"),
            "sources.output_rows": js("output_rows"),
            "sources.commit_s": js("commit_ms") / 1000,
        }


def pass_layers(calls: list[dict]) -> dict[str, float]:
    """Sum the per-call layer rows of one pass; ratios from the sums."""
    total: dict[str, float] = defaultdict(float)
    for c in calls:
        for name, value in c["layers"].items():
            total[name] += value
    loads = total["catalog.loads"]
    total["catalog.hit_ratio"] = (
        (loads - total["catalog.misses"]) / loads if loads else 1.0
    )
    store_calls = total["session.store_calls"]
    total["session.store_hit_ratio"] = (
        total["session.store_hits"] / store_calls if store_calls else 1.0
    )
    return dict(total)
