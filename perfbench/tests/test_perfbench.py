"""Tests for the benchmark itself.

    python3 -m pytest perfbench/tests -q

The parser and fixture tests need no Spark; ``test_short_run_has_no_failures``
runs one short ``stream_write`` benchmark (about a minute) and proves the
engine package is importable on Python workers from the benchmark's own
entry point (``q_stream_stateful`` runs a pandas kernel worker-side).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import fixtures  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_fixtures_are_deterministic_and_shaped():
    a = fixtures.build_tables()
    b = fixtures.build_tables()
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == fixtures.ROWS["lineitem"]
    assert a["events"].schema.field("ts").type.unit == "us"
    assert a["embeddings"].column("embedding")[0].values.type.bit_width == 32
    # vec_id 0 is the PQ probe row; it must exist.
    assert a["embeddings"].column("vec_id")[0].as_py() == 0


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == (
        layers.LAYER_METRICS + [("trace_overhead", "ratio")]
    )
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def test_quantile_is_harrell_davis():
    assert run.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    assert run.quantile([float(i) for i in range(101)], 0.9) == pytest.approx(90.4, abs=0.05)
    # Two clusters of calls: the estimate sits between them and moves a
    # little, not a cluster width, when one call changes sides.
    a = [0.2] * 6 + [1.0] * 6
    b = [0.2] * 5 + [1.0] * 7
    assert abs(run.quantile(a, 0.5) - run.quantile(b, 0.5)) < 0.3


def test_event_log_jobs_attributed_by_group_and_window(tmp_path):
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "perfbench-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": "40"}]},
         "Task Metrics": {"Executor Run Time": 50, "Executor CPU Time": 2e7,
                          "JVM GC Time": 1, "Result Size": 10,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 3,
                                                   "Local Bytes Read": 4},
                          "Output Metrics": {"Bytes Written": 9,
                                             "Records Written": 2}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
        # A micro-batch job: no call's group, inside call 2's window.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2050,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "some-run-id"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2060},
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    jobs = layers.parse_event_log(str(tmp_path))
    assert jobs[0]["tasks"] == 1 and jobs[0]["shuffle_read"] == 7
    calls = [
        {"group": "perfbench-1", "t0": 0.9, "t1": 0.95, "t2": 1.2, "counters": {}},
        {"group": "perfbench-2", "t0": 2.0, "t1": 2.1, "t2": 2.2,
         "counters": {"catalog.loads": 2, "catalog.misses": 1}},
    ]
    progress = [{"start": 2.05, "run_id": "r", "rows": 5,
                 "duration_ms": {"addBatch": 7, "walCommit": 1, "commitOffsets": 2},
                 "state_rows": 3, "state_bytes": 8, "state_commit_ms": 4}]
    layers.call_layers(calls, jobs, progress)
    first, second = calls[0]["layers"], calls[1]["layers"]
    assert first["spark.jobs"] == 1 and second["spark.jobs"] == 1
    assert first["spark.plan_s"] == pytest.approx(0.05)
    assert first["spark.result_s"] == pytest.approx(0.1)
    assert first["functions.python_run_s"] == pytest.approx(0.04)
    assert first["sources.output_rows"] == 2
    assert second["operators.construct_jobs"] == 1
    assert second["streaming.input_rows"] == 5
    assert second["streaming.log_commit_s"] == pytest.approx(0.003)
    total = layers.pass_layers(calls)
    assert total["catalog.hit_ratio"] == pytest.approx(0.5)
    assert set(n for n, _ in layers.LAYER_METRICS) <= set(total)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".work", "out"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_write",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_short_run_has_no_failures():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_write",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = _last_json(proc.stdout)
    assert result["failed"] == 0, proc.stdout
    assert result["correct"] is True
    assert result["attempted"] >= 1
    record = json.loads(proc.stdout.strip().splitlines()[-2])
    assert record["fail_ratio"] == 0
    assert record["oracle_mismatch"] == []
