"""Layered benchmark for the ingestion engine.

    python3 perfbench/run.py --workload corpus_cold --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark JVM on
``local[nproc]``, at most ``nproc`` client threads. Inputs are the
deterministic tables from ``fixtures.py`` (generated once into
``perfbench/.data``); ``--seed`` sets the call order of every pass. The
last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. The full record (per-key walls, hashes, per-layer
per-key rows) goes to ``perfbench/out/<workload>-trace<N>.json``.

Protocol (see README.md for the metric definitions):

1. DuckDB: hash every key's oracle over the fixture files (before the JVM
   starts);
2. setup: import the package, ``load_all_operators()``, ``get_spark()``,
   then one untimed correctness pass (by the same clients as step 3; it
   also starts the Python worker pool) that hashes every key's result
   with ``scripts/driver_sim.canon_hash`` for comparison with step 1;
3. a 4-client closed-loop phase over the warm stores (``qps_4clients``);
4. timed 1-client rounds, as many as fit in ``--seconds``, each Spark call
   followed by its DuckDB oracle timed apart (``vs_duckdb``). On
   ``corpus_cold`` a round is a fresh session (``clearCache()`` +
   ``newSession()``, empty stores) followed by two warm passes in it;
5. ``--trace 1`` only: restart the SparkContext with the event log on,
   install the layer wrappers and the progress listener, repeat step 4,
   stop, and parse the event log.

Exits non-zero without a result line when the engine package is absent.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Per-process, so a second run in the same checkout cannot delete this one's
# temp dirs or event log.
WORK = os.path.join(HERE, ".work", str(os.getpid()))
OUT = os.path.join(HERE, "out")

WORKLOADS = {
    "corpus_cold": [
        "q_near_dedup",
        "q_minhash_pairs",
        "q_simhash",
        "q_dup_clusters",
        "q_substring_dup",
        "q_knn_ivf_kmeans",
        "q_knn_pq",
        "q_bm25",
        "q_embed_near_dup",
        "q_quality_score",
        "q_repetition_score",
        "q_lang_id",
    ],
    "stream_write": [
        "q_events_tumbling",
        "q_stream_stateful",
        "q_stream_dedup_watermark",
        "q_stream_rocksdb",
        "q_stream_stream_join",
        "q_stream_asof_enrich",
        "q_stream_to_parquet",
        "q_merge_upsert",
        "sink_parquet_partitioned",
        "sink_compacted",
    ],
}
COLD = {"corpus_cold"}
# The --trace 0 result line, as declared in BENCHMARK.json. qps_4clients
# stays on the record line only: with all cores saturated it follows the
# machine's speed drift more than any other figure (quartile spread 0.25
# of its median over ten corpus_cold runs on a 4-core box).
END_TO_END = [
    ("setup_s", "s"),
    ("round_s", "s"),
    ("warm_round_s", "s"),
    ("call_p50_s", "s"),
    ("call_p90_s", "s"),
    ("vs_duckdb", "ratio"),
    ("rows_per_s", "rows/s"),
    ("peak_rss_mb", "MB"),
]
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
MAX_CLIENTS = 4
WARM_PASSES = 2  # per corpus_cold round
# Passes of calls in the client phase: enough that the figure does not
# hinge on which few calls happened to overlap, and the warm-up before
# the timed rounds (stream_write's round settles only after two).
CLIENT_PASSES = 2
# Spark's default driver heap, which the engine's sf0.01 correctness
# sessions run with; the heap cap keeps peak RSS from following GC luck.
DRIVER_MEM = "1g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(cpus: int) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark at
    WORK, and make the package importable on Python workers (they inherit
    the JVM's environment, not the driver's sys.path)."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # The JVMs' perf-data files go to /tmp whatever java.io.tmpdir says.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def rss_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _beta_cdf_steps(n: int, a: float, b: float, steps: int = 64) -> list[float]:
    """Regularized incomplete beta I_x(a, b) at x = 0, 1/n, ..., 1
    (composite Simpson over each 1/n slice of the beta density)."""
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x: float) -> float:
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))

    cdf, acc, h = [0.0], 0.0, 1.0 / (n * steps)
    for i in range(n):
        lo = i / n
        part = pdf(lo) + pdf(lo + steps * h)
        for j in range(1, steps):
            part += (4 if j % 2 else 2) * pdf(lo + j * h)
        acc += part * h / 3
        cdf.append(acc)
    return [c / acc for c in cdf]


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of
    all order statistics. A run has a few dozen calls from a handful of
    keys with very different costs; the plain sample quantile jumps
    between those clusters when the call order changes, this does not."""
    xs = sorted(values)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    cdf = _beta_cdf_steps(n, p * (n + 1), (1 - p) * (n + 1))
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


class Runner:
    """Issues calls and keeps the failure/row-count accounting."""

    def __init__(self, queries, sf_dir: str) -> None:
        self.queries = queries
        self.sf_dir = sf_dir
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}
        self.expected_rows: dict[str, int] = {}
        self.row_mismatch: set[str] = set()
        self.wrappers = None  # layers.Wrappers in the traced phase
        self._lock = threading.Lock()
        self._seq = 0

    def _fail(self, key: str) -> None:
        """Count the exception being handled; keep each key's first
        traceback tail for the run record."""
        tail = traceback.format_exc(limit=-3)[-2000:]
        with self._lock:
            self.failed += 1
            self.errors.setdefault(key, tail)

    def call(self, spark, key: str) -> dict | None:
        """Construct + collect one key; None when it raised."""
        with self._lock:
            self._seq += 1
            self.attempted += 1
            group = f"perfbench-{self._seq}"
        spark.sparkContext.setJobGroup(group, key)
        counters: dict = {}
        if self.wrappers is not None:
            self.wrappers.current = counters
        p0, t0 = time.perf_counter(), time.time()
        try:
            df = self.queries[key](spark, self.sf_dir)
            t1 = time.time()
            rows = df.collect()
        except Exception:  # counted into fail_ratio, run continues
            self._fail(key)
            return None
        finally:
            if self.wrappers is not None:
                self.wrappers.current = None
        wall, t2 = time.perf_counter() - p0, time.time()
        expected = self.expected_rows.get(key)
        if expected is not None and expected != len(rows):
            self.row_mismatch.add(key)
        return {
            "key": key,
            "group": group,
            "t0": t0,
            "t1": t1,
            "t2": t2,
            "wall": wall,
            "rows": len(rows),
            "counters": counters,
        }

    def run_pass(self, spark, keys: list[str], oracle=None):
        """One call per key in order. With ``oracle``, each Spark call is
        followed by its DuckDB oracle, timed apart: the two walls are then
        taken at the same moments, so a machine-wide slowdown moves both.
        Returns (Spark wall, calls that returned, DuckDB wall)."""
        floor = aside = 0.0
        calls = []
        t = time.perf_counter()
        for key in keys:
            call = self.call(spark, key)
            if call is not None:
                calls.append(call)
            if oracle is not None:
                t_aside = time.perf_counter()
                floor += oracle.wall(key)
                aside += time.perf_counter() - t_aside
        return time.perf_counter() - t - aside, calls, floor

    def check_pass(self, spark, keys: list[str], n: int, canon_hash):
        """Correctness pass, ``n`` clients: collect each key's result the
        way the oracle check does (``toPandas``), then hash them all.
        Returns (pass wall without the hashing, hashes)."""
        results: dict = {}

        def check(key: str) -> None:
            with self._lock:
                self.attempted += 1
            try:
                results[key] = self.queries[key](spark, self.sf_dir).toPandas()
            except Exception:
                self._fail(key)

        t = time.perf_counter()
        with ThreadPoolExecutor(n) as pool:
            for f in [pool.submit(check, k) for k in keys]:
                f.result()
        wall = time.perf_counter() - t
        for key, pdf in results.items():
            self.expected_rows[key] = len(pdf)
        return wall, {key: canon_hash(pdf) for key, pdf in results.items()}

    def clients(self, spark, passes: list[list[str]], n: int) -> float:
        """Closed loop: ``n`` threads each take the next key as soon as
        their previous call returned, one pass of keys after another.
        Returns calls per second by Little's law (n busy clients / mean
        call wall), so the drain at the end of a pass is not idle time."""
        walls: list[float] = []

        def client(queue: list[str]) -> None:
            while True:
                with self._lock:
                    if not queue:
                        return
                    key = queue.pop()
                call = self.call(spark, key)
                if call is not None:
                    with self._lock:
                        walls.append(call["wall"])

        with ThreadPoolExecutor(n) as pool:
            for queue in passes:
                for f in [pool.submit(client, queue) for _ in range(n)]:
                    f.result()
        return n / statistics.fmean(walls) if walls else 0.0


class Oracle:
    """DuckDB over the same fixture files: each key's oracle result hash,
    and its oracle wall for the ``vs_duckdb`` floor."""

    def __init__(self, sf_dir: str, sql: dict[str, str]) -> None:
        import duckdb

        self.sql = sql
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp', 'duckdb')}'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def hash(self, key: str, canon_hash) -> str:
        return canon_hash(self.con.execute(self.sql[key]).df())

    def wall(self, key: str, repeats: int = 2) -> float:
        """Fastest of ``repeats`` runs of the key's oracle."""
        best = math.inf
        for _ in range(repeats):
            t = time.perf_counter()
            self.con.execute(self.sql[key]).fetchall()
            best = min(best, time.perf_counter() - t)
        return best

    def close(self) -> None:
        self.con.close()


def release(spark) -> None:
    """Drop cached data and collect garbage on both sides so blocks of
    retired sessions are cleaned before the next timed round."""
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM to exit (its Python
    worker daemon goes with it), so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(runner: Runner, spark, keys, cold, seconds, rng, jvm_pid, oracle):
    """Timed 1-client rounds, as many as fit in ``seconds`` (at least one),
    the DuckDB floor interleaved with the round's first pass. Returns the
    round records."""
    from data_ingestion_service_spark import session as session_mod

    rounds: list[dict] = []
    start = time.perf_counter()
    while True:
        release(spark)
        sess = spark.newSession() if cold else spark
        rec: dict = {"order": rng.sample(keys, len(keys))}
        rec["stores_before"] = len(session_mod._DF_CACHE.get(sess, ()))
        rec["wall"], rec["calls"], rec["duckdb_s"] = runner.run_pass(
            sess, rec["order"], oracle
        )
        if cold:
            rec["stores_built"] = len(session_mod._DF_CACHE.get(sess, ()))
            # Two warm passes: the faster one is the round's warm wall (a
            # 4 s pass is easily hit by one GC or a co-tenant burst), and
            # both feed the per-call quantiles.
            rec["warm_walls"], rec["warm_calls"] = [], []
            for _ in range(WARM_PASSES):
                wall, calls, _ = runner.run_pass(sess, rng.sample(keys, len(keys)))
                rec["warm_walls"].append(wall)
                rec["warm_calls"] += calls
            rec["warm_wall"] = min(rec["warm_walls"])
        rec["jvm_rss_mb"] = rss_kb(jvm_pid, "VmRSS") / 1024
        rounds.append(rec)
        elapsed = time.perf_counter() - start
        if seconds <= 0 or elapsed + elapsed / len(rounds) > seconds:
            return rounds


def round_metrics(rounds: list[dict], cold: bool) -> dict:
    walls = [r["wall"] for r in rounds]
    warm = [r["warm_wall"] for r in rounds] if cold else walls
    # Per-call quantiles over warm calls only: which key of a cold pass
    # pays a shared store build depends on the seeded order, so cold calls
    # would move the quantiles with the seed, not with the engine.
    calls = [c for r in rounds for c in r.get("warm_calls", r["calls"])]
    return {
        "round_s": median(walls),
        "warm_round_s": median(warm),
        "vs_duckdb": median([r["wall"] / r["duckdb_s"] for r in rounds]),
        "call_walls": [c["wall"] for c in calls],
        "rows_returned": median([sum(c["rows"] for c in r["calls"]) for r in rounds]),
    }


def traced_phase(runner, spark_old, keys, cold, seconds, rng, jvm_pid, app, oracle):
    """Restart the context with the event log on, warm it, install the
    wrappers and listener, measure, stop, and attribute layers."""
    from pyspark.sql import SparkSession

    from data_ingestion_service_spark.session import get_spark
    from data_ingestion_service_spark.streaming.stream_queries import stream_session

    import layers

    log_dir = os.path.join(WORK, "eventlog")
    spark_old.stop()
    (
        SparkSession.builder.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark = get_spark(app_name=app)
    measure(runner, spark, keys, cold, 0, rng, jvm_pid, oracle)  # re-warm, untimed
    wrappers = layers.Wrappers()
    wrappers.install()
    runner.wrappers = wrappers
    listener = layers.ProgressListener()
    stream_session(spark).streams.addListener(listener)
    try:
        rounds = measure(runner, spark, keys, cold, seconds, rng, jvm_pid, oracle)
        listener.quiesce()
    finally:
        runner.wrappers = None
        wrappers.uninstall()
    peak_kb = rss_kb(jvm_pid, "VmHWM")
    spark.stop()
    jobs = layers.parse_event_log(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    all_calls = [c for r in rounds for c in r["calls"] + r.get("warm_calls", [])]
    layers.call_layers(all_calls, jobs, listener.records)
    per_pass = [layers.pass_layers(r["calls"]) for r in rounds]
    values = {
        name: median([p.get(name, 0.0) for p in per_pass])
        for name, _ in layers.LAYER_METRICS
    }
    detail = {
        "passes": per_pass,
        "warm_pass_pairs": [layers.pass_layers(r["warm_calls"]) for r in rounds if cold],
        "per_key": {
            c["key"]: c["layers"] for c in rounds[-1]["calls"]
        },
        "jobs_parsed": len(jobs),
        "progress_records": len(listener.records),
    }
    return rounds, values, detail, peak_kb


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "data_ingestion_service_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    clients = min(MAX_CLIENTS, cpus)
    prepare_env(cpus)
    import fixtures

    t = time.perf_counter()
    sf_dir = fixtures.ensure(os.path.join(HERE, ".data"))
    fixture_s = time.perf_counter() - t

    keys = WORKLOADS[args.workload]
    cold = args.workload in COLD
    rng = random.Random(args.seed)
    app = f"perfbench-{args.workload}"

    from scripts.driver_sim import canon_hash

    # -- setup (timed in two parts around the oracle hashing) -------------
    t = time.perf_counter()
    from data_ingestion_service_spark.registry import ORACLES, QUERIES, load_all_operators
    from data_ingestion_service_spark.session import get_spark

    load_all_operators()
    import_s = time.perf_counter() - t

    oracle = Oracle(sf_dir, ORACLES)
    oracle_hashes = {k: oracle.hash(k, canon_hash) for k in keys}

    t = time.perf_counter()
    spark = get_spark(app_name=app)
    session_s = import_s + time.perf_counter() - t
    jvm_pid = spark._jvm.ProcessHandle.current().pid()

    runner = Runner(QUERIES, sf_dir)
    stream_rows = 0
    listener = None
    if not cold:
        # Counts the rows one pass drains (rows_per_s); removed before any
        # timed call.
        from data_ingestion_service_spark.streaming.stream_queries import stream_session

        import layers

        listener = layers.ProgressListener()
        stream_session(spark).streams.addListener(listener)
    check_s, spark_hashes = runner.check_pass(
        spark, rng.sample(keys, len(keys)), clients, canon_hash
    )
    if listener is not None:
        listener.quiesce()
        stream_session(spark).streams.removeListener(listener)
        stream_rows = sum(r["rows"] for r in listener.records)
    setup_s = session_s + check_s

    mismatched = sorted(
        k for k in keys if spark_hashes.get(k) != oracle_hashes.get(k)
    )

    # -- 4 clients, then timed rounds ----------------------------------------
    # The closed-loop phase runs over the warm stores the correctness pass
    # built, and doubles as warm-up before the timed rounds.
    qps = runner.clients(
        spark, [rng.sample(keys, len(keys)) for _ in range(CLIENT_PASSES)], clients
    )
    rounds = measure(runner, spark, keys, cold, args.seconds, rng, jvm_pid, oracle)
    base = round_metrics(rounds, cold)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "clients": clients,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "fixture_s": fixture_s,
        "setup": {"session_s": session_s, "check_pass_s": check_s},
        "oracle_mismatch": mismatched,
        "stream_input_rows_per_pass": stream_rows,
        "qps_4clients": qps,
    }

    if args.trace:
        import layers

        t_rounds, values, layer_detail, peak_jvm_kb = traced_phase(
            runner, spark, keys, cold, args.seconds, rng, jvm_pid, app, oracle
        )
        traced = round_metrics(t_rounds, cold)
        values["trace_overhead"] = traced["round_s"] / base["round_s"] - 1
        record["untraced_round_s"] = base["round_s"]
        record["traced_round_s"] = traced["round_s"]
        record["layers"] = layer_detail
        record["traced_rounds"] = [_round_summary(r) for r in t_rounds]
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, unit in layers.LAYER_METRICS + [("trace_overhead", "ratio")]
        }
    else:
        release(spark)
        peak_jvm_kb = rss_kb(jvm_pid, "VmHWM")
        spark.stop()
        peak_rss_mb = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + peak_jvm_kb
        ) / 1024
        rows = base["rows_returned"] if cold else stream_rows
        walls = base["call_walls"]
        values = {
            "setup_s": setup_s,
            "round_s": base["round_s"],
            "warm_round_s": base["warm_round_s"],
            "call_p50_s": quantile(walls, 0.5),
            "call_p90_s": quantile(walls, 0.9),
            "vs_duckdb": base["vs_duckdb"],
            "rows_per_s": rows / base["round_s"],
            "peak_rss_mb": peak_rss_mb,
        }
        record["call_samples"] = len(walls)
        metrics = {
            name: {"value": values[name], "unit": unit} for name, unit in END_TO_END
        }

    stop_jvm()
    oracle.close()
    record["peak_jvm_rss_mb"] = peak_jvm_kb / 1024
    record["rounds"] = [_round_summary(r) for r in rounds]
    record["fail_ratio"] = runner.failed / max(runner.attempted, 1)
    record["errors"] = runner.errors
    record["row_mismatch"] = sorted(runner.row_mismatch)
    cold_ok = not cold or all(
        r["stores_before"] == 0 and r["stores_built"] > 0
        for r in rounds + record.get("traced_rounds", [])
    )
    record["cold_rounds_start_empty_and_build"] = cold_ok
    correct = (
        not mismatched
        and not runner.row_mismatch
        and cold_ok
        and (cold or stream_rows > 0)
    )
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(WORK))
    except OSError:
        pass  # another run's work dir is still there
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump({**record, "metrics": metrics}, fh, indent=1, default=str)
    summary = {
        k: record[k]
        for k in (
            "workload",
            "seed",
            "cpus",
            "clients",
            "defaultParallelism",
            "spark.sql.shuffle.partitions",
            "fail_ratio",
            "oracle_mismatch",
            "errors",
        )
    }
    summary["call_samples"] = record.get("call_samples")
    summary["qps_4clients"] = qps
    summary["rounds"] = len(rounds)
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _round_summary(r: dict) -> dict:
    out = {
        "order": r["order"],
        "wall": r["wall"],
        "per_key": {c["key"]: c["wall"] for c in r["calls"]},
        "duckdb_s": r["duckdb_s"],
        "jvm_rss_mb": r["jvm_rss_mb"],
    }
    if "warm_wall" in r:
        out["warm_walls"] = r["warm_walls"]
        out["warm_per_key"] = [(c["key"], c["wall"]) for c in r["warm_calls"]]
        out["stores_before"] = r["stores_before"]
        out["stores_built"] = r["stores_built"]
    return out


if __name__ == "__main__":
    sys.exit(main())
