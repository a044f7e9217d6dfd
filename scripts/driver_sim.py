"""Simulate the driver's verify flow end-to-end (the repo's real surface).

Mirrors the protocol in __spark_entry__.py's docstring: a plain
SparkSession (none of our tuned confs; deliberately not even the static
codegen cache size ``get_spark`` sets, since the driver's session lacks it
too), entry() smoke at sf0.001, then
every queries()[k] vs oracle_sql()[k] via DuckDB at sf0.01 — row count,
column-name schema, and an order-insensitive value hash over columns
sorted by name. Prints one line per query and a final summary.

Round-2 hardening: the round-1 sim hashed DuckDB ``fetchall()`` native
Python values, which is blind to pandas-dtype divergence — the real
driver canonicalizes BOTH sides through pandas (``toPandas()`` /
``cur.df()``), where DuckDB HUGEINT (un-cast integer ``sum()``) becomes
float64 while Spark bigint stays int64, and array-typed columns crash
``sort_values`` outright.  Three round-1 hash-fails and one crash came
from exactly that gap.  This version reproduces the driver's pandas
canonicalization: dtype-sensitive type-tagged cell normalization, and
``sort_values`` over all columns (so unhashable/array columns fail here
the same way they fail there).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

SF_SMOKE = "/root/testdata/sf0.001"
# Override to re-validate at another tier (e.g. sf0.1, 10x the graded one).
SF_CORRECT = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    """Type-tagged cell repr: int64 and float64 of the same value MUST differ.

    The tag prefix is the point — the real driver hashes pandas-canonical
    values, so DuckDB HUGEINT→float64 ``500.0`` vs Spark int64 ``500``
    is a hash mismatch there and must be one here too.
    """
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "null"
        return "f:" + repr(round(f, 12) + 0.0)
    if isinstance(v, (np.bool_, bool)):
        return "b:" + str(bool(v))
    if isinstance(v, (np.integer, int)):
        return "i:" + str(int(v))
    if isinstance(v, pd.Timestamp):
        return "ts:" + v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, dt.datetime):
        return "ts:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, Decimal):
        return "dec:" + str(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        # The driver's pandas sort_values dies on these ("unhashable type");
        # surface the same class of failure loudly.
        raise TypeError(f"non-scalar cell in oracle-checked output: {type(v).__name__}")
    return "o:" + repr(v)


def _fast_col_strs(s: pd.Series):
    """Vectorized per-column norm_cell for the dtypes the stress tiers
    produce in bulk (int, bool, tz-naive timestamps without nanos).
    MUST emit byte-identical strings to norm_cell; returns None when the
    dtype needs the exact per-cell path (floats, objects, decimals)."""
    import pandas.api.types as pt

    if pt.is_bool_dtype(s.dtype) and not s.isna().any():
        return np.where(s.to_numpy(), "b:True", "b:False")
    if pt.is_integer_dtype(s.dtype):
        if pt.is_unsigned_integer_dtype(s.dtype):
            # uint64 above 2^63-1 would wrap under astype('int64') and
            # emit different tagged strings than norm_cell's str(int(v))
            # — take the exact per-cell path (ADVICE r7).
            return None
        na = s.isna()
        if not na.any():
            return ("i:" + s.astype("int64").astype(str)).to_numpy()
        out = "i:" + s.astype("Int64").astype(str)
        return out.where(~na, "null").to_numpy()
    if pt.is_datetime64_dtype(s.dtype):
        nanos = s.dt.nanosecond
        if (nanos.fillna(0) != 0).any():
            return None  # isoformat prints 9 digits there — exact path
        na = s.isna()
        # isoformat == '%Y-%m-%dT%H:%M:%S' + ('.%f' iff micro != 0).
        # numpy's datetime_as_string is ~10x pandas strftime at this size;
        # unit='us' always prints 6 fractional digits, so strip '.000000'
        # to match isoformat exactly. NaT prints 'NaT' and is masked below.
        raw = np.datetime_as_string(
            s.to_numpy().astype("datetime64[us]"), unit="us"
        )
        out = "ts:" + pd.Series(raw, copy=False).str.replace(
            r"\.000000$", "", regex=True
        )
        return out.where(~na.to_numpy(), "null").to_numpy()
    return None


# Frames past this size take the vectorized canonicalization; the graded
# sf0.01 tier never gets near it, so the driver-exact per-cell path still
# runs for everything the real driver grades.
_FAST_CANON_ROWS = 500_000


def canon_hash(pdf: pd.DataFrame) -> str:
    """Driver-style canonicalization: columns sorted by name, rows sorted
    via pandas sort_values (reproduces the driver's array-column crash),
    then an order-insensitive sha256 over type-tagged cells."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf) > _FAST_CANON_ROWS:
        # Stress-tier fast path: same tagged strings, built columnwise
        # (the 36M-row stream-join results took 20+ min/side through the
        # per-cell loop). Row order is irrelevant — lines are sorted.
        cols = []
        for c in pdf.columns:
            v = _fast_col_strs(pdf[c])
            if v is None:
                v = np.fromiter(
                    (norm_cell(x) for x in pdf[c]),
                    dtype=object,
                    count=len(pdf),
                )
            cols.append(pd.Series(v, copy=False))
        joined = cols[0]
        for c in cols[1:]:
            joined = joined + "|" + c
        lines = sorted(joined.tolist())
    else:
        if len(pdf):
            pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
        lines = sorted(
            "|".join(norm_cell(v) for v in row)
            for row in pdf.itertuples(index=False, name=None)
        )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as entry_mod

    argv = sys.argv[1:]
    # --threads N (r11 concurrent rung): run all keys through a thread
    # pool on ONE shared session — the bench's real interleaving — and
    # print per-key lines sorted by key so the log stays diffable
    # against the sequential run (sim_hash_diff).
    threads = 0
    if "--threads" in argv:
        i = argv.index("--threads")
        threads = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    only = set(argv)  # optional: run a subset of keys

    # r11 execution-regime rungs: DRIVER_SIM_MASTER switches the whole
    # sim onto another scheduler regime — `local-cluster[2,8,8192]`
    # (real multi-process executors: closures, Arrow batches and shuffle
    # blocks cross process/serde boundaries, like a 100x cluster) or
    # `local[16,4]` (task retries permitted, for the chaos rung).
    # DRIVER_SIM_CONF applies extra builder confs (semicolon-separated
    # k=v), e.g. the speculation rung's spark.speculation=true set.
    master = os.environ.get("DRIVER_SIM_MASTER", "local[16]")
    builder = (
        SparkSession.builder.master(master)
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local-cluster"):
        # Worker JVMs spawn their own Python workers; pin them to this
        # interpreter, put the repo package on their import path (Arrow
        # kernels import data_ingestion_service_spark.* executor-side),
        # and ship chaos/provider knobs through executorEnv.
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            ":".join(filter(None, [repo_root, os.environ.get("PYTHONPATH")])),
        )
        for env_k in ("SPARK_GRAFT_CHAOS", "SPARK_GRAFT_STATE_PROVIDER"):
            if os.environ.get(env_k):
                builder = builder.config(
                    f"spark.executorEnv.{env_k}", os.environ[env_k]
                )
    extra = os.environ.get("DRIVER_SIM_CONF", "")
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    # Stress tiers (sf1+) need a real heap; the graded sf0.01 sim keeps
    # the driver's plain-session default (1g) by leaving this unset.
    mem = os.environ.get("DRIVER_SIM_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
        # Stress tiers only: the skewed-sf1 stream-stream joins produce a
        # data-determined ~36M-row result (hot user × 1h interval) that the
        # memory sink must hold on the driver; the graded sf0.01 sim keeps
        # the driver default (1g).
        builder = builder.config("spark.driver.maxResultSize", "8g")
        # Arrow transfer keeps the 36M-row stress collections batched
        # instead of 36M pickled Row objects.
        builder = builder.config(
            "spark.sql.execution.arrow.pyspark.enabled", "true"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if not only:
        df = entry_mod.entry(spark)
        rows = df.collect()
        assert len(rows) > 0, "entry() returned no rows"
        print(f"[smoke] entry() OK: {len(rows)} rows, schema={df.columns}")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        # Directory-shaped tables (the r10 multi-file rung, and the layout
        # every real cluster produces) need a glob for DuckDB; Spark-side
        # reads handle the directory natively.
        p = f"{SF_CORRECT}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    def check_key(key, cur) -> tuple[str, str]:
        """Run one key vs its oracle; returns (status, printable line)."""
        t0 = time.monotonic()
        try:
            sdf = qs[key](spark, SF_CORRECT)
            spdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            return "fail", f"[FAIL] {key}: spark raised {type(exc).__name__}: {exc}"
        el = time.monotonic() - t0
        if key not in oracles:
            return "rows-only", f"[rows-only] {key}: {len(spdf)} rows in {el:.2f}s"
        try:
            opdf = cur.execute(oracles[key]).df()
        except Exception as exc:  # noqa: BLE001
            return "fail", f"[FAIL] {key}: oracle raised {type(exc).__name__}: {exc}"
        ok_schema = sorted(spdf.columns) == sorted(opdf.columns)
        ok_count = len(spdf) == len(opdf)
        try:
            sh = canon_hash(spdf)
            dh = canon_hash(opdf)
        except Exception as exc:  # noqa: BLE001
            return "fail", f"[FAIL] {key}: canonicalizer crash {type(exc).__name__}: {exc}"
        ok_hash = sh == dh
        if ok_schema and ok_count and ok_hash:
            return "pass", f"[OK]   {key}: {len(spdf)} rows, hash={sh} in {el:.2f}s"
        detail = ""
        if ok_count and not ok_hash:
            sd = dict(zip(sorted(spdf.columns), spdf[sorted(spdf.columns)].dtypes))
            od = dict(zip(sorted(opdf.columns), opdf[sorted(opdf.columns)].dtypes))
            diff = {c: (str(sd[c]), str(od.get(c))) for c in sd if str(sd[c]) != str(od.get(c))}
            if diff:
                detail = f" dtype-diff={diff}"
        return "fail", (
            f"[FAIL] {key}: schema={ok_schema} count={ok_count} "
            f"({len(spdf)} vs {len(opdf)}) hash={sh} vs {dh}{detail}"
        )

    keys = [k for k in sorted(qs) if not only or k in only]
    n_pass = n_fail = n_rows_only = 0
    if threads:
        from concurrent.futures import ThreadPoolExecutor

        def worker(key):
            # DuckDB cursors share the parent connection's catalog
            # (views) but are the thread-safe execution handle.
            cur = con.cursor()
            try:
                return check_key(key, cur)
            finally:
                cur.close()

        with ThreadPoolExecutor(max_workers=threads) as pool:
            results = list(pool.map(worker, keys))
        for status, line in results:  # keys order — diffable vs sequential
            print(line)
            n_pass += status == "pass"
            n_fail += status == "fail"
            n_rows_only += status == "rows-only"
    else:
        for key in keys:
            status, line = check_key(key, con)
            print(line)
            n_pass += status == "pass"
            n_fail += status == "fail"
            n_rows_only += status == "rows-only"
    print(f"\nsummary: {n_pass} hash-match, {n_rows_only} rows-only, {n_fail} FAIL")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
