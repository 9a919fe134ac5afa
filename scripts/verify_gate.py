"""Driver-contract emulator: exercises __spark_entry__.py exactly as the
round driver does.

1. smoke  — entry(spark) at sf0.001 must run and return >=0 rows.
2. parity — for every queries() entry with an oracle_sql() string, run the
   Spark DataFrame AND DuckDB over the same parquet at sf0.01; compare
   row count, column names, and an order-insensitive value hash
   (columns sorted by name, rows sorted, values stringified).

Exit 0 iff everything matches. Prints one line per query.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

SMOKE_DIR = "/root/testdata/sf0.001"
PARITY_DIR = os.environ.get("SPARK_GRAFT_PARITY_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as mod
    from pyspark.sql import SparkSession

    # VANILLA session, deliberately: the round driver builds its own
    # SparkSession without any of our session.py tuning, so every query must
    # be self-sufficient (catalog._ensure_read_confs pins what it needs).
    # ~22 gate queries once failed on exactly this gap.
    spark = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", "local[8]"))
        .appName("verify-gate")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # --- smoke ---
    t0 = time.perf_counter()
    n = mod.entry(spark).count()
    print(f"smoke: entry() -> {n} rows in {time.perf_counter()-t0:.1f}s")
    assert n >= 0

    # --- parity ---
    def fresh_con():
        # memory_limit bounds the buffer manager: an unbounded DuckDB next
        # to a live Spark JVM has flaked with a transient bad_alloc on
        # a 4-core host — 16 GB is ~100x what any sf0.01
        # oracle needs
        c = duckdb.connect()
        c.execute("SET memory_limit='16GB'")
        for t in TABLES:
            p = os.path.join(PARITY_DIR, f"{t}.parquet")
            if os.path.exists(p):
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c

    con = fresh_con()

    def run_oracle(sql):
        nonlocal con
        try:
            cur = con.execute(sql)
            return [d[0] for d in cur.description], cur.fetchall()
        except duckdb.OutOfMemoryException:
            # transient host-pressure flake: rebuild the connection (drops
            # any accumulated buffers) and retry once
            con.close()
            con = fresh_con()
            cur = con.execute(sql)
            return [d[0] for d in cur.description], cur.fetchall()

    queries = mod.queries()
    oracles = mod.oracle_sql()
    # optional positional name filter: `verify_gate.py q1 q2 ...` re-checks
    # only the named queries (fast loop while iterating on one operator);
    # bare invocation keeps the full-registry sweep the driver emulates
    only = set(sys.argv[1:])
    if only:
        unknown = only - set(queries)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 2
        queries = {k: v for k, v in queries.items() if k in only}
    failures = []

    # Per-query watchdog: a corrupted py4j gateway (the interleaved-
    # callback-bytes flake observed rounds 9-10) deadlocks EVERY py4j
    # call, including awaitTermination(5) inside the stall-window code —
    # no in-process recovery is possible, the run just hangs. A daemon
    # thread hard-exits with the stuck query's name instead, so a rerun
    # costs minutes, not a silent half-hour. Knob:
    # SPARK_GRAFT_QUERY_TIMEOUT_S (default 600).
    import threading

    watchdog_limit = float(os.environ.get("SPARK_GRAFT_QUERY_TIMEOUT_S", "600"))
    current = {"name": "<smoke>", "t0": time.monotonic()}

    def _watch():
        while True:
            time.sleep(10)
            if time.monotonic() - current["t0"] > watchdog_limit:
                print(
                    f"WATCHDOG: query {current['name']!r} exceeded "
                    f"{watchdog_limit:.0f}s — py4j gateway presumed wedged; "
                    "aborting (rerun verify_gate)",
                    flush=True,
                )
                os._exit(3)

    threading.Thread(target=_watch, daemon=True).start()

    for name in sorted(queries):
        current["name"], current["t0"] = name, time.monotonic()
        t0 = time.perf_counter()
        df = queries[name](spark, PARITY_DIR)
        scols = df.columns
        # the driver canonicalizes with a pandas sort over ALL columns, which
        # raises "unhashable type" on array/map/struct cells — forbid them
        complex_cols = [
            f.name for f in df.schema.fields
            if f.dataType.simpleString().startswith(("array", "map", "struct"))
        ]
        if complex_cols:
            print(f"{name}: COMPLEX-TYPED OUTPUT {complex_cols} "
                  "(driver canonicalizer cannot sort these)")
            failures.append(name)
            continue
        srows = [tuple(r) for r in df.collect()]
        if name not in oracles:
            print(f"{name}: rows-only check, {len(srows)} rows "
                  f"({time.perf_counter()-t0:.1f}s)")
            continue
        ocols, orows = run_oracle(oracles[name])
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append(f"hash spark={sh} oracle={oh}")
        status = "OK" if not problems else "MISMATCH: " + "; ".join(problems)
        print(f"{name}: {len(srows)} rows, {status} ({time.perf_counter()-t0:.1f}s)")
        if problems:
            failures.append(name)

    if failures:
        print(f"FAILED: {failures}")
        return 1
    print("ALL MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())
