"""Benchmark harness: runs every gate query at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"queries": {...}, "sf": ..., "metric": ..., "unit": "sec", "value": total_sec}
(headline fields deliberately LAST — see the key-order note in main()).

Each query is executed with a count() action (full materialization, no
driver-side result transfer) after a warm-up of the session.

Streaming-wave attribution: the shared streaming
families (the 3-slice CDC fold, the concurrent evt_* wave) are materialized
ONCE, timed explicitly, and reported under "streaming_waves" — so the
per-query times of their members reflect marginal (cached) cost instead of
the whole wave landing on the alphabetically-first member. The headline
total still includes the wave cost.

Extra, non-driver flags (the driver runs `python bench.py` bare):
  --reps N    run N full repetitions, each on a FRESH SparkSession (stops
              the previous one, so session caches are cold every rep) —
              back-to-back reps separate host-load variance from real
              plan regressions
  --out PATH  write the full artifact (every rep's per-query table + wave
              times + loadavg metadata) as pretty JSON to PATH; the stdout
              line stays the single-line rep-1 summary the driver parses
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _fresh_spark():
    from hive_server_spark.session import get_spark

    spark = get_spark("hive-server-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_up(spark, sf_dir: str) -> None:
    """JVM/codegen/Python-worker warm-up: one representative query at the
    smallest scale factor so measured numbers reflect steady-state
    execution, not first-query compilation."""
    from hive_server_spark import gate

    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    warm = gate.spark_queries()
    for wq in ("orders_state", "text_profile", "amount_out_buy", "multimodal_decode_profile"):
        if wq in warm:
            warm[wq](spark, "/root/testdata/sf0.001").count()


def _time_streaming_waves(spark, sf_dir: str) -> dict[str, float]:
    """Materialize the session-cached streaming families once, timed as
    their own lines. Members then measure marginal cost in the query loop."""
    from hive_server_spark.plans import streaming_pack

    waves: dict[str, float] = {}
    t0 = time.perf_counter()
    streaming_pack.fold_seq_slices(spark, sf_dir)
    waves["cdc_fold_family"] = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    streaming_pack._evt_streaming_results(spark, sf_dir)
    waves["evt_streaming_family"] = round(time.perf_counter() - t0, 4)
    return waves


def _time_shared_materializations(spark, sf_dir: str) -> dict[str, float]:
    """Session-cached BATCH intermediates whose first consumer would
    otherwise pay the whole build (text_bpe_train swung 2.8x between
    bench runs purely from which of the bpe pair hit the
    cold shared BPE trainer first). Materialize them here, timed as their
    own line, so text_bpe_train / text_bpe_encode always measure marginal
    cost — attribution is deterministic regardless of query order."""
    from hive_server_spark.plans import text_pack

    t0 = time.perf_counter()
    text_pack._bpe_train(spark, sf_dir)  # build() is eager (K collect steps)
    return {"bpe_train_build": round(time.perf_counter() - t0, 4)}


# Per-query watchdog state (see _start_watchdog): a corrupted py4j
# gateway (the interleaved-callback-bytes flake, rounds 9-10) deadlocks
# every py4j call with no in-process recovery — a bare run would hang the
# driver's bench step indefinitely. The watchdog hard-exits with the
# stuck query's name instead: a bounded, diagnosable failure beats a
# silent hang, and no partial numbers ever reach stdout (a truncated
# bench line would read as a flatteringly fast round).
_WATCH = {"name": "<startup>", "t0": 0.0}


def _start_watchdog() -> None:
    import threading

    limit = float(os.environ.get("SPARK_GRAFT_BENCH_QUERY_TIMEOUT_S", "900"))
    _WATCH["t0"] = time.monotonic()

    def watch():
        while True:
            time.sleep(10)
            if time.monotonic() - _WATCH["t0"] > limit:
                sys.stderr.write(
                    f"WATCHDOG: bench step {_WATCH['name']!r} exceeded "
                    f"{limit:.0f}s — py4j gateway presumed wedged; aborting "
                    "without emitting a result line\n"
                )
                sys.stderr.flush()
                os._exit(4)

    threading.Thread(target=watch, daemon=True).start()


def _mark(name: str) -> None:
    _WATCH["name"], _WATCH["t0"] = name, time.monotonic()


def run_rep(sf_dir: str) -> dict:
    """One full repetition on a fresh session; returns the rep record."""
    from hive_server_spark import gate

    spark = _fresh_spark()
    # try/finally so a mid-rep query failure still stops the session —
    # otherwise the next rep's getOrCreate would silently reuse this warm
    # JVM and violate the documented cold-session-per-rep contract.
    try:
        load0 = os.getloadavg()
        t_rep = time.perf_counter()
        _mark("<warm-up>")
        _warm_up(spark, sf_dir)
        _mark("<streaming-waves>")
        waves = _time_streaming_waves(spark, sf_dir)
        waves.update(_time_shared_materializations(spark, sf_dir))
        timings: dict[str, float] = {}
        for name, fn in sorted(gate.spark_queries().items()):
            _mark(name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 4)
        return {
            "queries": timings,
            "streaming_waves": waves,
            "queries_sum": round(sum(timings.values()), 4),
            "total": round(sum(timings.values()) + sum(waves.values()), 4),
            "wall": round(time.perf_counter() - t_rep, 4),
            "loadavg_before": [round(x, 2) for x in load0],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        }
    finally:
        spark.stop()


def main() -> None:
    # The driver parses this process's stdout as the benchmark result. The
    # JVM child writes its own noise ("Setting default log level...",
    # log4j banners) straight to fd 1, so divert fd 1 to stderr for the whole
    # run and emit the single JSON line on the saved real stdout at the end.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--out", type=str, default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    _start_watchdog()
    reps = [run_rep(sf_dir) for _ in range(max(1, args.reps))]

    if args.out:
        artifact = {
            "sf": sf_val,
            "sf_dir": sf_dir,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "reps": reps,
        }
        with open(args.out, "w") as fh:
            json.dump(artifact, fh, indent=1, sort_keys=False)
            fh.write("\n")

    head = reps[0]
    # key order matters operationally: the driver records only the LAST
    # 2000 chars of stdout (BENCH_r*.json "tail"), and with 178+ queries
    # this line is ~6k chars — so the headline metric/value go at the END
    # of the object, where the tail window is guaranteed to keep them.
    line = json.dumps(
        {
            "queries": head["queries"],
            "streaming_waves": head["streaming_waves"],
            "sf": sf_val,
            "metric": "gate_queries_total_runtime",
            "unit": "sec",
            "value": head["total"],
        }
    )
    os.write(real_stdout, (line + "\n").encode())
    os.close(real_stdout)


if __name__ == "__main__":
    main()
