"""Engine benchmark: one workload per run, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload {serve,ingest,curate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The last stdout line is one JSON object with
the keys correct, attempted, failed and metrics. Untraced runs (--trace 0)
report the end-to-end metrics; traced runs (--trace 1) the per-layer ones.
The line before it is the run record: host, versions, load, seed and the
workload's own named numbers. Exit status is 0 only if every output check
passed. See perfbench/README.md for what each workload measures.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "ingest", "curate")


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json,
    the one list of the names a run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


class Run:
    """State of one benchmark run, handed to the workload module."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.status = None
        self.tracer = None
        self.session_s = 0.0
        self.measure_t0 = 0.0
        self.measured_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.record: dict = {}

    def begin_measure(self) -> None:
        self.measure_t0 = time.perf_counter()
        self._first_job = self.status.next_job_id() if self.status else 0

    def end_measure(self) -> None:
        """Close the measured window; traced runs total its Spark work."""
        self.measured_s = time.perf_counter() - self.measure_t0
        if self.status is None:
            return
        t = self.status.jobs_between(self._first_job, self.status.next_job_id())
        self.layer.update({
            "spark.jobs": t["jobs"],
            "spark.tasks": t["tasks"],
            "spark.driver_s": max(self.measured_s - t["job_s"], 0.0),
            "spark.task_cpu_s": t["task_cpu_s"],
            "spark.gc_s": t["gc_s"],
            "spark.shuffle_mb": t["shuffle_bytes"] / 2**20,
            "spark.spill_mb": t["spill_bytes"] / 2**20,
            "trace.span_overhead_pct": 100.0 * self.tracer.overhead_s / self.measured_s,
        })

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked unit; a failure is kept with its description."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


def _versions(spark) -> dict:
    system = spark.sparkContext._jvm.java.lang.System
    return {
        "spark": spark.version,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }


def _start_spark(run: Run):
    """Start the engine's session exactly as `session.get_spark` builds it."""
    from hive_server_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    run.session_s = time.perf_counter() - t0
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (the gateway exits on EOF) and
    wait for the JVM and every other child process to end."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every descendant process to exit, kill any still running
    after `timeout_s`, and reap the exited children."""
    from probes import descendants

    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for _ in range(50):
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout this file sits in; without it
    # there is nothing to measure, so fail before any output
    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("hive_server_spark.session")
        end_to_end, per_layer = _metric_units()
    except (ImportError, OSError) as e:
        print(f"perfbench: engine or BENCHMARK.json missing under {ROOT}: {e}",
              file=sys.stderr)
        return 2

    # every file the run writes stays inside the checkout: scratch, Spark
    # block files, JVM and Python temp files all go under the work dir
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp

    from probes import RssSampler, SparkStatus, Tracer, cpu_ticks

    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    # the sampler walks /proc five times a second; untraced runs leave it off
    rss = RssSampler().start() if args.trace else None
    run = Run(args, work)
    workload = importlib.import_module(f"workload_{args.workload}")
    spark = None
    try:
        spark = _start_spark(run)
        run.spark = spark
        run.status = SparkStatus(spark) if run.trace else None
        run.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", run.status)
        run.record.update(_versions(spark))
        e2e = workload.run(run)
    finally:
        if spark is not None:
            _stop_spark(spark)
        _reap_children()
        if rss is not None:
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    trace_path = None
    if run.trace:
        trace_path = os.path.join(ROOT, ".perfbench", "traces",
                                  f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as fh:
            json.dump(run.tracer.spans, fh)

    steal, total = cpu_ticks()
    run.record.update({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "steal_pct": 100.0 * (steal - ticks_before[0]) / max(total - ticks_before[1], 1),
        "failed_frac": run.failed / max(run.attempted, 1),
        "failures": run.failures[:20],
        "named": {k: {"value": v, "unit": u} for k, (v, u) in run.named.items()},
        "end_to_end": e2e,
        "peak_rss_mb": rss and rss.peak_mb,
        "trace_file": trace_path and os.path.relpath(trace_path, ROOT),
    })
    print(json.dumps({"record": run.record}), flush=True)

    if run.trace:
        layer = dict(run.layer)
        layer["session.start_s"] = run.session_s
        layer["rss.peak_mb"] = rss.peak_mb
        layer["trace.latency_ms"] = e2e["latency_ms"]
        layer["trace.throughput_per_s"] = e2e["throughput_per_s"]
        for name, secs in run.tracer.self_seconds_by_layer().items():
            layer[f"self_s.{name}"] = secs
        unlisted = sorted(set(layer) - set(per_layer))
        if unlisted:
            print(f"perfbench: measured but not in BENCHMARK.json: {unlisted}", file=sys.stderr)
        # a layer the workload never calls reads 0 (no span, no time)
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}
    correct = run.failed == 0 and run.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
