"""Repeat the benchmark over several seeds and report each end-to-end
metric's median and quartile spread, (q3 - q1) / median, per workload.

    python3 perfbench/repeat.py --seeds 1-10 [--traced 3]
                                [--workloads ingest curate]
                                [--out perfbench/baseline.json]

Runs the command in BENCHMARK.json from the repository root, one run at a
time. Without --workloads it runs every workload listed there. With
--traced N it also runs the first N seeds traced and reports the tracing
overhead: how much worse the traced runs' end-to-end figures
(`trace.<metric>`) are than the untraced medians, in percent.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def _run(bench: dict, wl: str, seed: int, trace: int) -> tuple[float, dict] | None:
    """One run: (wall seconds, metric name -> value), or None if it failed."""
    cmd = bench["command"] + [
        "--workload", wl, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if proc.returncode != 0 or not result.get("correct"):
        print(f"{wl} seed {seed} trace {trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
              file=sys.stderr)
        return None
    return wall, {name: m["value"] for name, m in result["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    report = {
        "host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version()},
        "run_seconds": bench["run_seconds"],
        "workloads": {},
    }
    ok = True
    for wl in workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in _seeds(args.seeds):
            out = _run(bench, wl, seed, 0)
            if out is None:
                ok = False
                continue
            walls.append(out[0])
            for name, v in out[1].items():
                values.setdefault(name, []).append(v)
            print(f"{wl} seed {seed}: {walls[-1]:.1f}s "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        summary = {k: summarize(v) for k, v in values.items() if len(v) >= 2}
        for name, s in summary.items():
            s["bound"] = bounds.get(name)
            print(f"  {wl} {name}: median {s['median']:.4g} spread {s['spread']:.3f}"
                  f" (bound {s['bound']})")
        entry = {"run_wall_s": summarize(walls) if len(walls) >= 2 else walls,
                 "metrics": summary}

        traced: dict[str, list[float]] = {}
        for seed in _seeds(args.seeds)[: args.traced]:
            out = _run(bench, wl, seed, 1)
            if out is None:
                ok = False
                continue
            for name, v in out[1].items():
                if name.startswith("trace.") and name[6:] in summary:
                    traced.setdefault(name[6:], []).append(v)
        if traced:
            overhead = {}
            for name, v in traced.items():
                base, got = summary[name]["median"], statistics.median(v)
                worse = got - base if better[name] == "lower" else base - got
                overhead[name] = {"untraced_median": base, "traced_median": got,
                                  "traced_values": v, "overhead_pct": 100.0 * worse / base}
                print(f"  {wl} {name}: traced median {got:.4g}, "
                      f"overhead {overhead[name]['overhead_pct']:.1f}%")
            entry["trace_overhead"] = overhead
        report["workloads"][wl] = entry
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
