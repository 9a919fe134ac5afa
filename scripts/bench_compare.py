"""Compare two BENCH_LOCAL_r*.json artifacts (bench.py --reps N --out) query
by query and print the run-over-run table: per-query best-of-reps times, the
ratio, and a flagged list of queries slower than the --flag threshold
(default 1.5x) that must get a plan diff or a load note in SCALE.md.

Best-of-reps is the right round-over-round statistic for a shared host:
each rep is a cold session, so min() strips the load noise the loadavg
fields record while keeping every real plan regression (a plan can't get
lucky; the host can).

Usage: python scripts/bench_compare.py BENCH_LOCAL_r8.json BENCH_LOCAL_r9.json
"""

from __future__ import annotations

import argparse
import json


def best_of_reps(path: str) -> tuple[dict[str, float], dict[str, float]]:
    with open(path) as fh:
        art = json.load(fh)
    queries: dict[str, float] = {}
    waves: dict[str, float] = {}
    for rep in art["reps"]:
        for q, t in rep["queries"].items():
            queries[q] = min(queries.get(q, float("inf")), t)
        for w, t in rep.get("streaming_waves", {}).items():
            waves[w] = min(waves.get(w, float("inf")), t)
    return queries, waves


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--flag", type=float, default=1.5)
    ap.add_argument("--abs-floor", type=float, default=0.3,
                    help="annotate (not suppress) flags below this many "
                    "seconds as sub-floor host-noise class")
    args = ap.parse_args()

    old_q, old_w = best_of_reps(args.old)
    new_q, new_w = best_of_reps(args.new)
    common = sorted(set(old_q) & set(new_q))

    rows = []
    for q in common:
        ratio = new_q[q] / old_q[q] if old_q[q] else float("inf")
        rows.append((q, old_q[q], new_q[q], ratio))

    print(f"| query | {args.old} (s) | {args.new} (s) | ratio |")
    print("|---|---|---|---|")
    for q, o, n, r in sorted(rows, key=lambda t: -t[3]):
        print(f"| {q} | {o:.2f} | {n:.2f} | {r:.2f}x |")

    for w in sorted(set(old_w) & set(new_w)):
        print(f"| [wave] {w} | {old_w[w]:.2f} | {new_w[w]:.2f} | "
              f"{new_w[w] / old_w[w]:.2f}x |")

    osum = sum(old_q[q] for q in common)
    nsum = sum(new_q[q] for q in common)
    med = sorted(r for _, _, _, r in rows)[len(rows) // 2]
    print(f"\ncommon queries: {len(common)}  summed {osum:.1f}s -> {nsum:.1f}s "
          f"({nsum / osum:.2f}x)  median ratio {med:.2f}x")

    only_new = sorted(set(new_q) - set(old_q))
    if only_new:
        print(f"new-in-{args.new}: "
              + ", ".join(f"{q} {new_q[q]:.2f}s" for q in only_new))

    # EVERY ratio > flag is listed regardless of absolute time — an
    # earlier sweep silently dropped a 1.54x flag
    # because it sat under the absolute floor. The floor now only
    # classifies (sub-floor = host-noise class), it never suppresses;
    # each line still needs a disposition note in SCALE.md.
    flagged = [(q, o, n, r) for q, o, n, r in rows if r > args.flag]
    if flagged:
        print(f"\nFLAGGED (> {args.flag}x — every line needs a disposition "
              "in SCALE.md; sub-floor lines are host-noise class but still "
              "get a note):")
        for q, o, n, r in sorted(flagged, key=lambda t: -t[3]):
            note = "" if n >= args.abs_floor else (
                f"  [sub-floor: < {args.abs_floor}s]")
            print(f"  {q}: {o:.2f}s -> {n:.2f}s ({r:.2f}x){note}")
    else:
        print(f"\nno query regressed past {args.flag}x (no absolute floor)")


if __name__ == "__main__":
    main()
