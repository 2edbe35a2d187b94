#!/usr/bin/env python3
"""Compares two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records as perfbench/run.py keeps them
(.bench_build/perfbench/runs/*.json; copy them aside between commits).
For every workload and metric it prints each side's median and quartiles,
the change of the medians, the share of seed-matched pairs the new side
wins (ties count for neither side) and, from the traced runs, the per-layer
deltas. It also prints each side's tracing overhead: the traced runs' call
median against the untraced runs' call median.
"""
import glob
import json
import os
import statistics
import sys

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")))
BETTER = {m["name"]: m.get("better", "lower") for m in SPEC["end_to_end"] + SPEC["per_layer"]}
BOUND = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}


def load(d):
    """{(workload, trace): {seed: {metric: value}}}; the last run of a seed wins."""
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        try:
            r = json.load(open(f))
        except (OSError, ValueError):
            continue
        if "metrics" not in r or "workload" not in r:
            continue
        key = (r["workload"], bool(r["trace"]))
        runs.setdefault(key, {})[r["seed"]] = {k: v["value"] for k, v in r["metrics"].items()}
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def compare(base, new, trace):
    workloads = sorted({w for w, t in list(base) + list(new) if t == trace})
    for w in workloads:
        a, b = base.get((w, trace), {}), new.get((w, trace), {})
        metrics = sorted({m for runs in list(a.values()) + list(b.values()) for m in runs})
        print(f"\n== {w} ({'traced' if trace else 'end to end'}): base {len(a)} runs, new {len(b)} runs")
        print(f"{'metric':28s} {'base q1/med/q3':>30s} {'new q1/med/q3':>30s} {'change':>8s} {'spread':>7s} {'wins':>6s}")
        for m in metrics:
            xa = [r[m] for r in a.values() if r.get(m) is not None]
            xb = [r[m] for r in b.values() if r.get(m) is not None]
            qa = quartiles(xa) if xa else (None,) * 3
            qb = quartiles(xb) if xb else (None,) * 3
            change = spread = None
            if xa and xb and qa[1]:
                change = qb[1] / qa[1] - 1
                spread = (qa[2] - qa[0]) / qa[1]
            lower = BETTER.get(m, "lower") == "lower"
            pairs = [(a[s][m], b[s][m]) for s in a if s in b and a[s].get(m) is not None and b[s].get(m) is not None]
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            win = f"{wins}/{len(pairs)}" if pairs else "-"
            flag = ""
            if change is not None and m in BOUND:
                worse = change if lower else -change
                flag = " REGRESSION" if worse > BOUND[m] else ""
            print(f"{m:28s} {fmt(qa[0]):>9s} {fmt(qa[1]):>9s} {fmt(qa[2]):>9s}  "
                  f"{fmt(qb[0]):>9s} {fmt(qb[1]):>9s} {fmt(qb[2]):>9s} "
                  f"{('%+.1f%%' % (100 * change)) if change is not None else '-':>8s} "
                  f"{('%.1f%%' % (100 * spread)) if spread is not None else '-':>7s} {win:>6s}{flag}")


def overhead(runs, label):
    for w in sorted({w for w, _ in runs}):
        plain = [r["call_p50_s"] for r in runs.get((w, False), {}).values() if "call_p50_s" in r]
        traced = [r["trace.call_p50_s"] for r in runs.get((w, True), {}).values() if "trace.call_p50_s" in r]
        if plain and traced:
            o = statistics.median(traced) / statistics.median(plain) - 1
            print(f"{label} {w}: tracing overhead on the call median {100 * o:+.1f}% "
                  f"({len(traced)} traced, {len(plain)} untraced runs)")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    compare(base, new, False)
    compare(base, new, True)
    print()
    overhead(base, "base")
    overhead(new, "new")


if __name__ == "__main__":
    main()
