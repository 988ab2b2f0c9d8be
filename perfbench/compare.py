#!/usr/bin/env python3
"""Compare two sets of benchmark runs, such as a parent commit and a change.

    python3 perfbench/compare.py A B
    python3 perfbench/compare.py --layers A.json B.json

A and B are directories holding the `result.json` files runs leave under
.bench_runs/<run>/ (copy each side's run directories into its own
folder); runs are taken in the order they were made. For every workload
and end-to-end metric it prints the median and quartiles of each side, the
share of alternating pairs (A[i], B[i]) that B wins, and a verdict against
the metric's bound from BENCHMARK.json:

  improved        B's median is better than A's by more than the bound
  worse           B's median is worse than A's by more than the bound
  within bound    the medians differ by no more than the bound
  unresolved      either side's quartile spread exceeds the bound, so the
                  runs cannot tell a change of that size from noise

With --layers it diffs the per-layer metrics of two traced runs instead:
their `result.json` files or their printed result lines.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(path):
    """workload -> list of (metrics, context) in run order."""
    out = {}
    files = sorted(glob.glob(os.path.join(path, "**", "result.json"), recursive=True),
                   key=os.path.getmtime)
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        wl = r["harness"]["workload"]
        out.setdefault(wl, []).append((r["result"]["metrics"], r.get("context", {})))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    qa, qb = quartiles(a), quartiles(b)
    spread = max((qa[2] - qa[0]) / qa[1] if qa[1] else 0.0,
                 (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0)
    if spread > bound:
        return "unresolved", spread
    change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
    if better == "lower":
        change = -change
    if change > bound:
        return "improved", spread
    if change < -bound:
        return "worse", spread
    return "within bound", spread


def pair_wins(a, b, better):
    n = min(len(a), len(b))
    if n == 0:
        return float("nan")
    wins = sum((y < x) if better == "lower" else (y > x) for x, y in zip(a[:n], b[:n]))
    return wins / n


def compare(path_a, path_b, spec):
    ra, rb = load_runs(path_a), load_runs(path_b)
    rows = []
    for wl in sorted(set(ra) & set(rb)):
        for m in spec["end_to_end"]:
            name = m["name"]
            a = [x[0][name]["value"] for x in ra[wl] if name in x[0]]
            b = [x[0][name]["value"] for x in rb[wl] if name in x[0]]
            if not a or not b:
                continue
            v, spread = verdict(a, b, m["better"], m["bound"])
            qa, qb = quartiles(a), quartiles(b)
            rows.append((wl, name, qa, qb, pair_wins(a, b, m["better"]), spread, v))
    print(f"{'workload':14} {'metric':13} {'A q1/med/q3':>30} {'B q1/med/q3':>30} "
          f"{'B wins':>6} {'spread':>6}  verdict")
    for wl, name, qa, qb, w, spread, v in rows:
        fa = "/".join(f"{x:.4g}" for x in qa)
        fb = "/".join(f"{x:.4g}" for x in qb)
        print(f"{wl:14} {name:13} {fa:>30} {fb:>30} {w:6.2f} {spread:6.3f}  {v}")
    return rows


def layers(file_a, file_b):
    """Per-layer diff of two traced runs (result.json or printed lines)."""
    def metrics(p):
        with open(p) as fh:
            text = fh.read().strip()
        try:
            r = json.loads(text)
        except json.JSONDecodeError:  # a run's printed output: last line
            r = json.loads(text.splitlines()[-1])
        return r.get("result", r)["metrics"]
    a, b = metrics(file_a), metrics(file_b)
    print(f"{'layer metric':30} {'A':>14} {'B':>14} {'B/A':>7}")
    for k in a:
        va, vb = a[k]["value"], b.get(k, {}).get("value", 0.0)
        if va == 0 and vb == 0:
            continue
        ratio = f"{vb / va:7.3f}" if va else "    new"
        print(f"{k:30} {va:14.4g} {vb:14.4g} {ratio}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--layers", action="store_true")
    a = ap.parse_args()
    if a.layers:
        layers(a.a, a.b)
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    rows = compare(a.a, a.b, spec)
    return 1 if any(r[-1] == "worse" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
