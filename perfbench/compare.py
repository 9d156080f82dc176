#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py PARENT_RUNS CHANGE_RUNS

Each argument is a directory of run records as perfbench/run.py leaves
them in .bench_build/runs/ (copy that directory aside after each set).
Runs are paired by workload, nproc and seed; run the two sides
alternately.

For every workload and end-to-end metric it prints each side's median
and quartiles, the share of pairs the change wins (ties count for
neither side), and a verdict:

  improved    the change wins >= 9/10 of the pairs and the medians differ
              by more than the parent's own quartile spread;
  worse       the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json;
  no worse    within the bound, and the parent's spread is within it too;
  unresolved  the spread is wider than the bound, unless every change
              run beats every parent run.

Then, from the traced runs, the per-layer medians of both sides.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory):
    runs = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        r["workload"] = f"{r['workload']}@local[{r['nproc']}]"
        runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, pairs, bound, lower_better):
    sign = 1 if lower_better else -1
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    worse_by = sign * (cm - pm) / pm
    if pairs and wins >= 0.9 * len(pairs) and worse_by < 0 and abs(cm - pm) > p3 - p1:
        return "improved", wins
    if worse_by > bound:
        return "worse", wins
    separated = (max(change) < min(parent)) if lower_better else (min(change) > max(parent))
    if (p3 - p1) / pm > bound and not separated:
        return "unresolved", wins
    return "no worse", wins


def fmt(x):
    return f"{x:.4g}"


def main(parent_dir, change_dir):
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    parent, change = load(parent_dir), load(change_dir)
    workloads = sorted({r["workload"] for r in parent + change})
    for side, runs in (("parent", parent), ("change", change)):
        failed = sum(r["failed"] for r in runs)
        attempted = sum(r["attempted"] for r in runs)
        print(f"{side}: {len(runs)} runs, {failed} of {attempted} executions failed")

    print("\nworkload                   metric           parent q1/med/q3              "
          "change q1/med/q3              wins    verdict")
    for w in workloads:
        ps = {r["seed"]: r for r in parent if r["workload"] == w and not r["trace"]}
        cs = {r["seed"]: r for r in change if r["workload"] == w and not r["trace"]}
        if not ps or not cs:
            print(f"{w:<26} (runs missing on one side)")
            continue
        for name, m in e2e.items():
            pv = [r["end_to_end"][name] for r in ps.values()]
            cv = [r["end_to_end"][name] for r in cs.values()]
            pairs = [(ps[s]["end_to_end"][name], cs[s]["end_to_end"][name])
                     for s in sorted(ps.keys() & cs.keys())]
            v, wins = verdict(pv, cv, pairs, m["bound"], m["better"] == "lower")
            pq, cq = quartiles(pv), quartiles(cv)
            print(f"{w:<26} {name:<16} {'/'.join(map(fmt, pq)):<29} "
                  f"{'/'.join(map(fmt, cq)):<29} {wins:>2}/{len(pairs):<4} {v}")

    print("\nper layer (traced runs, medians)")
    for w in workloads:
        pl = [r["layers"] for r in parent if r["workload"] == w and r["trace"]]
        cl = [r["layers"] for r in change if r["workload"] == w and r["trace"]]
        if not pl or not cl:
            continue
        for k in sorted(pl[0]):
            pm = statistics.median(x[k] for x in pl)
            cm = statistics.median(x[k] for x in cl)
            rel = f"{(cm - pm) / pm:+.1%}" if pm else ""
            print(f"{w:<26} {k:<32} {fmt(pm):>12} {fmt(cm):>12} {rel:>8}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
