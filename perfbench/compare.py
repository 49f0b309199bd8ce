#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and per metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds run artifacts as run.py writes them
(<workload>-s<seed>-t<trace>.json, normally a copy of .bench_build/perfbench
after a series of runs). Runs of the two sides are paired by workload and
seed; run the pairs alternately (base first, then change first, ...) so
that drift in the machine hits both sides alike.

Rules, for every end-to-end metric of BENCHMARK.json and every workload:
  gain        the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the base's
              interquartile range;
  regression  the change's median is worse than the base's by more than
              the metric's bound;
  unresolved  no regression, but the base's own spread (IQR / median) is
              wider than the bound, and not every change run beats every
              base run;
  same        otherwise.
A gain does not count when the change has more failed executions.
Traced runs (t1) print the median per-layer delta for every layer metric.
"""
import json
import os
import statistics
import sys


RANK = {"same": 0, "gain": 0, "unresolved": 1, "regression": 2}


def load(d):
    runs = {}
    for n in sorted(os.listdir(d)):
        if not n.endswith(".json") or "-s" not in n:
            continue
        with open(os.path.join(d, n)) as f:
            a = json.load(f)
        workload, rest = n[:-5].rsplit("-s", 1)
        seed, trace = rest.split("-t")
        runs.setdefault((workload, int(trace)), {})[int(seed)] = a
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, better, bound):
    """base/change: values of paired runs, same order."""
    sign = 1 if better == "higher" else -1
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    wins = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
    pairs = len(base)
    iqr = bq3 - bq1
    if wins >= 0.9 * pairs and sign * (cmed - bmed) > iqr:
        return "gain", wins
    if -sign * (cmed - bmed) > bound * abs(bmed):
        return "regression", wins
    all_better = all(sign * (c - b) > 0 for c in change for b in base)
    if iqr / abs(bmed) > bound and not all_better:
        return "unresolved", wins
    return "same", wins


def main(base_dir, change_dir):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(base_dir), load(change_dir)
    worst = "same"
    for (workload, trace) in sorted(set(base) & set(change)):
        b, c = base[(workload, trace)], change[(workload, trace)]
        seeds = sorted(set(b) & set(c))
        if not seeds:
            continue
        if trace == 0:
            print(f"\n== {workload}: {len(seeds)} pairs (seeds {seeds[0]}..{seeds[-1]})")
            print(f"{'metric':14s} {'base median [q1,q3]':>30s} {'change median [q1,q3]':>30s}"
                  f" {'delta':>8s} {'wins':>6s}  verdict")
            more_failures = sum(c[s]["failed"] for s in seeds) > sum(b[s]["failed"] for s in seeds)
            for m in spec["end_to_end"]:
                bv = [b[s]["metrics"][m["name"]] for s in seeds]
                cv = [c[s]["metrics"][m["name"]] for s in seeds]
                v, wins = verdict(bv, cv, m["better"], m["bound"])
                if v == "gain" and more_failures:
                    v = "same"  # a gain does not count when more executions fail
                if RANK[v] > RANK[worst]:
                    worst = v
                bq, cq = quartiles(bv), quartiles(cv)
                delta = (cq[1] - bq[1]) / bq[1]
                print(f"{m['name']:14s} {bq[1]:12.4g} [{bq[0]:.4g},{bq[2]:.4g}]".ljust(46) +
                      f"{cq[1]:12.4g} [{cq[0]:.4g},{cq[2]:.4g}]".ljust(31) +
                      f"{100 * delta:+7.1f}% {wins:2d}/{len(seeds):<2d}  {v}  (bound {m['bound']})")
            print(f"{'error_rate':14s} {sum(b[s]['failed'] for s in seeds)} failed of "
                  f"{sum(b[s]['attempted'] for s in seeds)} -> {sum(c[s]['failed'] for s in seeds)} "
                  f"failed of {sum(c[s]['attempted'] for s in seeds)}")
        else:
            print(f"\n== {workload} traced: median per-layer delta over {len(seeds)} runs")
            for m in spec["per_layer"]:
                bv = statistics.median(b[s]["layers"][m["name"]] for s in seeds)
                cv = statistics.median(c[s]["layers"][m["name"]] for s in seeds)
                rel = f"{100 * (cv - bv) / bv:+7.1f}%" if bv else "    n/a"
                print(f"  {m['name']:34s} {bv:14.4f} -> {cv:14.4f} {m['unit']:6s} {rel}")
    print(f"\noverall: {worst}")
    return 1 if worst == "regression" else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
