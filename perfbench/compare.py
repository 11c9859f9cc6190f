#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one row per workload and metric.

    python3 perfbench/compare.py <parent runs> --change <change runs> [--trace]

Each set is a directory of run records (as run.py writes them to
perfbench/.work/records/) or a list of record files. Runs are paired by
workload, and by seed where both sets hold it. A row shows each side's
median and quartiles, the share of pairs the change wins (ties count for
neither side) and a verdict: improved, unchanged, unresolved or worse
(stats.verdict). No metric of a workload reads improved when the change's
runs failed more operations than the parent's. Bounds and directions come
from BENCHMARK.json; per-layer metrics have no bound and get no verdict.
--trace compares per-layer metrics instead.

Comparing untraced runs with traced runs of the same code gives the
tracing overhead on each end-to-end metric.
"""
import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def load(paths):
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def series(runs, workload, section, metric):
    """(seed, value) pairs of one metric, sorted by seed."""
    return sorted((r["seed"], r[section][metric]["value"]) for r in runs
                  if r["workload"] == workload and metric in r.get(section, {}))


def failed_ops(runs, workload, seeds):
    """Failed operations over the runs of one workload with these seeds."""
    return sum(r["failed"] for r in runs if r["workload"] == workload and r["seed"] in seeds)


def fmt(xs):
    q1, q2, q3 = stats.quartiles(xs)
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", nargs="+")
    ap.add_argument("--change", nargs="+", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    section = "per_layer" if args.trace else "end_to_end"
    metrics = bench[section]
    parent, change = load(args.parent), load(args.change)
    print(f"{'workload':18} {'metric':34} {'n':>5} {'parent median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'won':>5}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        for m in metrics:
            a, b = series(parent, w, section, m["name"]), series(change, w, section, m["name"])
            if not a or not b:
                continue
            seeds = {s for s, _ in a} & {s for s, _ in b}
            if seeds:  # pair by seed when the sets share seeds
                a = [x for x in a if x[0] in seeds]
                b = [x for x in b if x[0] in seeds]
            av, bv = [v for _, v in a], [v for _, v in b]
            won = stats.pair_wins(av, bv, m.get("better", "lower"))
            more_failures = (failed_ops(change, w, {s for s, _ in b})
                             > failed_ops(parent, w, {s for s, _ in a}))
            verdict = (stats.verdict(av, bv, m["better"], m["bound"], more_failures)
                       if "bound" in m else "-")
            print(f"{w:18} {m['name']:34} {len(av):>2}/{len(bv):<2} {fmt(av):>30} "
                  f"{fmt(bv):>30} {won:>5.2f}  {verdict}")


if __name__ == "__main__":
    main()
