#!/usr/bin/env python3
"""Compare two sets of benchmark results, per workload.

Usage:

    python3 perfbench/compare.py BASE CANDIDATE

BASE and CANDIDATE are each a directory of run records (perfbench/run.py
keeps one per run under perfbench/results/) or a list of record files
separated by commas. For every workload both sets ran it prints:

- each end-to-end metric's median and quartiles over all runs on both sides,
  the change of the median, the base's own spread (quartile distance /
  median), and the share of run pairs in which the candidate was better.
  Runs pair by seed; a seed run several times pairs its runs in load order
  (file name order, which for one seed is time order), the surplus unpaired;
- the per-layer metrics of the traced runs that changed: counts (jobs,
  stages, tasks), CPU-seconds and bytes first, wall times second.
"""
import json
import statistics
import sys
from pathlib import Path

COUNTS = ("exec.jobs", "exec.stages", "exec.tasks", "queries.eager_jobs",
          "output.records", "Tables.cached_rdds", "Tables.partial_rdds")
CPU_AND_BYTES = ("exec.task_cpu_s", "driver.cpu_s", "exec.task_run_s", "exec.gc_s",
                 "shuffle.write_mb", "shuffle.read_mb", "spill_mb", "output.write_mb",
                 "Tables.cached_mb")


def load(spec):
    paths = []
    for part in spec.split(","):
        p = Path(part)
        if p.is_dir():
            paths += sorted(q for q in p.glob("*.json") if not q.name.endswith(".spans.json"))
        else:
            paths.append(p)
    runs = []
    for p in paths:
        r = json.loads(p.read_text())
        if "workload" in r and "metrics" in r:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, name):
    return [r["metrics"][name] for r in runs if name in r["metrics"]]


def pairs(base, cand, name):
    """(base, candidate) values of runs with the same seed, k-th with k-th."""
    by_seed = {}
    for side, runs in ((0, base), (1, cand)):
        for r in runs:
            if name in r["metrics"]:
                by_seed.setdefault(r["seed"], ([], []))[side].append(r["metrics"][name])
    return [p for a, b in by_seed.values() for p in zip(a, b)]


def compare_e2e(base, cand):
    names = sorted({k for r in base + cand for k in r["metrics"]})
    print(f"  {'metric':14s} {'base median [q1, q3]':>30s} {'cand median [q1, q3]':>30s}"
          f" {'change':>8s} {'base spread':>11s} {'cand won':>9s}")
    for name in names:
        a, b = values(base, name), values(cand, name)
        if not a or not b:
            continue
        qa, qb = quartiles(a), quartiles(b)
        change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
        spread = (qa[2] - qa[0]) / qa[1] if qa[1] else float("nan")
        paired = pairs(base, cand, name)
        won = sum(1 for x, y in paired if y < x)
        lost = sum(1 for x, y in paired if y > x)
        won_s = f"{won}/{len(paired)}" if paired else "-"
        print(f"  {name:14s} {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}]".ljust(47) +
              f" {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}]".ljust(31) +
              f" {change:+8.1%} {spread:11.1%} {won_s:>9s}" +
              ("" if lost or not paired else "  (never worse)"))


def compare_layers(base, cand):
    names = sorted({k for r in base + cand for k in r["metrics"]})
    med = lambda rs, n: statistics.median([r["metrics"][n] for r in rs if n in r["metrics"]])
    groups = (("counts", [n for n in names if n in COUNTS]),
              ("CPU-seconds and bytes", [n for n in names if n in CPU_AND_BYTES]),
              ("wall time and the rest", [n for n in names
                                          if n not in COUNTS and n not in CPU_AND_BYTES]))
    for title, group in groups:
        rows = []
        for n in group:
            try:
                a, b = med(base, n), med(cand, n)
            except statistics.StatisticsError:
                continue
            if a != b:
                rel = f"{(b - a) / a:+.1%}" if a else "new"
                rows.append(f"    {n:42s} {a:12.5g} -> {b:12.5g}  {rel}")
        print(f"  {title}: " + ("unchanged" if not rows else ""))
        for row in rows:
            print(row)


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, cand = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in cand})
    if not workloads:
        print("no workload in common", file=sys.stderr)
        return 1
    for w in workloads:
        for traced in (False, True):
            b = [r for r in base if r["workload"] == w and bool(r["trace"]) == traced]
            c = [r for r in cand if r["workload"] == w and bool(r["trace"]) == traced]
            if not b or not c:
                continue
            kind = "per-layer (traced runs, medians)" if traced else "end to end"
            print(f"{w} — {kind}: {len(b)} base runs, {len(c)} candidate runs")
            (compare_layers if traced else compare_e2e)(b, c)
    return 0


if __name__ == "__main__":
    sys.exit(main())
