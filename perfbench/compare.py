#!/usr/bin/env python3
"""Compare the benchmark runs of two commits.

    python3 perfbench/compare.py PARENT_RECORDS CHANGE_RECORDS

Each argument is a records directory written by ``run.py``
(``.bench_build/perfbench/records`` of that commit's checkout). For
every workload and end-to-end metric in ``BENCHMARK.json`` it prints
each side's quartiles, the share of run pairs the change wins (runs
paired by seed, then by start time; ties count for neither side) and a
verdict:

- ``improved``: the change wins at least 9 in 10 pairs and the medians
  differ by more than the parent's quartile spread;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound;
- ``unresolved``: the parent's own quartile spread is wider than the
  bound, unless every change run beats every parent run;
- ``no worse than the bound`` otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import sys

from measure import quartiles

HERE = os.path.dirname(os.path.abspath(__file__))


def _better(a: float, b: float, better: str) -> bool:
    return b < a if better == "lower" else b > a


def win_share(parent: list[float], change: list[float], better: str) -> float:
    """Share of (parent, change) pairs the change wins; ties count for
    neither side."""
    pairs = list(zip(parent, change))
    return sum(_better(a, b, better) for a, b in pairs) / len(pairs)


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    q1, med_a, q3 = quartiles(parent)
    med_b = quartiles(change)[1]
    spread = q3 - q1
    if (
        win_share(parent, change, better) >= 0.9
        and _better(med_a, med_b, better)
        and abs(med_b - med_a) > spread
    ):
        return "improved"
    every_better = all(_better(a, b, better) for a in parent for b in change)
    if spread > bound * abs(med_a) and not every_better:
        return "unresolved"
    limit = med_a * (1 + bound) if better == "lower" else med_a * (1 - bound)
    if _better(med_b, limit, better) and med_b != limit:
        return "worse"
    return "no worse than the bound"


def load_runs(records_dir: str) -> dict[str, list[dict]]:
    """Untraced run records per workload, ordered by seed then time."""
    runs: dict[str, list[dict]] = {}
    for path in glob.glob(os.path.join(records_dir, "*", "*-trace0-*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        runs.setdefault(rec["workload"], []).append(rec)
    for recs in runs.values():
        recs.sort(key=lambda r: (r["seed"], r["started"]))
    return runs


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parent, change = (load_runs(d) for d in argv)
    print(f"{'workload':14} {'metric':14} {'unit':5} {'parent q1/med/q3':>28} "
          f"{'change q1/med/q3':>28} {'wins':>5} verdict")
    for workload in sorted(set(parent) & set(change)):
        for m in spec["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in parent[workload]]
            b = [r["metrics"][m["name"]]["value"] for r in change[workload]]
            n = min(len(a), len(b))
            a, b = a[:n], b[:n]
            qa = "/".join(f"{x:.4g}" for x in quartiles(a))
            qb = "/".join(f"{x:.4g}" for x in quartiles(b))
            print(f"{workload:14} {m['name']:14} {m['unit']:5} {qa:>28} {qb:>28} "
                  f"{win_share(a, b, m['better']):5.2f} "
                  f"{verdict(a, b, m['better'], m['bound'])}")
    missing = set(parent) ^ set(change)
    if missing:
        print(f"workloads run on one side only: {sorted(missing)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
