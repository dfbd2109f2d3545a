"""Pure measurement helpers: percentiles, spans, time-window attribution.

Nothing here talks to Spark, so the rules the benchmark reports by are
unit-tested on synthetic data (``perfbench/test_measure.py``).

Times are seconds since the epoch (``time.time()``); Spark's status
store stamps jobs and stages in whole epoch milliseconds, which
``attribute`` accepts directly.
"""

from __future__ import annotations

import math
import re
import statistics

#: The tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has ``TAIL_BEYOND`` samples
    beyond it: ``(value, percentile, n)``.

    With ``n`` sorted samples the value is the one with exactly ten
    larger samples above it, at percentile ``100 * (n - 10) / n``:
    n = 100 gives the 90th, n = 48 the 79th, n = 24 only the 58th
    (barely above the median) and n = 18 the 44th (below it). Needs
    ``n > 10``."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"tail needs more than {TAIL_BEYOND} samples, got {n}")
    ordered = sorted(samples)
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def end_to_end(setups: list[dict], passes: list[dict]) -> tuple[dict, dict, dict]:
    """The timing metrics of a run, ``{name: (value, unit)}``; the same
    times unscaled, ``{name: seconds}``; and the tail's percentile and
    sample count.

    Each set-up and pass carries the ``host_speed`` it ran at (1.0 when
    absent): the host's measured speed over a fixed reference speed. A
    time is reported at the reference speed, ``seconds * host_speed``,
    so a host that runs everything at half speed for a while (and
    halves ``host_speed``) leaves the metrics where they were.

    ``suite_s`` is the mean pass. ``query_p50_s`` is the median over
    the workload's queries of each query's mean time over the passes:
    averaging a query's times first keeps one slow pass from moving
    which query sits in the middle. ``query_tail_s`` takes every query
    attempt of the passes as a sample. Both count a query that raised
    (its time until it raised), so the sample count is fixed by the
    workload and failures never cut it short."""
    def speed(d):
        return d.get("host_speed", 1.0)

    def timings(scale):
        per_query: dict[str, list[float]] = {}
        for p in passes:
            for q in p["queries"]:
                per_query.setdefault(q["query"], []).append(q["query_s"] * scale(p))
        samples = [t for times in per_query.values() for t in times]
        value, pct, n = tail(samples)
        return {
            "setup_s": statistics.median([s["setup_s"] * scale(s) for s in setups]),
            "suite_s": statistics.fmean([p["suite_s"] * scale(p) for p in passes]),
            "query_p50_s": statistics.median([statistics.fmean(t) for t in per_query.values()]),
            "query_tail_s": value,
        }, pct, n

    scaled, pct, n = timings(speed)
    raw, _, _ = timings(lambda d: 1.0)
    metrics = {k: (v, "s") for k, v in scaled.items()}
    return metrics, raw, {"query_tail_percentile": pct, "query_samples": n}


def failed_frac(failed: int, attempted: int) -> float:
    """Queries that raised or failed the output check, over the
    number attempted."""
    if attempted < 1:
        raise ValueError("no query attempted")
    return failed / attempted


def busy_ratio(executor_run_s: float, execute_s: float, cores: int) -> float:
    """Share of the cores' time inside execute spans that tasks ran:
    ``executor_run_s / (execute_s * cores)``."""
    if execute_s <= 0 or cores < 1:
        return 0.0
    return executor_run_s / (execute_s * cores)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children counted once)."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per ``layer``."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out


def attribute(spans: list[dict], when_ms: int) -> str | None:
    """Id of the innermost span whose interval holds the epoch-ms
    instant ``when_ms``, or None. Span bounds are widened to whole
    milliseconds (start floored, end ceiled), the resolution Spark
    stamps submissions at. Innermost is the deepest in the parent
    chain; of two siblings that share the boundary millisecond, the
    one that started later."""
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s.get("parent") in by_id:
            s, d = by_id[s["parent"]], d + 1
        return d

    best = None
    for s in spans:
        if math.floor(s["start"] * 1000) <= when_ms <= math.ceil(s["end"] * 1000):
            key = (depth(s), s["start"])
            if best is None or key > best[0]:
                best = (key, s["id"])
    return None if best is None else best[1]


#: Physical operators counted by ``plan_counts`` (see ``_NODE``).
PYTHON_EVAL_NODES = frozenset(
    {"ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython"}
)
# the operator name on a ``treeString`` line: tree drawing, an optional
# whole-stage-codegen marker ``*(n)``, then the name
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]\w*)")


def plan_counts(tree: str) -> dict[str, int]:
    """Operator counts of one physical plan's ``treeString``: shuffle
    exchanges, sort-merge joins, Python evaluation nodes and
    in-memory (cache) scans."""
    names = [m.group(1) for line in tree.splitlines() if (m := _NODE.match(line))]
    return {
        "exchanges": sum(n == "Exchange" for n in names),
        "sort_merge_joins": sum(n == "SortMergeJoin" for n in names),
        "python_evals": sum(n in PYTHON_EVAL_NODES for n in names),
        "cache_scans": sum(n == "InMemoryTableScan" for n in names),
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
