"""Unit tests of the benchmark's reporting rules, on synthetic data.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from answers import answer, mismatches  # noqa: E402
from compare import verdict, win_share  # noqa: E402
from measure import (  # noqa: E402
    attribute,
    busy_ratio,
    end_to_end,
    failed_frac,
    layer_self_times,
    plan_counts,
    self_times,
    tail,
)


# ------------------------------------------------------------ tail rule

def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_small_sample_is_a_low_percentile():
    samples = [float(i) for i in range(20)]
    value, pct, n = tail(samples)
    assert n == 20 and pct == 50.0 and value == 9.0
    assert sum(s > value for s in samples) == 10


def test_tail_ignores_input_order():
    assert tail([5.0, 1.0, 3.0] * 5) == tail(sorted([5.0, 1.0, 3.0] * 5))


def test_tail_needs_more_than_ten():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def _pass(times, errors=()):
    return {
        "suite_s": sum(times),
        "queries": [
            {"query": f"q{i}", "query_s": t, "error": "RuntimeError: boom" if i in errors else None}
            for i, t in enumerate(times)
        ],
    }


def test_end_to_end_keeps_failed_queries_as_samples():
    # 7 queries x 2 timed passes; two queries raise in every pass
    times = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]
    passes = [_pass(times, errors={1, 4}), _pass([t + 1.0 for t in times], errors={1, 4})]
    setups = [{"setup_s": s} for s in (9.0, 1.0, 2.0)]
    metrics, raw, info = end_to_end(setups, passes)
    assert info == {"query_tail_percentile": 100.0 * 4 / 14, "query_samples": 14}
    assert raw == {k: v for k, (v, _) in metrics.items()}  # no host_speed: unscaled
    assert metrics["setup_s"] == (2.0, "s")
    assert metrics["suite_s"] == (31.5, "s")  # mean of 28 and 35
    assert metrics["query_p50_s"] == (4.5, "s")  # median of the means 1.5 ... 7.5
    assert metrics["query_tail_s"] == (3.0, "s")


def test_end_to_end_scales_times_to_reference_host_speed():
    # the second pass (and its set-up) ran while the host was at half speed
    times = [float(t) for t in range(1, 13)]
    slow = {"host_speed": 0.5}
    passes = [_pass(times), {**_pass([2 * t for t in times]), **slow}]
    setups = [{"setup_s": 9.0}, {"setup_s": 1.0}, {"setup_s": 4.0, **slow}]
    metrics, raw, _ = end_to_end(setups, passes)
    assert metrics["suite_s"] == (78.0, "s")  # both passes 78 s at full speed
    assert raw["suite_s"] == 117.0
    assert metrics["query_p50_s"] == (6.5, "s")
    assert metrics["setup_s"] == (2.0, "s")  # median of 9, 1 and 4 x 0.5
    assert raw["setup_s"] == 4.0


def test_query_p50_averages_each_query_over_the_passes():
    # q0 is fast in one pass and slow in the other; its mean ranks it
    passes = [_pass([1.0, 2.0, 3.0]), _pass([5.0, 2.0, 3.0])] * 2
    metrics, _, _ = end_to_end([{"setup_s": 1.0}], passes)
    assert metrics["query_p50_s"] == (3.0, "s")  # means 3, 2 and 3
    # pooled, the twelve times would give a median of 2.5


# ------------------------------------------------------------- ratios

def test_busy_ratio_base_is_cores_times_execute_time():
    # 4 cores busy 2 s each inside 2 s of execute time: fully busy
    assert busy_ratio(8.0, 2.0, 4) == 1.0
    assert busy_ratio(2.0, 2.0, 4) == 0.25
    assert busy_ratio(1.0, 0.0, 4) == 0.0


def test_failed_frac_base_is_attempted():
    assert failed_frac(0, 40) == 0.0
    assert failed_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        failed_frac(0, 0)


# ---------------------------------------------------------- self time

def _span(sid, start, end, parent=None, layer="x"):
    return {"id": sid, "start": start, "end": end, "parent": parent, "layer": layer}


def test_self_time_subtracts_children():
    spans = [
        _span("q", 0.0, 10.0, layer="query"),
        _span("b", 0.0, 4.0, "q", "queries"),
        _span("e", 5.0, 9.0, "q", "execute"),
    ]
    own = self_times(spans)
    assert own == {"q": 2.0, "b": 4.0, "e": 4.0}
    assert layer_self_times(spans) == {"query": 2.0, "queries": 4.0, "execute": 4.0}


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span("r", 0.0, 10.0),
        _span("a", 1.0, 5.0, "r"),
        _span("b", 3.0, 7.0, "r"),
        _span("c", 9.0, 12.0, "r"),  # runs past the parent: clipped
    ]
    assert self_times(spans)["r"] == pytest.approx(10.0 - 6.0 - 1.0)


# ------------------------------------------------ time-window attribution

def test_attribute_picks_innermost_span():
    spans = [
        _span("q", 100.0, 110.0),
        _span("build", 100.0, 104.0, "q"),
        _span("exec", 104.5, 110.0, "q"),
    ]
    assert attribute(spans, 102_000) == "build"
    assert attribute(spans, 104_200) == "q"  # between children
    assert attribute(spans, 109_999) == "exec"
    assert attribute(spans, 99_000) is None
    assert attribute(spans, 111_000) is None


def test_attribute_widens_spans_to_whole_ms():
    # a job submitted in the same millisecond the span started is
    # stamped at the floor of that millisecond
    spans = [_span("s", 100.0004, 100.0106)]
    assert attribute(spans, 100_000) == "s"
    assert attribute(spans, 100_011) == "s"
    assert attribute(spans, 100_012) is None


def test_attribute_counts_jobs_from_other_threads_by_time():
    # a background job (no job group) still lands in the span it ran in
    spans = [_span("stream_build", 50.0, 53.0), _span("other", 53.0, 54.0)]
    jobs = [50_100, 51_900, 52_999, 53_500]
    got = [attribute(spans, t) for t in jobs]
    assert got == ["stream_build"] * 3 + ["other"]


# ------------------------------------------------------------- plans

def test_plan_counts_reads_operator_names():
    tree = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- SortMergeJoin [a#1], [b#2], Inner",
        "   :- *(1) Sort [a#1 ASC NULLS FIRST], false, 0",
        "   :  +- Exchange hashpartitioning(a#1, 4), ENSURE_REQUIREMENTS, [plan_id=1]",
        "   :     +- ArrowEvalPython [f(x#3)#4], [pythonUDF0#5], 200",
        "   :        +- InMemoryTableScan [x#3]",
        "   :              +- InMemoryRelation [x#3], StorageLevel(memory, 1 replicas)",
        "   +- Exchange hashpartitioning(b#2, 4), ENSURE_REQUIREMENTS, [plan_id=2]",
        "      +- BroadcastExchange HashedRelationBroadcastMode(List(b#2)), [plan_id=3]",
        "         +- MapInPandas f(y#6), [y#6], false",
    ])
    assert plan_counts(tree) == {
        "exchanges": 2, "sort_merge_joins": 1, "python_evals": 2, "cache_scans": 1,
    }


# ------------------------------------------------------------ answers

def test_answer_is_order_insensitive_and_folds_int_widths():
    a = answer(["b", "a"], ["int", "f64"], [(1, 0.5), (2, 1.0 / 3)])
    b = answer(["a", "b"], ["f64", "int"], [(0.3333333333333333, 2), (0.5, 1)])
    assert a == b and a["rows"] == 2
    assert mismatches(a, b) == []


def test_answer_mismatch_reports_what_differs():
    a = answer(["x"], ["int"], [(1,), (2,)])
    b = answer(["x"], ["int"], [(1,), (3,)])
    assert mismatches(a, b) == ["value hash differs"]
    c = answer(["x"], ["int"], [(1,)])
    assert "rows 1 != 2" in mismatches(a, c)


# ------------------------------------------------------------ compare

def test_win_share_ties_count_for_neither():
    # lower is better: B wins pairs 1 and 2, ties pair 3, loses pair 4
    assert win_share([10, 10, 10, 10], [9, 8, 10, 11], "lower") == 0.5


def test_verdicts():
    base = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.02, 9.98, 10.0]
    better = [x * 0.8 for x in base]
    same = list(base)
    worse = [x * 1.3 for x in base]
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert verdict(base, better, "lower", 0.1) == "improved"
    assert verdict(base, same, "lower", 0.1) == "no worse than the bound"
    assert verdict(base, worse, "lower", 0.1) == "worse"
    assert verdict(noisy, noisy, "lower", 0.1) == "unresolved"
