"""Second-population oracle rehearsal (round 8).

Every driver correctness check runs on ONE data population (the
driver's seed-42 fixtures), so an oracle can encode a coincidence of
that population and never be caught — exactly what happened twice in
round 8, when the first sweep against the independently generated
native fixture (scripts/native_datagen.py: natural skew, fresh
duplicate seeding, different value geometry) exposed the
stream-stream watermark min-rule and a decimal->double ulp hazard at
a .365 display midpoint (see queries/graph_temporal.py
percent_of_parent_rollup).

This test keeps that pressure on: a rotating 40-query window of the
full oracle set value-hash compares Spark vs DuckDB **on the native
fixture**, advancing by round so the whole registry re-verifies on
the second population every ~10 rounds on top of the full driver-
fixture sweep in test_oracle.py. Skips when the native fixture has
not been generated (scratch-only; build with
``SPARK_GRAFT_NATIVE_SF=0.01 python scripts/native_datagen.py``).

The derived-side-table queries whose oracle paths pin to
``$SPARK_GRAFT_ORACLE_SF`` (documented in queries/_shared.py) are
skipped unless the env var points at the native fixture — their
oracle SQL strings are baked at import time.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from etl_pyspark_spark.queries._shared import _ORACLE_SF
from etl_pyspark_spark.registry import ORACLES, QUERIES
from etl_pyspark_spark.sources.layouts import _SCRATCH
from tests.oracle_utils import compare, duckdb_connect

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_NATIVE = os.path.join(_SCRATCH, "sf0.01native")


def _next_round() -> int:
    """1 + the max round number present in CORRECTNESS_r*.json names —
    robust to archived/pruned records (a file COUNT repeats or skips
    rotation windows when records are removed) and to running the
    suite from another checkout."""
    rounds = [0]
    for p in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


_ROUND = _next_round()
_WINDOW = 40

# oracles whose SQL reads a $SPARK_GRAFT_ORACLE_SF-pinned side table
_PINNED = {
    "parquet_footer_stats",
    "cow_delete_plan",
    "layout_skipping_report",
    "text_compression_ratio",
}


def _window(names: list[str], key: int) -> list[str]:
    names = sorted(names)
    start = (key * _WINDOW) % len(names)
    return (names + names)[start : start + _WINDOW]


# Newest registry additions (r10 verdict #7): rehearse them on the
# second population EVERY round until they age into the main rotation —
# the native fixture's single-row-group files and natural skew are
# exactly where spread()/ordering regressions hide. DERIVED, not
# hand-listed (r10 verdict #7 follow-up): query modules register in a
# fixed import order with the newest round's module last, so the tail
# of the insertion-ordered registry IS the newest-additions set — a
# new round's queries are rehearsed here with no hand edit, and older
# names age out as the tail advances. ~12 covers two rounds of
# additions at the recent growth rate.
_FRESH = [n for n in QUERIES if n in ORACLES][-12:]


@pytest.mark.slow
def test_native_population_fresh_additions(spark):
    if not os.path.isdir(os.path.join(_NATIVE, "lineitem.parquet")):
        pytest.skip("native fixture not built (scratch-only)")
    con = duckdb_connect(_NATIVE)
    failures = []
    try:
        for name in _FRESH:
            if name not in ORACLES:
                continue
            probs = compare(QUERIES[name](spark, _NATIVE), con, ORACLES[name])
            if probs:
                failures.append((name, probs[:2]))
    finally:
        con.close()
    assert not failures, failures


@pytest.mark.slow
def test_native_population_oracle_window(spark):
    if not os.path.isdir(os.path.join(_NATIVE, "lineitem.parquet")):
        pytest.skip("native fixture not built (scratch-only)")
    con = duckdb_connect(_NATIVE)
    native_pinned = _ORACLE_SF == os.path.basename(_NATIVE)
    failures = []
    for name in _window(sorted(ORACLES), _ROUND):
        if name in _PINNED and not native_pinned:
            continue
        probs = compare(QUERIES[name](spark, _NATIVE), con, ORACLES[name])
        if probs:
            failures.append((name, probs[:2]))
    assert not failures, failures
