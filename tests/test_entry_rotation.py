"""Driver re-sample rehearsal (r04 verdict #5).

The external CORRECTNESS gate has sampled the same 50 queries for two
rounds; most of the registry has never been driver-checked. This test
rehearses a rotating driver sample through the driver's EXACT entry
surface — ``__spark_entry__.queries()`` / ``oracle_sql()`` loaded from
the file, not the registry internals — value-hash comparing a
deterministic 50-query window keyed on round number (derived from the
CORRECTNESS_r*.json count, so it advances by construction). Windows
4r .. 4r+3 run each round (widened from 2 per r07 verdict #5: at 380
queries, 200 rehearsed per round revisits the whole registry every ~2
rounds instead of ~4) — mutually disjoint within a run AND fresh
versus the previous round's set — so the whole registry cycles
through the rehearsal even if the external sample stays put.
"""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

from tests.oracle_utils import compare, duckdb_connect

# Derived from repo state so the rehearsal rotates by construction
# (r05 verdict #2): the driver writes one CORRECTNESS_r{N}.json per
# completed round, so during round N+1 the count IS the current round
# key — no hand-bumped constant to forget.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ROUND = len(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))) + 1
_WINDOW = 50
_WINDOWS_PER_ROUND = 4


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rotation(names: list[str], key: int) -> list[str]:
    """Deterministic window of _WINDOW names starting at slot
    key*_WINDOW, wrapping; consecutive keys are disjoint while the
    registry holds >= 2*_WINDOW names."""
    names = sorted(names)
    start = (key * _WINDOW) % len(names)
    doubled = names + names
    return doubled[start : start + _WINDOW]


_KEYS = [_WINDOWS_PER_ROUND * _ROUND + i for i in range(_WINDOWS_PER_ROUND)]


@pytest.mark.slow
@pytest.mark.parametrize("key", _KEYS)
def test_entry_surface_rotation(key, spark, oracle_sf_dir):
    mod = _entry_module()
    qs, oracles = mod.queries(), mod.oracle_sql()
    sample = _rotation(sorted(oracles), key)
    # this round's parametrized windows must be mutually disjoint
    # (holds while the registry has >= _WINDOWS_PER_ROUND * _WINDOW
    # names; 380 >= 200)
    for other_key in _KEYS:
        if other_key == key:
            continue
        assert not set(sample) & set(_rotation(sorted(oracles), other_key))
    con = duckdb_connect(oracle_sf_dir)
    try:
        bad = {}
        for name in sample:
            problems = compare(
                qs[name](spark, oracle_sf_dir), con, oracles[name]
            )
            if problems:
                bad[name] = problems
        assert not bad, f"rotation {key}: {bad}"
    finally:
        con.close()
