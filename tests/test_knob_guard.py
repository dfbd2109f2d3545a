"""Frozen list of the ``SPARK_GRAFT_*`` environment knobs.

Every knob is a second code path that some run may take and no test
covers. This scan collects the distinct ``SPARK_GRAFT_*`` names in the
engine, ``bench.py``, ``scripts/``, ``tests/`` and
``__spark_entry__.py`` and pins them to the list below, so

- a new knob fails the build until it is added here on purpose, and
- a removed knob must also leave the list.
"""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent

KNOBS = frozenset(
    {
        "SPARK_GRAFT_BENCH_NO_LAYOUTS",
        "SPARK_GRAFT_BENCH_ONLY",
        "SPARK_GRAFT_BENCH_OUT",
        "SPARK_GRAFT_BENCH_PHASE",
        "SPARK_GRAFT_BENCH_PREV",
        "SPARK_GRAFT_BENCH_REPS",
        "SPARK_GRAFT_BENCH_SKIP",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_NATIVE_DST",
        "SPARK_GRAFT_NATIVE_SF",
        "SPARK_GRAFT_NO_MASTER",
        "SPARK_GRAFT_ORACLE_SF",
        "SPARK_GRAFT_ORACLE_SF_DIR",
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_SMOKE_DST",
        "SPARK_GRAFT_SMOKE_MODE",
        "SPARK_GRAFT_SMOKE_REP",
        "SPARK_GRAFT_SMOKE_SRC",
        "SPARK_GRAFT_TEST_SF_DIR",
    }
)


def _sources():
    here = pathlib.Path(__file__).resolve()
    for d in ("etl_pyspark_spark", "scripts", "tests"):
        yield from (p for p in sorted((ROOT / d).rglob("*.py")) if p != here)
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def test_knobs_match_frozen_list():
    pattern = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")
    found = {m for p in _sources() for m in pattern.findall(p.read_text())}
    assert len(KNOBS) == 20
    assert found == KNOBS, {
        "new": sorted(found - KNOBS),
        "gone": sorted(KNOBS - found),
    }
