"""The one per-query boundary (``queries.core.query``).

The compat pin and the shuffle sizing run once per query, in the
registered wrapper's prologue, and never per read, because each sizing
walks all ten fixture tables. These tests pin that a read sets no conf
and that a query walks the fixture once however many tables it reads;
a source scan keeps a new per-read call from creeping back in.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_pyspark_spark"

# callee -> the only modules (relative to the package) that may call it
CALLERS = {
    "ensure_compat": {"session.py", "queries/core.py"},
    "autosize_shuffle_partitions": {"queries/core.py"},
}


def test_read_table_sets_no_conf(spark, oracle_sf_dir, monkeypatch):
    """A bare read on a session with Spark 4 defaults only reads: no
    ``RuntimeConfig.set``, and ANSI stays as the caller left it."""
    from pyspark.sql.conf import RuntimeConfig

    from etl_pyspark_spark.sources.io import read_table

    s2 = spark.newSession()
    s2.conf.set("spark.sql.ansi.enabled", "true")
    sets = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        sets.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    read_table(s2, oracle_sf_dir, "orders")
    assert sets == []
    assert s2.conf.get("spark.sql.ansi.enabled") == "true"


def test_query_walks_fixture_once(spark, oracle_sf_dir, monkeypatch):
    """Two reads in one query, or a query nested in another, size the
    shuffle (and walk the fixture) once."""
    import etl_pyspark_spark.sources.io as io
    from etl_pyspark_spark.registry import QUERIES

    calls = []
    real = io._fixture_max_rows

    def spy(sf_dir):
        calls.append(sf_dir)
        return real(sf_dir)

    monkeypatch.setattr(io, "_fixture_max_rows", spy)
    for name in ("join_semi", "unpivot_long"):
        calls.clear()
        QUERIES[name](spark, oracle_sf_dir)
        assert calls == [oracle_sf_dir], name


def _calls(tree: ast.AST, names) -> list[tuple[str, int]]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            callee = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if callee in names:
                out.append((callee, node.lineno))
    return out


def test_boundary_calls_only_in_allowed_modules():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for callee, line in _calls(ast.parse(path.read_text()), CALLERS):
            if rel not in CALLERS[callee]:
                stray.append(f"{rel}:{line} {callee}(")
    assert not stray, (
        "the compat pin and the shuffle sizing belong to the query "
        f"prologue (queries/core.py), not to reads: {stray}"
    )
    # the prologue itself must still make both calls
    core = ast.parse((PKG / "queries" / "core.py").read_text())
    assert {c for c, _ in _calls(core, CALLERS)} == set(CALLERS)


def test_query_keeps_callers_shuffle_partitions(spark, oracle_sf_dir):
    """The shuffle sizing floors at the caller's own setting: a value
    set on the session (or on a sibling ``newSession()``) after its
    last query still holds after the next query's prologue."""
    from etl_pyspark_spark.registry import QUERIES

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    QUERIES["filter_project"](spark, oracle_sf_dir)
    s2 = spark.newSession()
    try:
        spark.conf.set(key, "64")
        s2.conf.set(key, "200")
        QUERIES["filter_project"](spark, oracle_sf_dir)
        QUERIES["filter_project"](s2, oracle_sf_dir)
        assert spark.conf.get(key) == "64"
        assert s2.conf.get(key) == "200"
    finally:
        spark.conf.set(key, before)
    QUERIES["filter_project"](spark, oracle_sf_dir)
    assert spark.conf.get(key) == before
