"""Driver-side constants reach the plan as literals or as a
``LocalTableScan``, never as a table over a Python RDD.

``spark.createDataFrame(<python list>)`` plans a ``Scan ExistingRDD``,
so every job that reads or broadcasts it starts Python workers. The
order-statistics operators read their per-partition offsets and
per-probe thresholds as literal arrays, and every other small table
goes through ``sources.io.literal_frame``. The exact quantile search
takes its below-bracket counts from an ordinary aggregate, not from an
accumulator-backed ``observe()`` that a retried task can count twice.
"""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_pyspark_spark.plans import plan_of, tree_of
from etl_pyspark_spark.sources.io import literal_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_pyspark_spark"


def _method_calls(tree: ast.AST, attr: str) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    ]


def test_create_dataframe_only_in_literal_frame():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = {
            line
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "literal_frame"
            for line in _method_calls(fn, "createDataFrame")
        }
        rel = path.relative_to(PKG).as_posix()
        stray += [
            f"{rel}:{line}"
            for line in _method_calls(tree, "createDataFrame")
            if line not in allowed
        ]
    assert not stray, f"build small tables with literal_frame: {stray}"


def test_operators_never_observe():
    stray = [
        f"{path.relative_to(PKG).as_posix()}:{line}"
        for path in sorted((PKG / "operators").rglob("*.py"))
        for line in _method_calls(ast.parse(path.read_text()), "observe")
    ]
    assert not stray, f"observe() metrics must not feed a result: {stray}"


def test_literal_frame_is_local_table_scan(spark):
    ddl = "k int, name string, x double"
    rows = [(1, "a", 0.5), (2, None, None)]
    for data in (rows, []):
        df = literal_frame(spark, data, ddl)
        tree = tree_of(df)
        assert "LocalTableScan" in tree and "ExistingRDD" not in tree, tree
        assert [tuple(r) for r in df.collect()] == data
        assert df.schema == StructType.fromDDL(ddl)


def test_order_statistics_plan_no_python_table(spark, oracle_sf_dir):
    """The executed plans of the five operators and of a registered
    consumer scan no Python RDD and broadcast nothing."""
    from etl_pyspark_spark.operators.ranks import (
        with_global_cummax,
        with_global_cumsum,
        with_global_cumsum_multi,
        with_global_ntile,
        with_global_rank,
    )
    from etl_pyspark_spark.registry import QUERIES

    df = spark.range(200).select(
        (F.col("id") * 7 % 200).alias("k"), (F.col("id") % 5).alias("w")
    )
    frames = {
        "rank": with_global_rank(df, ["k"], num_partitions=4),
        "ntile": with_global_ntile(df, ["k"], 3, num_partitions=4),
        "cumsum": with_global_cumsum(df, ["k"], "w", num_partitions=4),
        "cumsum_multi": with_global_cumsum_multi(
            df, ["k"], ["w", "k"], num_partitions=4
        ),
        "cummax": with_global_cummax(df, ["k"], "w", num_partitions=4),
        "token_budget_selection": QUERIES["token_budget_selection"](
            spark, oracle_sf_dir
        ),
    }
    for name, out in frames.items():
        assert out.collect()
        plan = plan_of(out)
        assert "isFinalPlan=true" in plan, name
        assert "ExistingRDD" not in plan, (name, plan)
        assert "BroadcastExchange" not in plan, (name, plan)
