"""Query registry: named Spark queries + matching DuckDB oracle SQL.

This is the engine's public correctness surface (driver contract in
``__spark_entry__.py``). Every operator from SURVEY.md §2 (reference
surface + §2.9 growth plan) registers here as:

- ``QUERIES[name]``: ``(spark, sf_dir) -> DataFrame``
- ``ORACLES[name]``: equivalent ANSI SQL for DuckDB over the same
  parquet fixtures (omitted only for genuinely non-SQL-expressible
  ops; the driver then records a weaker rows-only check).

Cross-engine determinism rules used throughout (FIXTURES.md §C):

- Alias every computed column identically on both sides (the driver
  sorts columns by name before hashing).
- Sums of doubles are order-dependent; both sides cast terms to
  ``DECIMAL(18,6)`` first so the sum is exact, then cast the result to
  double. (A binary double can never be an exact decimal midpoint, so
  the two engines' double->decimal roundings always agree.)
- Division by zero must yield NULL on both sides (ANSI off in Spark).
- LIMIT/top-k always carries a total tiebreak order.
- Raw event timestamps are returned as epoch seconds or truncated
  units, never as raw ns-precision timestamps.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pyspark_spark.checkpoint import drain_scoped_caches
from etl_pyspark_spark.functions.compat import pround, sql_pround
from etl_pyspark_spark.operators.baskets import MAX_BASKET
from etl_pyspark_spark.operators.blocking import MAX_BLOCK
from etl_pyspark_spark.operators.pipeline import events_pipeline
from etl_pyspark_spark.session import ensure_compat
from etl_pyspark_spark.sources.io import autosize_shuffle_partitions, read_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: nesting depth of registered-query calls (see query() below)
_DEPTH = [0]


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable plus oracle SQL.

    The registered wrapper is the one per-query boundary: its
    prologue (below) makes every per-query decision, so ``read_table``
    and the stream sources only read.

    Duplicate registration fails LOUDLY: a second ``@query("x")`` used
    to overwrite the first silently (the only symptom was the registry
    count dropping — caught twice by hand-grepping in rounds 4/7)."""

    def deco(fn):
        assert name not in QUERIES, f"duplicate query registration: {name}"

        # The one per-query prologue, so any driver that calls
        # queries()[name] gets it for free:
        # 1. drain: the PREVIOUS query's scoped within-query persists
        #    (checkpoint.scoped_persist) are dead by the time the next
        #    query builds, but used to stay registered in the
        #    CacheManager for the whole session — by query ~300 of a
        #    full run every compilation walked 60+ stale cached plans
        #    and late-session queries measured 1.5-5x their solo times
        #    (guide §5: "unpersist when done");
        # 2. pin the compat confs (session.ensure_compat; a no-op
        #    after a session's first query), because the caller's
        #    session may carry Spark 4 defaults;
        # 3. size spark.sql.shuffle.partitions to the fixture once
        #    (sources.io.autosize_shuffle_partitions), however many
        #    tables the query reads.
        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            # depth guard: a few queries build on ANOTHER registered
            # query (unpivot on pivot, snapshot on reference_pipeline);
            # the nested call must not drain the outer query's own
            # scoped caches mid-build, nor repeat the prologue.
            if _DEPTH[0] == 0:
                drain_scoped_caches()
                ensure_compat(spark)
                autosize_shuffle_partitions(spark, sf_dir)
            _DEPTH[0] += 1
            try:
                return fn(spark, sf_dir)
            finally:
                _DEPTH[0] -= 1

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def dec_sum(col, alias: str):
    """Order-insensitive exact sum of a double expression (see module doc)."""
    return F.sum(col.cast("decimal(18,6)")).cast("double").alias(alias)


def _dec_sum_sql(expr: str, alias: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


