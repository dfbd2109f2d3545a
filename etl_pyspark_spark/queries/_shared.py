"""Cross-family shared helpers (r07 verdict #4 consolidation).

Before round 8, helpers used across family-module boundaries lived in
whichever family defined them first historically, and any module
imported EARLIER in the facade that needed one carried a hand-written
deferred-import stub (``widening_r3._ensure_deflate_sizes`` et al.) —
a contract the duplicate-registration assert could not see. This
module now owns every such helper; it is imported first (right after
``core``) so facade import order is data-independent and no deferred
stubs remain. It depends only on ``queries.core`` and the engine
packages, never on a family module, so it can never participate in an
import cycle.

Contents:

- ``_ORACLE_SF``: the scale factor static oracle strings are
  evaluated against (``_SCRATCH``, the scratch root, is
  ``sources.layouts._SCRATCH``, which owns every on-disk layout).
- ``_register_views``: temp-view registration for the spark.sql layer.
- the memoized co-purchase edge build shared by six graph queries
  (``_copurchase_edges`` and ``_copurchase_edge_count``, one session
  memo entry).
"""

from __future__ import annotations

from etl_pyspark_spark.checkpoint import DISK_CKPT, session_memo

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    SparkSession,
    os,
    read_table,
)
# the scratch root stays readable here: perfbench looks it up on this module
from etl_pyspark_spark.sources.layouts import _SCRATCH  # noqa: F401

# Scale factor the static oracle strings are evaluated against. The
# driver's correctness crosscheck always runs at sf0.01, so oracles
# that must name a concrete on-disk layout path (deflate sizes,
# range-clustered lineitem) derive it from this constant instead of a
# string literal; a crosscheck at another SF exports
# SPARK_GRAFT_ORACLE_SF before importing the registry and both the
# engine side (which self-ensures the per-SF layout from the actual
# sf_dir) and the oracle side then read the SAME files (advice r06:
# a literal defeated the per-SF deflate sizes layout).
_ORACLE_SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01")


def _register_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _copurchase_edges_sql() -> str:
    """Shared SQL CTE text for the sharded part co-purchase graph
    (identical derivation to graph_triangle_count's oracle)."""
    return """
    lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_orderkey % 10 = 0),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""


def _copurchase_edge_memo(spark: SparkSession, sf_dir: str) -> tuple:
    """(edges, edge count) of the sharded part co-purchase graph
    (u < v, distinct), the same derivation graph_triangle_count
    documents; baskets are truncated to MAX_BASKET items by the shared
    hash-rank cap (operators/baskets) before the pair self-join, so a
    mega-basket is O(cap^2) pairs; eagerly checkpointed because every
    caller fans it into several join subtrees.

    A session memo entry (checkpoint.session_memo) exactly like the
    dedup family's shared stages: six graph queries (triangles,
    k-core, local clustering, BFS, link prediction) derive from this
    one edge table, and before round 5 each rebuilt it from the
    lineitem scan — the materialized edge list is the checkpointed
    artifact a production graph pipeline writes once per ingest."""
    from etl_pyspark_spark.operators.baskets import capped_basket_pairs

    def build() -> tuple:
        # ONE basket aggregate + in-row double explode replaces the
        # distinct + hash-rank window + self-join chain (identical
        # pair set — see capped_basket_pairs): one membership exchange
        # instead of two plus a join, no per-key sort
        edges = (
            capped_basket_pairs(
                read_table(spark, sf_dir, "lineitem").where(
                    F.col("l_orderkey") % 10 == 0
                ),
                "l_orderkey",
                "l_partkey",
                out_a="u",
                out_b="v",
            )
            .select("u", "v")
            .distinct()
            .localCheckpoint(storageLevel=DISK_CKPT)
        )
        # one count against the just-checkpointed edges (cheap — no
        # recompute) so consumers can pick physical join strategies
        # from REAL cardinality instead of planner estimates, AQE-style
        return edges, edges.count()

    return session_memo(spark, sf_dir, "lineitem", "copurchase_edges", build)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _copurchase_edge_memo(spark, sf_dir)[0]


def _copurchase_edge_count(spark: SparkSession, sf_dir: str) -> int:
    return _copurchase_edge_memo(spark, sf_dir)[1]
