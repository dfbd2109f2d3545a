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

- ``_SCRATCH`` / ``_ORACLE_SF``: the scratch-layout root and the
  scale factor static oracle strings are evaluated against.
- ``_register_views``: temp-view registration for the spark.sql layer.
- pay-once layout builders whose ORACLES name the produced files
  (``_ensure_skipping_lineitem``, ``_ensure_deflate_sizes``,
  ``_ensure_orders_mixed_spec``).
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

_SCRATCH = "/root/repo/.scratch"

# Scale factor the static oracle strings are evaluated against. The
# driver's correctness crosscheck always runs at sf0.01, so oracles
# that must name a concrete on-disk layout path (deflate sizes,
# range-clustered lineitem) derive it from this constant instead of a
# string literal; a crosscheck at another SF exports
# SPARK_GRAFT_ORACLE_SF before importing the registry and both the
# engine side (which self-ensures the per-SF layout from the actual
# sf_dir) and the oracle side then read the SAME files (advice r06:
# a literal defeated _ensure_deflate_sizes' per-SF design).
_ORACLE_SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01")


def _register_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _ensure_skipping_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Per-SF range-clustered lineitem copy for the skipping report.

    Unlike the shared range_clustered_lineitem layout (one dir, marker
    keyed to the LAST-built fixture), this keeps one directory PER
    fixture basename so an sf0.1 bench run never invalidates the
    sf0.01 layout the driver's oracle SQL points at — the file-level
    report is the one query whose ORACLE reads the physical layout,
    so its files must be stable across sf switches within a round."""
    from etl_pyspark_spark.sources.io import (
        fixture_fingerprint,
        marker_current,
        write_marker,
        write_range_clustered,
    )

    dst = f"{_SCRATCH}/skipping_lineitem_{os.path.basename(sf_dir.rstrip('/'))}"
    marker = f"{dst}/.built_for"
    want = fixture_fingerprint(sf_dir, "lineitem")
    if not marker_current(marker, want):
        li = read_table(spark, sf_dir, "lineitem")
        write_range_clustered(li, dst, "l_shipdate", num_files=8)
        write_marker(marker, want)
    return dst


def _ensure_deflate_sizes(sf_dir: str) -> str:
    """Per-SF precomputed deflate(6) sizes of every document, built
    DRIVER-SIDE in plain single-process Python (no Spark) so the
    oracle can value-check the distributed mapInPandas plumbing
    against an independent computation of the same zlib build.
    Per-SF directory so a bench at another scale can't invalidate the
    files the oracle path names (same convention as
    _ensure_skipping_lineitem)."""
    from etl_pyspark_spark.sources.io import (
        fixture_fingerprint,
        marker_current,
        write_marker,
    )

    dst = f"{_SCRATCH}/deflate_sizes_{os.path.basename(sf_dir.rstrip('/'))}"
    marker = f"{dst}/.built_for"
    want = fixture_fingerprint(sf_dir, "documents")
    if not marker_current(marker, want):
        import zlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        src = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        )
        ids = src.column("doc_id").to_pylist()
        sizes = [
            len(zlib.compress((t or "").encode("utf-8"), 6))
            for t in src.column("text").to_pylist()
        ]
        os.makedirs(dst, exist_ok=True)
        pq.write_table(
            pa.table(
                {"doc_id": ids, "compressed_bytes": sizes},
                schema=pa.schema(
                    [("doc_id", pa.int64()), ("compressed_bytes", pa.int64())]
                ),
            ),
            f"{dst}/sizes.parquet",
        )
        write_marker(marker, want)
    return dst


def _ensure_orders_mixed_spec(spark: SparkSession, sf_dir: str) -> tuple:
    """Two-generation lake layout under scratch: orders before 1998
    partitioned by year only (the original spec), 1998 onward by
    year/month (the evolved spec; the fixture spans 1995-2001) —
    written once per fixture fingerprint, same pay-once marker
    discipline as the other layouts."""
    from etl_pyspark_spark.sources.io import (
        fixture_fingerprint,
        marker_current,
        write_marker,
        write_parquet,
    )

    old_out = f"{_SCRATCH}/orders_spec_v1"
    new_out = f"{_SCRATCH}/orders_spec_v2"
    # one marker PER output directory, both written only after both
    # layouts exist: a deleted/partial v2 with a surviving v1 marker
    # must trigger a rebuild, not a read of the stale layout
    markers = [f"{old_out}/.built_for", f"{new_out}/.built_for"]
    want = fixture_fingerprint(sf_dir, "orders")
    if not all(marker_current(m, want) for m in markers):
        o = read_table(spark, sf_dir, "orders").withColumn(
            "order_year", F.year("o_orderdate")
        )
        write_parquet(
            o.where(F.col("order_year") < 1998),
            old_out,
            partition_by=["order_year"],
        )
        write_parquet(
            o.where(F.col("order_year") >= 1998).withColumn(
                "order_month", F.month("o_orderdate")
            ),
            new_out,
            partition_by=["order_year", "order_month"],
        )
        for m in markers:
            write_marker(m, want)
    return old_out, new_out


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
