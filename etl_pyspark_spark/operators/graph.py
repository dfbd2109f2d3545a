"""Iterative graph dataflow: integer-quantized PageRank.

Companion to the connected-components dedup clustering
(dedup/components.py): PageRank is the canonical *iterative* keyed
dataflow — each round is one join (propagate rank along edges) plus
one groupBy (sum contributions per destination), exactly the shape
Spark executes as two shuffles keyed by node id. No driver-side state
beyond the loop counter; ``localCheckpoint`` truncates lineage so the
final job does not replay every round (same rationale as
components.py).

**Why integer arithmetic**: float PageRank is not reproducible across
engines or partitionings (addition order changes the last ulps every
round, and the drift compounds across iterations). Ranks here are
bigint micro-units (1e12 = total mass 1.0) and every step is integer
``div`` / ``%`` / ``*`` — bit-identical in Spark, DuckDB, and Python,
so a 5-round run hash-matches an unrolled SQL oracle exactly. The
quantization error per round is < outdeg ulps of 1e-12 — far below
anything a ranking consumer can observe — and determinism is worth
more than the 12th decimal at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from etl_pyspark_spark.checkpoint import DISK_CKPT

#: total rank mass in integer micro-units (1.0 == 1e12)
MASS = 1_000_000_000_000
DAMP_NUM, DAMP_DEN = 85, 100  # d = 0.85 as an exact ratio

#: Broadcast the node-proportional tables (ranks, out-degrees,
#: per-round contribution sums) while the graph is small enough —
#: every per-iteration join then probes a hash map in place and the
#: EDGE table (the fact-scale side) is never shuffled or sorted. 2M
#: rows of (bigint, bigint) build to a ~50 MB hash relation, inside
#: the guide's "a few hundred MB is fine" broadcast envelope with
#: slack; past the gate the keyed-shuffle arm is the 100 TB path.
#: Same count-driven strategy pick as link_prediction_jaccard's dim()
#: gate — the planner's own estimates flip these joins to SortMergeJoin
#: far too early because the rank table is a fresh checkpoint each
#: round.
_PR_BCAST_MAX_NODES = 2_000_000

#: r12 (r11 verdict #3 / the r11 cc-gate negative result): node count
#: alone is the wrong pay condition. The broadcast arm saves a
#: per-round shuffle+sort of the |E|-scale table and costs a per-round
#: |V|-proportional broadcast build — it pays when |E| dominates |V|
#: (pagerank_copurchase: |E| ≈ 40·|V|, measured 2.6x) and loses when
#: the edge table is |V|-scale tiny (the REVERTED cc/k-core probe:
#: 3.74 s shuffle vs 5.08 s broadcast). Gate on the measured ratio,
#: with a tiny-graph floor: under ~64k nodes the broadcast relation is
#: ≲2 MB and its build latency is far below even one round's
#: shuffle+sort latency (pagerank_iterative, 150 nodes, |E|≈2|V|:
#: 1.33 s broadcast vs 2.08 s shuffle in the r11 driver bench), so
#: tiny graphs always take the broadcast arm.
_PR_BCAST_MIN_RATIO = 8.0
_PR_BCAST_TINY_NODES = 65_536


def _pr_use_broadcast(n_nodes: int, n_edges: int) -> bool:
    """True when the per-iteration node-table broadcast pays: the node
    side must fit the broadcast envelope AND the graph must be either
    tiny (broadcast build is sub-millisecond) or edge-dominated
    (|E|/|V| ≥ ratio — the saved |E|-scale shuffle outweighs the
    per-round build)."""
    if n_nodes > _PR_BCAST_MAX_NODES:
        return False
    return (
        n_nodes <= _PR_BCAST_TINY_NODES
        or n_edges >= _PR_BCAST_MIN_RATIO * n_nodes
    )


def pagerank_int(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
    edges_reusable: bool = False,
) -> DataFrame:
    """(node, rank_int) after ``iterations`` rounds of integer-quantized
    PageRank. ``nodes``: column ``node``; ``edges``: columns
    ``src``/``dst`` (dedup'd; every src must appear in nodes).

    ``edges_reusable=True`` tells the operator the caller's ``edges``
    is already materialized (checkpointed/cached), so re-scanning it
    per round is cheap and the operator skips its own edge
    re-materialization in the broadcast arm — one full copy of the
    fact-scale table less on disk.
    """
    # The node set is referenced ~(iterations + 2) times (count, the
    # initial rank seed, every round's left join). Callers pass it as
    # a derived plan (a distinct over the edge list, a filtered scan),
    # so without materialization each reference re-runs that shuffle.
    nodes = nodes.localCheckpoint(storageLevel=DISK_CKPT)
    n_nodes = nodes.count()  # one scalar to the driver, once
    base = (DAMP_DEN - DAMP_NUM) * (MASS // n_nodes) // DAMP_DEN
    # outdeg is |V|-proportional and read every round: materialize it
    # once (the groupBy pass over edges is paid exactly once either
    # way) — the checkpointed table also yields the EXACT edge count
    # for the broadcast gate as one tiny aggregate, no |E|-scale count
    # job (r11 verdict #3: gate on measured |E|/|V|, not |V| alone).
    outdeg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("od"))
        .localCheckpoint(storageLevel=DISK_CKPT)
    )
    # |V| alone decides the gate outside (TINY, MAX]; the edge count
    # job runs only inside that band.
    n_edges = 0
    if _PR_BCAST_TINY_NODES < n_nodes <= _PR_BCAST_MAX_NODES:
        n_edges = int(
            outdeg.agg(F.sum("od").alias("m")).collect()[0]["m"] or 0
        )
    small = _pr_use_broadcast(n_nodes, n_edges)
    if small and edges_reusable:
        # attach outdeg per round via broadcast — the |E|-scale join
        # result is never written to disk.
        ed = edges
        od = F.broadcast(outdeg)
    else:
        ed = edges.join(
            F.broadcast(outdeg) if small else outdeg, "src"
        ).localCheckpoint(storageLevel=DISK_CKPT)
        od = None

    ranks = nodes.withColumn("rank_int", F.lit(MASS // n_nodes))
    for _ in range(iterations):
        contribs = ed.join(od, "src") if od is not None else ed
        contribs = (
            contribs.join(
                F.broadcast(ranks) if small else ranks,
                F.col("src") == F.col("node"),
            )
            .select("dst", F.expr("rank_int div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("csum"))
        )
        if small:
            contribs = F.broadcast(contribs)
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({DAMP_NUM} * coalesce(csum, 0L)) div {DAMP_DEN}"
                    )
                ).alias("rank_int"),
            )
            .localCheckpoint(storageLevel=DISK_CKPT)
        )
    return ranks


def sql_pagerank_int(
    nodes_sql: str, edges_sql: str, iterations: int = 5
) -> str:
    """Unrolled-iteration DuckDB oracle for :func:`pagerank_int` —
    the same integer arithmetic, one CTE per round."""
    ctes = [
        f"nodes AS ({nodes_sql})",
        f"edges AS ({edges_sql})",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, {MASS} // n AS rank_int FROM nodes, nn)",
    ]
    for i in range(iterations):
        prev, cur = f"r{i}", f"r{i + 1}"
        ctes.append(
            f"""{cur} AS (
              SELECT n.node,
                     ({DAMP_DEN - DAMP_NUM} * ({MASS} // nn.n)) // {DAMP_DEN}
                     + ({DAMP_NUM} * COALESCE(s.csum, 0)) // {DAMP_DEN}
                       AS rank_int
              FROM nodes n CROSS JOIN nn
              LEFT JOIN (
                SELECT e.dst,
                       CAST(sum(p.rank_int // o.od) AS BIGINT) AS csum
                FROM edges e
                JOIN {prev} p ON p.node = e.src
                JOIN outdeg o ON o.src = e.src
                GROUP BY e.dst) s ON s.dst = n.node)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f" SELECT node, rank_int FROM r{iterations}"
    )
