"""Round-12 optimization guards.

Pins the three behavior-preserving mechanisms this round added:

- the query-boundary scoped-cache drain (checkpoint.scoped_persist /
  drain_scoped_caches, wired into the query() decorator) — the
  session-pressure fix — and its rule that the drain never releases a
  plan the session memo (checkpoint.session_memo) holds;
- the two-pass exact_discrete_quantiles (the below-count and totals
  scans folded into one checkpointed tagged aggregate) — asserted by
  COUNTING input evaluations with an accumulator UDF, not by trusting
  the plan;
- the pagerank broadcast gate re-keyed on measured |E|/|V| with a
  tiny-graph floor (r11 verdict #3).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- scoped-cache drain ------------------------------------------------


def test_scoped_persist_registers_and_drains(spark):
    from etl_pyspark_spark import checkpoint as ckpt

    ckpt.drain_scoped_caches()  # clean slate
    df = spark.range(10).select((F.col("id") * 2).alias("x"))
    out = ckpt.scoped_persist(df)
    assert out.is_cached
    # a plan that is ALREADY cached is not double-registered (a memo
    # stage must never be yanked by a later scoped drain)
    again = ckpt.scoped_persist(out)
    assert again.is_cached
    assert ckpt.drain_scoped_caches() == 1
    assert not df.is_cached


def test_query_boundary_drains_previous_scoped_caches(spark, sf_dir):
    from etl_pyspark_spark import checkpoint as ckpt
    from etl_pyspark_spark.registry import QUERIES

    # time_rollup_multigrain scoped-persists its hourly/daily rollups
    QUERIES["time_rollup_multigrain"](spark, sf_dir)
    assert len(ckpt._SCOPED) >= 2
    handles = list(ckpt._SCOPED)
    # ANY next registered query drains them at entry
    QUERIES["filter_project"](spark, sf_dir)
    assert ckpt._SCOPED == []
    assert all(not h.is_cached for h in handles)


def _cache_manager_holds(spark, df) -> bool:
    """Spark's CacheManager still serves ``df``'s plan (``is_cached`` is
    only a Python-side flag and cannot see another frame's unpersist)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


@pytest.mark.parametrize(
    "stage",
    [
        "shingle_hashes",
        "_hash_sets_ordered",
        "verified_pairs",
        "dup_components",
        "simhash_sigs",
        "_copurchase_edges",
    ],
)
def test_memo_family_caches_survive_query_boundary(spark, sf_dir, stage):
    """Session memo stages must NOT be drained at a query boundary:
    the same frame comes back, and every dedup stage is still
    persisted with its CacheManager entry intact. The co-purchase
    edges are localCheckpoint-backed, never persisted."""
    from etl_pyspark_spark import checkpoint as ckpt
    from etl_pyspark_spark.dedup import shared
    from etl_pyspark_spark.queries import _shared
    from etl_pyspark_spark.registry import QUERIES

    get = getattr(shared, stage, None) or getattr(_shared, stage)
    df = get(spark, sf_dir)
    n = df.count()  # materialize the memo stage
    QUERIES["filter_project"](spark, sf_dir)  # boundary drain fires
    assert get(spark, sf_dir) is df
    persisted = stage != "_copurchase_edges"
    assert df.is_cached == persisted
    if persisted:
        assert _cache_manager_holds(spark, df)
    assert df.count() == n
    ckpt.drain_scoped_caches()


def test_drain_keeps_plan_shared_with_memo(spark, sf_dir):
    """verified_near_duplicates scoped-persists the same shingle plan
    that shingle_hashes memoizes; Spark matches cached plans by result,
    so the drain used to release the memo's cache while the memo kept
    handing the frame out. Both orders: the scoped persist before the
    memo builds the stage, and after."""
    from etl_pyspark_spark import checkpoint as ckpt
    from etl_pyspark_spark.dedup.minhash import verified_near_duplicates
    from etl_pyspark_spark.dedup.shared import shingle_hashes
    from etl_pyspark_spark.sources.io import read_table

    for key in [k for k in ckpt._MEMO if k[2] == "shingle_hashes"]:
        ckpt._MEMO.pop(key).unpersist()
    docs = read_table(spark, sf_dir, "documents")
    verified_near_duplicates(docs)
    sh = shingle_hashes(spark, sf_dir)
    sh.count()
    ckpt.drain_scoped_caches()
    assert _cache_manager_holds(spark, sh)
    verified_near_duplicates(docs)
    ckpt.drain_scoped_caches()
    assert _cache_manager_holds(spark, sh)


def test_session_memo_evicts_per_stage(spark, tmp_path):
    """At most two entries per stage name, oldest first; persisted
    entries are unpersisted, and other stages are untouched."""
    from etl_pyspark_spark import checkpoint as ckpt

    dirs = [str(tmp_path / f"f{i}") for i in range(3)]
    other = ckpt.session_memo(
        spark, dirs[0], "t", "_test_other", lambda: spark.range(1)
    )
    frames = [
        ckpt.session_memo(
            spark,
            d,
            "t",
            "_test_stage",
            lambda: spark.range(5).persist(ckpt.FAMILY_CACHE),
        )
        for d in dirs
    ]
    try:
        held = [v for k, v in ckpt._MEMO.items() if k[2] == "_test_stage"]
        assert [id(v) for v in held] == [id(f) for f in frames[1:]]
        assert not frames[0].is_cached
        assert all(f.is_cached for f in frames[1:])
        again = ckpt.session_memo(spark, dirs[0], "t", "_test_other", None)
        assert again is other
    finally:
        for k in [k for k in ckpt._MEMO if k[2].startswith("_test_")]:
            ckpt._MEMO.pop(k).unpersist()


# --- two-pass exact quantiles -------------------------------------------


def test_exact_quantiles_scan_input_exactly_twice(spark):
    """The r12 fusion contract: one sketch pass + one tagged-aggregate
    pass — no separate below-count or totals scan. Counted with an
    accumulator UDF on the input column (nondeterministic so the
    optimizer cannot duplicate or push it), so the assertion holds
    regardless of plan shape."""
    from etl_pyspark_spark.operators.quantiles import (
        exact_discrete_quantiles,
    )

    acc = spark.sparkContext.accumulator(0)

    def _counted(v):
        acc.add(1)
        return float(v)

    counted = F.udf(_counted, "double").asNondeterministic()
    n = 1000
    df = spark.range(n).select(counted((F.col("id") * 37) % 997).alias("v"))
    probs = [0.25, 0.5, 0.9]
    cuts = exact_discrete_quantiles(df, "v", probs, accuracy=200)
    # exact discrete quantile: smallest value with cum count >= ceil(qn)
    vals = sorted(float((i * 37) % 997) for i in range(n))
    expect = [vals[max(1, math.ceil(q * n)) - 1] for q in probs]
    assert cuts == expect
    assert acc.value == 2 * n, (
        f"input evaluated {acc.value / n:.1f}x, expected exactly 2 passes"
    )


# --- pagerank broadcast gate ---------------------------------------------


def test_pr_gate_tiny_graphs_broadcast():
    from etl_pyspark_spark.operators.graph import _pr_use_broadcast

    # tiny |V|: broadcast regardless of ratio (build cost ~0)
    assert _pr_use_broadcast(150, 300)
    assert _pr_use_broadcast(20_000, 2_392_000)


def test_pr_gate_requires_edge_dominance_past_tiny_floor():
    from etl_pyspark_spark.operators.graph import (
        _PR_BCAST_MIN_RATIO,
        _PR_BCAST_TINY_NODES,
        _pr_use_broadcast,
    )

    v = _PR_BCAST_TINY_NODES + 1
    # |E| ~ |V| past the floor: the r11 verdict's pathological case —
    # a per-round broadcast build for nothing. Must take the shuffle arm.
    assert not _pr_use_broadcast(v, 2 * v)
    assert _pr_use_broadcast(v, int(_PR_BCAST_MIN_RATIO) * v)
    # past the node cap: never broadcast
    assert not _pr_use_broadcast(3_000_000, 300_000_000)


def _pr_reference(n, edges, iterations):
    """Plain-Python integer PageRank, the arithmetic of pagerank_int."""
    from etl_pyspark_spark.operators.graph import DAMP_DEN, DAMP_NUM, MASS

    od = {}
    for s, _ in edges:
        od[s] = od.get(s, 0) + 1
    ranks = {v: MASS // n for v in range(n)}
    base = (DAMP_DEN - DAMP_NUM) * (MASS // n) // DAMP_DEN
    for _ in range(iterations):
        csum = {}
        for s, d in edges:
            csum[d] = csum.get(d, 0) + ranks[s] // od[s]
        ranks = {
            v: base + DAMP_NUM * csum.get(v, 0) // DAMP_DEN for v in range(n)
        }
    return ranks


def test_pr_tiny_graph_skips_edge_count_job(spark, count_jobs, monkeypatch):
    """|V| alone decides the gate on a tiny graph, so the build skips
    the |E| aggregate: one action fewer than a run that must count
    edges (the gate widened to need |E| while still choosing the same
    broadcast arm), with identical ranks. AQE runs that one action as
    a shuffle-map job plus a result job."""
    from etl_pyspark_spark.operators import graph

    n = 150
    pairs = sorted(
        {(i, (i + 1) % n) for i in range(n)}
        | {(i, (7 * i + 3) % n) for i in range(n)}
    )
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")

    def build():
        return graph.pagerank_int(nodes, edges, iterations=3)

    ranks, jobs = count_jobs(build)
    monkeypatch.setattr(graph, "_PR_BCAST_TINY_NODES", 0)
    monkeypatch.setattr(graph, "_PR_BCAST_MIN_RATIO", 0.0)
    counted, counted_jobs = count_jobs(build)

    assert counted_jobs - jobs == 2, (jobs, counted_jobs)
    got = {r["node"]: r["rank_int"] for r in ranks.collect()}
    assert got == {r["node"]: r["rank_int"] for r in counted.collect()}
    assert got == _pr_reference(n, pairs, 3)


# --- centroid assignment: zero-exchange argmax -----------------------------


def test_assign_nearest_centroid_has_no_exchange(spark, sf_dir):
    """The r12 literal-array argmax: the assignment is a pure
    projection over the embedding scan — no crossJoin row expansion,
    no window exchange (plans/r12/embedding_assign_nearest_centroid_*:
    Exchange 4 -> 0, Window 6 -> 0)."""
    from etl_pyspark_spark.plans import tree_of
    from etl_pyspark_spark.registry import QUERIES

    tree = tree_of(QUERIES["embedding_assign_nearest_centroid"](spark, sf_dir))
    assert "Exchange" not in tree
    assert "Window" not in tree


def test_assign_nearest_centroid_ties_and_nulls(spark):
    """Tie/NULL parity with the old window argmax: ties go to the
    LOWEST centroid id; a zero-norm vector (NULL cosine against every
    centroid) still labels with the lowest centroid id and NULL sim."""
    from pyspark.sql import Row

    from etl_pyspark_spark.similarity.semantic import (
        assign_nearest_centroid,
    )

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),   # centroid 0
        Row(vec_id=1, embedding=[0.0, 1.0]),   # centroid 1
        Row(vec_id=10, embedding=[1.0, 1.0]),  # exact tie -> 0
        Row(vec_id=11, embedding=[0.0, 0.0]),  # zero norm -> NULL sims
    ]
    emb = spark.createDataFrame(rows)
    out = {
        r["vec_id"]: (r["centroid_id"], r["cos_sim"])
        for r in assign_nearest_centroid(
            emb, emb.where(emb.vec_id < 2)
        ).collect()
    }
    assert out[10][0] == 0  # tie broken toward the lowest centroid id
    assert out[11] == (0, None)  # all-NULL sims: lowest id, NULL sim


def test_assign_nearest_centroid_empty_codebook(spark):
    """An empty codebook takes the window arm and labels nothing (an
    inlined array of zero structs fails at analysis)."""
    from pyspark.sql import Row

    from etl_pyspark_spark.similarity.semantic import (
        assign_nearest_centroid,
    )

    emb = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 0.0]), Row(vec_id=1, embedding=[0.0, 1.0])]
    )
    assert assign_nearest_centroid(emb, emb.where(emb.vec_id < 0)).count() == 0


def test_assign_nearest_centroid_string_ids_match_window_arm(spark, monkeypatch):
    """Non-integral centroid ids cannot be negated for the inline
    tie-break: they take the window arm and label exactly as it does."""
    from pyspark.sql import Row

    from etl_pyspark_spark.similarity import semantic

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.0, 1.0]),
        Row(vec_id=10, embedding=[1.0, 1.0]),  # exact tie
        Row(vec_id=11, embedding=[0.0, 0.0]),  # zero norm
    ]
    emb = spark.createDataFrame(rows)
    cents = emb.where(emb.vec_id < 2)
    named = cents.select(
        F.concat(F.lit("c"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    got = sorted(
        tuple(r) for r in semantic.assign_nearest_centroid(emb, named).collect()
    )
    monkeypatch.setattr(semantic, "_CENTROID_INLINE_MAX", 0)  # window arm
    want = sorted(
        (r["vec_id"], f"c{r['centroid_id']}", r["cos_sim"])
        for r in semantic.assign_nearest_centroid(emb, cents).collect()
    )
    assert got == want


# --- capped_baskets helper -------------------------------------------------


def test_capped_baskets_matches_window_cap(spark):
    """The extracted collect_set-shaped helper keeps the exact survivor
    set of the WindowGroupLimit shape (same (xxhash64, item) rank)."""
    from etl_pyspark_spark.operators.baskets import (
        capped_basket_items,
        capped_baskets,
    )

    cap = 16
    mega = spark.range(1000).select(
        F.lit(0).alias("k"), F.col("id").alias("v")
    )
    honest = spark.range(100).select(
        (F.col("id") % 20 + 1).alias("k"), (F.col("id") + 10_000).alias("v")
    )
    df = mega.unionAll(honest)
    via_helper = capped_baskets(df, "k", "v", cap=cap).select(
        "k", F.explode("_items").alias("v")
    )
    via_window = capped_basket_items(df, "k", "v", cap=cap)
    assert via_helper.exceptAll(via_window).count() == 0
    assert via_window.exceptAll(via_helper).count() == 0
