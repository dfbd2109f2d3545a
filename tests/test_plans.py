"""Physical-plan shape assertions — the 100 TB story, checked.

Correctness says *what* each query returns; these tests pin *how*
Spark executes it: filters and projections must reach the parquet
scan, small dimensions must broadcast, global top-N must not do a full
sort, aggregations must have a map-side partial phase, and the
flagship narrow pipeline must not shuffle at all. A regression here
means a plan that still passes the oracle but falls over at scale.
"""

from __future__ import annotations

from etl_pyspark_spark.plans import plan_of, tree_of
from etl_pyspark_spark.registry import QUERIES
from etl_pyspark_spark.sources.layouts import _SCRATCH


def test_filter_project_pushdown(spark, oracle_sf_dir):
    plan = plan_of(QUERIES["filter_project"](spark, oracle_sf_dir))
    assert "PushedFilters: [" in plan
    # every predicate column reaches the parquet reader
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    # the scan reads only the 6 needed columns (4 projected + filters)
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_broadcast_join_plan(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["join_inner_broadcast"](spark, oracle_sf_dir))
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in tree
    # the fact-table side never shuffles for the joins: the only
    # non-broadcast exchange is the final group-by
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_sort_limit_is_top_n(spark, oracle_sf_dir):
    plan = plan_of(QUERIES["sort_limit"](spark, oracle_sf_dir))
    assert "TakeOrderedAndProject" in plan  # never a global sort
    assert "Sort " not in plan


def test_agg_has_partial_phase(spark, oracle_sf_dir):
    df = QUERIES["agg_pricing_summary"](spark, oracle_sf_dir)
    tree = tree_of(df)
    plan = plan_of(df)
    # partial (map-side) + final hash aggregate around one aggregation
    # exchange; the r11 spread() fan-out (single-row-group fixture
    # files scan as ONE task otherwise) may add at most one
    # round-robin repartition BELOW the partial agg — deliberate, it
    # carries raw rows, not partials
    assert tree.count("HashAggregate") >= 2
    rr = plan.count("RoundRobinPartitioning")
    assert rr <= 1, plan
    assert tree.count("Exchange") - rr == 1


def test_reference_pipeline_no_shuffle(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["reference_pipeline"](spark, oracle_sf_dir))
    assert "Exchange" not in tree  # scan -> filter -> project only
    # '*' prefixes mark whole-stage-codegen'd operators in formatted mode
    assert "* Filter" in tree and "* Project" in tree


def test_topk_has_window_group_limit(spark, oracle_sf_dir):
    plan = plan_of(QUERIES["topk_per_group"](spark, oracle_sf_dir))
    assert "WindowGroupLimit" in plan  # rk<=3 pushed into the sort


def test_similarity_topk_corpus_not_shuffled_for_join(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["similarity_cosine_topk"](spark, oracle_sf_dir))
    assert "BroadcastNestedLoopJoin" in tree  # query set broadcasts
    # one broadcast exchange (queries) + one shuffle (window rank)
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_partitioned_layout_prunes(spark, oracle_sf_dir):
    plan = plan_of(QUERIES["partitioned_layout_pruning"](spark, oracle_sf_dir))
    assert "PartitionFilters: [" in plan
    pruned = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "order_year" in pruned  # year predicate resolved from dirs


def test_min_per_group_join_back_broadcasts(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["min_per_group_join_back"](spark, oracle_sf_dir))
    assert "BroadcastHashJoin" in tree  # reduced agg side broadcasts


def test_bucketed_join_no_exchange(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["bucketed_join_colocated"](spark, oracle_sf_dir))
    assert "SortMergeJoin" in tree
    # bucket co-location: neither join side shuffles; the only
    # exchange left is the tiny post-aggregation one
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1, tree


def test_sessionize_single_user_shuffle(spark, oracle_sf_dir):
    # window + session groupBy share one user_id partitioning: the
    # whole sessionization is a single partition-by-user pass
    from etl_pyspark_spark.plans import shuffle_count

    assert shuffle_count(QUERIES["sessionize_events"](spark, oracle_sf_dir)) == 1


def test_scd2_single_key_shuffle(spark, oracle_sf_dir):
    from etl_pyspark_spark.plans import shuffle_count

    assert shuffle_count(QUERIES["scd2_intervals"](spark, oracle_sf_dir)) == 1


def test_custdist_reuses_join_partitioning(spark, oracle_sf_dir):
    # the outer join itself must not shuffle (orders broadcasts at this
    # scale); only the per-customer count + the tiny histogram shuffle
    from etl_pyspark_spark.plans import shuffle_count

    df = QUERIES["custdist_distribution"](spark, oracle_sf_dir)
    assert shuffle_count(df) == 2
    assert "SortMergeJoin" not in tree_of(df)


def test_top_supplier_no_global_sort(spark, oracle_sf_dir):
    # max-over-aggregate resolves via broadcast equality join — never a
    # global sort or single-partition window
    tree = tree_of(QUERIES["top_supplier_revenue"](spark, oracle_sf_dir))
    assert "SinglePartition" not in tree
    assert "Window" not in tree


def test_compaction_reduces_file_count(spark, oracle_sf_dir):
    import glob

    QUERIES["compact_small_files"](spark, oracle_sf_dir).count()
    src = glob.glob(f"{_SCRATCH}/compact_src/part-*.parquet")
    dst = glob.glob(f"{_SCRATCH}/compact_dst/part-*.parquet")
    assert len(src) >= 40  # fragmented input really was fragmented
    assert len(dst) <= 4


def test_compaction_is_narrow(spark, oracle_sf_dir):
    # coalesce-based compaction must not shuffle
    from etl_pyspark_spark.plans import shuffle_count
    from etl_pyspark_spark.sources.io import compact_small_files as _  # noqa

    df = spark.read.parquet(f"{_SCRATCH}/compact_src").coalesce(4)
    assert shuffle_count(df) == 0


def test_salted_join_shuffles_on_salted_key(spark, oracle_sf_dir):
    # the hint must keep the join off the broadcast path, and the
    # exchange must partition on (key, salt) so hot keys split
    import re

    df = QUERIES["salted_join"](spark, oracle_sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" not in plan
    parts = re.findall(r"hashpartitioning\([^)]*\)", plan)
    assert any("_salt" in p for p in parts), parts


def test_range_clustered_files_have_disjoint_intervals(spark, oracle_sf_dir):
    """Each output file of the range-clustered layout must own a
    disjoint l_shipdate interval (that's what makes min/max footer
    skipping effective)."""
    import glob

    import pyarrow.parquet as pq

    QUERIES["range_clustered_layout"](spark, oracle_sf_dir).count()
    files = sorted(
        glob.glob(f"{_SCRATCH}/range_clustered_lineitem/part-*.parquet")
    )
    assert len(files) >= 6  # repartitionByRange(8) modulo empty ranges
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = md.schema.to_arrow_schema().names
        idx = names.index("l_shipdate")
        lo = min(
            md.row_group(g).column(idx).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(idx).statistics.max
            for g in range(md.num_row_groups)
        )
        spans.append((lo, hi))
    spans.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(spans, spans[1:]):
        # ranges may touch at a boundary value but never interleave
        assert hi_a <= lo_b, (spans,)


def test_zorder_files_have_2d_locality(spark, oracle_sf_dir):
    """Each Z-ordered file must own a compact 2-D region: bounded span
    in BOTH dimensions (a single-column range cluster pins one dim and
    leaves the other at 100%). Footer min/max is what the scan planner
    prunes with, so that's what we assert on."""
    import glob

    import pyarrow.parquet as pq

    QUERIES["zorder_layout"](spark, oracle_sf_dir).count()
    files = sorted(
        glob.glob(f"{_SCRATCH}/zorder_lineitem/part-*.parquet")
    )
    assert len(files) >= 6
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = md.schema.to_arrow_schema().names
        di, pi = names.index("l_shipdate"), names.index("l_partkey")
        stats = lambda i, fn: fn(
            getattr(md.row_group(g).column(i).statistics, fn.__name__)
            for g in range(md.num_row_groups)
        )
        spans.append(
            (
                stats(di, min), stats(di, max),
                stats(pi, min), stats(pi, max),
            )
        )
    d_span = (
        max(s[1] for s in spans) - min(s[0] for s in spans)
    ).total_seconds()
    p_span = max(s[3] for s in spans) - min(s[2] for s in spans)
    areas = [
        ((s[1] - s[0]).total_seconds() / d_span) * ((s[3] - s[2]) / p_span)
        for s in spans
    ]
    # every file bounded on the date dim; mean 2-D area well below the
    # full square (naive layout = 1.0 per file)
    assert all((s[1] - s[0]).total_seconds() / d_span < 0.6 for s in spans)
    assert sum(areas) / len(areas) < 0.4, areas


def test_aqe_coalesces_small_shuffle(spark, oracle_sf_dir):
    """Scale hygiene both directions: shuffle.partitions is sized for
    big inputs, and AQE's runtime coalescing must collapse the
    post-shuffle partitions of a tiny aggregate so small stages don't
    pay 8 near-empty tasks."""
    from etl_pyspark_spark.sources.io import read_table

    df = (
        read_table(spark, oracle_sf_dir, "orders")
        .groupBy("o_orderstatus")
        .count()
    )
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan


def test_shuffle_hash_join_strategy(spark, oracle_sf_dir):
    """The shuffle_hash hint must produce a ShuffledHashJoin — hash
    build per partition, no per-side sort (the SMJ cost it avoids)."""
    tree = tree_of(QUERIES["join_shuffle_hash"](spark, oracle_sf_dir))
    assert "ShuffledHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_dpp_prunes_fact_partitions(spark, oracle_sf_dir):
    """The dim-side year filter must reach the partitioned fact scan as
    a runtime partition filter (dynamic partition pruning) — no literal
    predicate mentions the fact partitions, yet only the matching ones
    may be read."""
    plan = plan_of(QUERIES["dpp_join_pruning"](spark, oracle_sf_dir))
    assert "dynamicpruning" in plan.lower(), plan


def test_ivf_probe_is_arrow_not_row_udf(spark, oracle_sf_dir):
    """The IVF query-probe step must run as an Arrow-batched pandas UDF
    (ArrowEvalPython, one GEMM per batch), never a per-row Python UDF
    (BatchEvalPython) — the round-1 weak spot."""
    tree = tree_of(QUERIES["similarity_ivf_topk"](spark, oracle_sf_dir))
    assert "BatchEvalPython" not in tree, tree
    assert "ArrowEvalPython" in tree, tree


def test_returned_item_ranking_is_top_n(spark, oracle_sf_dir):
    # Q10's top-20 must stay a TakeOrderedAndProject, never a global sort
    plan = plan_of(QUERIES["returned_item_ranking"](spark, oracle_sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_forecast_revenue_predicates_pushed(spark, oracle_sf_dir):
    # Q6 is the pushdown-only query: all three predicates must reach
    # the parquet scan so row groups outside the window never load
    plan = plan_of(QUERIES["forecast_revenue_change"](spark, oracle_sf_dir))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_lateral_topn_compiles_to_window_group_limit(spark, oracle_sf_dir):
    """The correlated LATERAL ... ORDER BY ... LIMIT 3 must compile to
    a partitioned WindowGroupLimit (rank pushed into the shuffle read),
    never a per-nation re-sort or a nested-loop re-execution of the
    subquery."""
    tree = tree_of(QUERIES["lateral_topn_join"](spark, oracle_sf_dir))
    assert "WindowGroupLimit" in tree, tree
    assert "CartesianProduct" not in tree


def test_pagination_is_take_ordered_with_offset(spark, oracle_sf_dir):
    """LIMIT k OFFSET n must run as global top-(n+k)
    (TakeOrderedAndProject), never a full global sort."""
    plan = plan_of(QUERIES["sort_limit_offset"](spark, oracle_sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_skyline_broadcasts_frontier(spark, oracle_sf_dir):
    """The per-day frontier (≤ |days| rows) must broadcast back onto
    orders — a shuffle join here would move the whole fact table for a
    dimension the size of a calendar."""
    tree = tree_of(QUERIES["skyline_orders"](spark, oracle_sf_dir))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_asof_nearest_uses_window_group_limit(spark, oracle_sf_dir):
    """rn=1 over the per-purchase candidate ranking must become a
    WindowGroupLimit (top-1 per group during the shuffle read), not a
    full rank-then-filter of every candidate pair."""
    tree = tree_of(QUERIES["join_asof_nearest"](spark, oracle_sf_dir))
    assert "WindowGroupLimit" in tree, tree


def test_fuzzy_blocked_never_cartesian(spark, oracle_sf_dir):
    """The blocked fuzzy join must be an equi-join on the block keys
    (hash or broadcast) — a cartesian/nested-loop plan means the
    blocking keys fell out of the join condition and the O(n^2) grid
    is back."""
    tree = tree_of(QUERIES["fuzzy_name_match_blocked"](spark, oracle_sf_dir))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def _scoped_conf(spark, pairs: dict):
    """Set confs, return a restore map (None = was unset)."""
    old = {}
    for k, v in pairs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    return old


def _restore_conf(spark, old: dict):
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_runtime_bloom_filter_injected(spark, oracle_sf_dir):
    """Runtime row-level filtering — the shuffle-join cousin of DPP:
    when a selective dim-side filter exists and the fact side would
    shuffle, Catalyst builds a bloom filter from the dim keys and
    applies ``might_contain`` on the fact scan side, discarding
    non-joining rows BEFORE the exchange. At 100 TB this turns an
    all-rows fact shuffle into a candidates-only shuffle. Local
    fixtures sit under the production size thresholds, so the test
    scopes them down to prove the plan shape Spark will pick at
    scale."""
    from etl_pyspark_spark.sources.io import read_table

    old = _scoped_conf(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        part = read_table(spark, oracle_sf_dir, "part").where(
            "p_size = 1"
        )
        li = read_table(spark, oracle_sf_dir, "lineitem")
        df = li.join(part, li.l_partkey == part.p_partkey).groupBy(
            "p_size"
        ).count()
        # the injected filter lives in a scalar subquery on the fact
        # side, which the formatted physical tree elides — assert on
        # the optimized logical plan, where both halves are visible
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        _restore_conf(spark, old)


def test_aqe_splits_skewed_join_partition(spark, oracle_sf_dir):
    """AQE skew-join handling: a sort-merge join whose shuffle has one
    oversized key partition must be re-planned at runtime into
    multiple sub-partitions (``skew=true`` in the final plan) instead
    of one straggler task — the no-manual-salting path for moderate
    skew (the salted_join query remains the extreme-skew pattern).
    Thresholds are scoped down so fixture-sized data exhibits what a
    hot key does to a 1000-executor shuffle."""
    from pyspark.sql import functions as F

    from etl_pyspark_spark.sources.io import read_table

    old = _scoped_conf(
        spark,
        {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin."
            "skewedPartitionThresholdInBytes": "32KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    try:
        # Shape constraints that make (or break) the optimization,
        # worth knowing at 100 TB too:
        # - a skewed reduce partition splits along MAPPER boundaries,
        #   so a single-map-task input (one fixture file) can never be
        #   split — repartition(8) gives the rule mappers to cut at;
        # - both SMJ children must be bare Sort(ShuffleStage) — an
        #   agg between (e.g. .distinct()) defeats the pattern match;
        # - a downstream operator requiring the join's hash
        #   partitioning (groupBy on the join key) vetoes the split,
        #   because sub-partitions break the clustering guarantee.
        li = read_table(spark, oracle_sf_dir, "lineitem").repartition(8)
        # one hot key holding ~4/5 of all rows (a celebrity key)
        skewed = li.select(
            F.when(F.col("l_orderkey") % 5 > 0, F.lit(0))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            "l_quantity",
        )
        dim = (
            read_table(spark, oracle_sf_dir, "lineitem")
            .repartition(8)
            .select(F.col("l_orderkey").alias("k"), "l_linenumber")
        )
        df = skewed.join(dim, "k").agg(F.sum("l_quantity").alias("s"))
        df.collect()  # finalize the adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        _restore_conf(spark, old)


def test_aqe_converts_smj_to_broadcast_at_runtime(spark, oracle_sf_dir):
    """AQE's second re-planning lever (alongside skew split and
    coalesce): the static planner, blind to selectivity, picks a
    sort-merge join; at runtime the filtered side's shuffle stats
    reveal it fits the adaptive broadcast threshold and the join is
    rewritten to BroadcastHashJoin mid-query. At 100 TB this is what
    saves the day when a dimension filter is far more selective than
    the optimizer estimated — no manual hint needed."""
    from pyspark.sql import functions as F

    from etl_pyspark_spark.sources.io import read_table

    old = _scoped_conf(
        spark,
        {
            # static planner must not broadcast ...
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            # ... but AQE may, once runtime sizes are known
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
        },
    )
    try:
        orders = read_table(spark, oracle_sf_dir, "orders").where(
            "o_totalprice > 350000.0"  # runtime-tiny side
        )
        li = read_table(spark, oracle_sf_dir, "lineitem")
        df = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert "SortMergeJoin" in tree_of(df)  # static plan: SMJ
        df.collect()  # finalize the adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
    finally:
        _restore_conf(spark, old)


def test_source_quota_cap_is_window_group_limit(spark, oracle_sf_dir):
    # rk <= 15 must push into the sort as a group limit: each
    # partition ships O(sources x 15) rows, never the corpus
    plan = plan_of(QUERIES["source_quota_cap"](spark, oracle_sf_dir))
    assert "WindowGroupLimit" in plan


def test_importance_sample_is_narrow(spark, oracle_sf_dir):
    # hash-threshold sampling is a pure filter — no keyed exchange.
    # The one allowed shuffle is spread()'s round-robin fan-out of the
    # single-row-group fixture scan (a no-op on a real many-file lake)
    from etl_pyspark_spark.plans import shuffle_count

    df = QUERIES["importance_weighted_sample"](spark, oracle_sf_dir)
    assert shuffle_count(df) <= 1
    plan = plan_of(df)
    assert "hashpartitioning" not in plan  # never a keyed shuffle
    assert "SinglePartition" not in plan


def test_bm25_top20_never_global_sorts(spark, oracle_sf_dir):
    plan = plan_of(QUERIES["bm25_rank_search"](spark, oracle_sf_dir))
    assert "TakeOrderedAndProject" in plan
    # df / corpus-stats sides broadcast; tf never SMJs against them
    assert "SortMergeJoin" not in tree_of(
        QUERIES["bm25_rank_search"](spark, oracle_sf_dir)
    )


def test_substring_dup_grams_hashed_before_shuffle(spark, oracle_sf_dir):
    """The 8-gram strings must be reduced to int64 hashes BEFORE the
    occurrence-count exchange — shipping ~40-byte gram strings through
    the shuffle is the scale mistake this pin prevents."""
    plan = plan_of(QUERIES["substring_dup_spans"](spark, oracle_sf_dir))
    import re

    for part in re.findall(r"hashpartitioning\(gh#\d+L?", plan):
        assert "gh" in part  # every gram exchange keys on the hash
    assert "hashpartitioning(gram" not in plan


def test_packing_windows_partition_by_packer(spark, oracle_sf_dir):
    # running sums must partition by packer/shard — a global-order
    # window (SinglePartition) would serialize the whole corpus
    for name in ("sequence_packing_concat", "multimodal_shard_pack"):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "SinglePartition" not in tree, name


def test_phash_dedup_never_nested_loop(spark, oracle_sf_dir):
    """Perceptual-hash candidate generation must stay a banded
    equi-join — an OR of band-key equalities silently compiles to
    BroadcastNestedLoopJoin (the O(n^2) grid banding exists to
    avoid; this pin exists because the first implementation did
    exactly that)."""
    tree = tree_of(QUERIES["multimodal_phash_dedup"](spark, oracle_sf_dir))
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree


def test_order_statistics_never_single_partition(spark, oracle_sf_dir):
    """The global-order-statistic family (round-3 verdict's only weak)
    must never plan a SinglePartition window: winsorize cuts come from
    the bracketed exact-rank search (literals in the final plan, no
    Window at all), and the ntile queries label rows via the
    range-partition + offset machinery."""
    for name in (
        "winsorize_values",
        "length_bucket_batching",
        "curriculum_difficulty_buckets",
    ):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "SinglePartition" not in tree, (name, tree)
    assert "Window" not in tree_of(
        QUERIES["winsorize_values"](spark, oracle_sf_dir)
    )


def test_span_remove_grams_hashed_before_shuffle(spark, oracle_sf_dir):
    # same pin as substring_dup_spans: the occurrence-count exchange
    # must carry 60-bit hashes, never the 8-word gram strings
    plan = plan_of(QUERIES["substring_dup_remove"](spark, oracle_sf_dir))
    assert "hashpartitioning(gram" not in plan


def test_semantic_dedup_intra_cluster_gemm(spark, oracle_sf_dir):
    """SemDeDup candidate generation must stay (cluster, block-pair)
    GEMM groups — never a corpus-sized cartesian; the only
    nested-loop join allowed is the 8-row centroid broadcast."""
    tree = tree_of(QUERIES["dedup_semantic"](spark, oracle_sf_dir))
    assert "CartesianProduct" not in tree
    assert "FlatMapGroupsInPandas" in tree  # the per-group GEMM


def test_corpus_shuffle_is_range_exchange_no_window(spark, oracle_sf_dir):
    """Global shuffle-position assignment must plan as ONE range
    exchange plus projections — no Window operator at all (the
    monotonically_increasing_id + offset form), hence nothing that
    could serialize on a single partition."""
    df = QUERIES["corpus_shuffle_assign"](spark, oracle_sf_dir)
    tree = tree_of(df)
    # the exchange detail lives inside the cached relation's subplan
    assert "rangepartitioning" in plan_of(df)
    assert "Window" not in tree
    assert "SinglePartition" not in tree


def test_distribution_stats_never_single_partition(spark, oracle_sf_dir):
    """The eval/drift statistics family (ROC-AUC, KS, Gini) runs its
    cumulative/rank machinery through operators/ranks — range
    exchange + per-partition-id windows + broadcast offsets. A
    SinglePartition window anywhere would serialize the whole
    distinct-value axis on one task; the KS/keyness argmax and
    top-40 must plan as TakeOrderedAndProject, never a global
    sort."""
    for name in ("roc_auc_exact", "ks_two_sample", "gini_customer_spend"):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "SinglePartition" not in tree, (name, tree)
    for name in ("ks_two_sample", "token_class_association"):
        assert "TakeOrderedAndProject" in plan_of(
            QUERIES[name](spark, oracle_sf_dir)
        ), name


def test_countmin_probe_broadcasts_sketch(spark, oracle_sf_dir):
    """The count-min probe join must broadcast the bounded d*w sketch
    (never shuffle the token table against it), and top-30 must stay
    a TakeOrderedAndProject."""
    plan = plan_of(QUERIES["countmin_frequency_estimate"](spark, oracle_sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_calibration_cuts_are_literals_no_window(spark, oracle_sf_dir):
    """Calibration decile edges must land as literals from the
    bracketed rank search — no Window operator, no SinglePartition
    in the scoring pass."""
    tree = tree_of(QUERIES["score_calibration_bins"](spark, oracle_sf_dir))
    assert "Window" not in tree
    assert "SinglePartition" not in tree


def test_collocation_prunes_before_pairing(spark, oracle_sf_dir):
    """The per-doc token pairing must happen AFTER the broadcast
    df-floor semi-filter (support pruning), and must never plan a
    cartesian product."""
    tree = tree_of(QUERIES["token_collocation_lift"](spark, oracle_sf_dir))
    assert "CartesianProduct" not in tree
    assert "BroadcastHashJoin" in tree
    assert "TakeOrderedAndProject" in plan_of(
        QUERIES["token_collocation_lift"](spark, oracle_sf_dir)
    )


def test_latency_and_harmonize_never_single_partition(spark, oracle_sf_dir):
    """funnel_step_latency's quantiles come from the bracketed rank
    search (literals, no Window); the percentile harmonization
    window must partition by source, never SinglePartition."""
    for name in ("funnel_step_latency", "score_percentile_harmonize"):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "SinglePartition" not in tree, (name, tree)


def test_rank_fusion_and_rfm_never_single_partition(spark, oracle_sf_dir):
    """Both global-ranking compositions (RRF legs, the three RFM
    quartile labelings) must run through the range-partition + offset
    machinery — never an ORDER-BY-everything window."""
    for name in ("rank_fusion_rrf", "customer_rfm_segments"):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "SinglePartition" not in tree, (name, tree)


def test_stream_topk_uses_window_group_limit(spark, oracle_sf_dir):
    """The per-window leaderboard's rn <= 3 must plan as
    WindowGroupLimit (per-group top-k pushdown), never a full
    per-window sort followed by a filter alone; the trimmed-mean
    family must stay SinglePartition-free."""
    plan = plan_of(QUERIES["stream_topk_per_window"](spark, oracle_sf_dir))
    assert "WindowGroupLimit" in plan
    tree = tree_of(QUERIES["grouped_trimmed_mean"](spark, oracle_sf_dir))
    assert "SinglePartition" not in tree


def test_ewma_single_shuffle_no_udf(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["ewma_order_price"](spark, oracle_sf_dir))
    # one window shuffle on the customer key, weighted fold stays
    # in codegen'd array expressions — no Python anywhere
    assert tree.count("Exchange") == 1
    assert "Python" not in tree and "BatchEvalPython" not in tree


def test_interval_overlap_no_cartesian(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["interval_overlap_join"](spark, oracle_sf_dir))
    # bin-exploded equi-join on (key, bin): never a per-key cross
    # product or nested-loop fallback
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    # equi-join on (key, bin); at fixture scale the optimizer may
    # broadcast the small side — any HASH-keyed strategy is the pin
    assert (
        "SortMergeJoin" in tree
        or "ShuffledHashJoin" in tree
        or "BroadcastHashJoin" in tree
    )


def test_cdc_snapshot_top1_is_group_limit(spark, oracle_sf_dir):
    plan = plan_of(QUERIES["cdc_snapshot_asof"](spark, oracle_sf_dir))
    # per-key latest-change selection must run as WindowGroupLimit
    # (rank state only), not a full per-key sort + filter
    assert "WindowGroupLimit" in plan
    # the snapshot cutoff reaches the scan
    assert "PushedFilters: [" in plan


def test_large_orders_aggregates_before_joins(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["large_order_customers"](spark, oracle_sf_dir))
    # the HAVING cut aggregates the fact table with a map-side
    # partial phase before any join touches it
    assert tree.count("HashAggregate") >= 2
    agg_pos = tree.find("HashAggregate")
    join_pos = min(
        p
        for p in (
            tree.find("SortMergeJoin"),
            tree.find("BroadcastHashJoin"),
            tree.find("ShuffledHashJoin"),
        )
        if p >= 0
    )
    # formatted tree lists downstream operators first: the join node
    # appears above (before) the aggregate that feeds it
    assert join_pos < agg_pos


def test_clamped_balance_single_shuffle(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["clamped_running_balance"](spark, oracle_sf_dir))
    # both window passes share one (key, order) partitioning: the
    # linearized clamp recurrence costs exactly one exchange
    assert tree.count("Exchange") == 1
    assert tree.count("Window") >= 2


def test_watermark_audit_never_single_partition(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["watermark_lateness_audit"](spark, oracle_sf_dir))
    # the global running max must run as range exchange + per-pid
    # windows, never an unpartitioned (SinglePartition) window
    assert "SinglePartition" not in tree


def test_decayed_leaderboard_is_top_n(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["decayed_leaderboard"](spark, oracle_sf_dir))
    assert "TakeOrderedAndProject" in tree  # top-20, never global sort
    assert "Sort " not in tree


def test_bitemporal_snapshot_group_limit_and_pushdown(spark, oracle_sf_dir):
    plan = plan_of(QUERIES["bitemporal_snapshot"](spark, oracle_sf_dir))
    # per-key latest-change selection stays a WindowGroupLimit, and
    # the business-time cutoff reaches the parquet scan
    assert "WindowGroupLimit" in plan
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "o_orderdate" in pushed


def test_negative_sampling_no_cartesian(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["negative_sampling_pairs"](spark, oracle_sf_dir))
    # the corpus index joins on the hashed rank key; the only
    # nested-loop is the broadcast 1-row count fan-in
    assert "CartesianProduct" not in tree
    assert "SinglePartition" not in tree


def test_survival_hazard_single_fact_pass(spark, oracle_sf_dir):
    tree = tree_of(QUERIES["survival_hazard_table"](spark, oracle_sf_dir))
    # one scan of orders for the spells + one for the broadcast
    # horizon row — never a third
    assert tree.count("Scan parquet") <= 2


def test_round5_statistics_never_single_partition(spark, oracle_sf_dir):
    """The round-5 statistics additions run their cumulative/rank
    passes through operators/ranks like the rest of the family:
    Mann-Whitney's doubled rank sums, the PR curve's threshold
    counts, and the Heaps'-law running vocabulary must never plan a
    SinglePartition exchange."""
    for name in (
        "mann_whitney_u",
        "precision_recall_curve",
        "heaps_law_vocab_growth",
    ):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "SinglePartition" not in tree, (name, tree)


def test_boilerplate_topk_broadcasts(spark, oracle_sf_dir):
    """boilerplate_coverage_ratio's 20-gram boilerplate dim must come
    from a TakeOrderedAndProject (top-k, never a global sort) and
    join back by broadcast; no cartesian anywhere."""
    plan = plan_of(QUERIES["boilerplate_coverage_ratio"](spark, oracle_sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_link_prediction_topk_no_cartesian(spark, oracle_sf_dir):
    """link_prediction_jaccard's top-50 must be TakeOrderedAndProject
    and every join keyed (wedge/middle-cap/degree joins are all
    equi-joins) — no cartesian, no global sort."""
    plan = plan_of(QUERIES["link_prediction_jaccard"](spark, oracle_sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_attribution_keyed_joins_only(spark, oracle_sf_dir):
    """attribution_last_touch's candidate join is keyed on user_id
    (the range predicates ride the equi-key) and both argmax steps
    are aggregations — never a cartesian, never SinglePartition."""
    tree = tree_of(QUERIES["attribution_last_touch"](spark, oracle_sf_dir))
    assert "CartesianProduct" not in tree
    assert "SinglePartition" not in tree


def test_experiment_stats_single_pass_aggregates(spark, oracle_sf_dir):
    """ab_test_proportions / effect_size_cohens_d / benford reduce to
    one partial+final aggregate chain over the scan; the tiny dims
    (Benford expectations, 1-row totals) must broadcast, and no
    cartesian may appear (1-row combines plan as broadcast
    nested-loop, which is fine and bounded)."""
    for name in ("ab_test_proportions", "effect_size_cohens_d"):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert tree.count("HashAggregate") >= 2, name
        assert "CartesianProduct" not in tree, name
    plan = plan_of(QUERIES["benford_first_digit"](spark, oracle_sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_round5_second_wave_never_single_partition(spark, oracle_sf_dir):
    """The later round-5 rank/cumulative consumers (systematic
    sampling, ABC classification, Qini curve, seasonal anomaly MAD)
    all ride operators/ranks — never a SinglePartition exchange."""
    for name in (
        "systematic_sample",
        "pareto_abc_classification",
        "uplift_qini_curve",
        "seasonal_residual_anomaly",
    ):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "SinglePartition" not in tree, (name, tree)


def test_engagement_and_rules_keyed_joins(spark, oracle_sf_dir):
    """DAU/MAU's bounded range join and the association-rule /
    min-cost-supplier compositions must plan keyed or broadcast joins
    only — no cartesian products — and the rule/supplier top-k must
    be TakeOrderedAndProject."""
    for name in ("dau_mau_stickiness", "split_leakage_audit"):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "CartesianProduct" not in tree, name
    for name in ("basket_lift_rules", "min_cost_supplier_q2"):
        plan = plan_of(QUERIES[name](spark, oracle_sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name


def test_er_block_cap_is_window_group_limit(spark, oracle_sf_dir):
    """The MAX_BLOCK cap inside the blocked fuzzy join must compile to
    WindowGroupLimit on the block keys (map-side pruning before the
    self-join's exchange), and the join itself must stay an equi-join
    — the round-6 guard that closed the last uncapped quadratic.
    entity_resolution_clusters composes the same capped pair builder
    but its connected-components checkpoint truncates lineage, hiding
    the cap from the final tree — its pair-stage shape is covered by
    the fuzzy pin plus tests/test_blocking.py's direct plan pin; here
    we still pin it cartesian-free."""
    tree = tree_of(QUERIES["fuzzy_name_match_blocked"](spark, oracle_sf_dir))
    assert "WindowGroupLimit" in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    er = tree_of(
        QUERIES["entity_resolution_clusters"](spark, oracle_sf_dir)
    )
    assert "CartesianProduct" not in er
    assert "BroadcastNestedLoopJoin" not in er


def test_hard_negative_corpus_not_shuffled(spark, oracle_sf_dir):
    """Same contract as similarity_cosine_topk: the 8-row query set
    broadcasts (label-mismatch fused into the nested-loop condition),
    the corpus never shuffles for the join, top-5 is a
    WindowGroupLimit."""
    tree = tree_of(QUERIES["hard_negative_mining"](spark, oracle_sf_dir))
    assert "BroadcastNestedLoopJoin" in tree
    assert "WindowGroupLimit" in tree
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_gdpr_cascade_semi_joins_only(spark, oracle_sf_dir):
    """Erasure propagation must flow as keyed LeftSemi joins — no
    fact-side fan-out, no cartesian."""
    tree = tree_of(QUERIES["gdpr_erasure_cascade"](spark, oracle_sf_dir))
    assert "LeftSemi" in tree
    assert "CartesianProduct" not in tree


def test_round6_additions_never_single_partition(spark, oracle_sf_dir):
    """Round-6 fact-scan queries keep partial aggregation and never
    collapse to a SinglePartition exchange (the bounded single-row
    folds — holt_winters' calendar array, mmr's candidate row — are
    constant-size aggregates, exempt by the same argument as
    score_decile_lift)."""
    for name in (
        "token_burstiness_vmr",
        "graph_degree_assortativity",
        "cow_delete_plan",
        "label_centroid_separation",
        "embedding_label_outliers",
        "dedup_threshold_sweep",
        "matryoshka_dim_tradeoff",
    ):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "SinglePartition" not in tree, (name, tree)


def test_label_outliers_bottomk_is_take_ordered(spark, oracle_sf_dir):
    plan = plan_of(QUERIES["embedding_label_outliers"](spark, oracle_sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_range_join_binned_is_shuffled_hash(spark, oracle_sf_dir):
    """The band join must NEVER broadcast its exploded interval side:
    the planner costs it from the SCAN estimate, but after the
    bins x salt Generates it is orders of magnitude bigger (22M rows
    at the 30x fixture — a single-threaded driver-side hash build
    that pinned one core for 17+ minutes before the operator pinned
    shuffle_hash). Also pins the salt column on the join keys, which
    is what keeps AQE from coalescing the exploding stage onto one
    task (output bytes >> input bytes is invisible to AQE)."""
    for name in ("join_range_binned", "join_range_binned_agg"):
        df = QUERIES[name](spark, oracle_sf_dir)
        tree = tree_of(df)
        assert "ShuffledHashJoin" in tree, name
        assert "BroadcastHashJoin" not in tree, name
        assert "_salt" in plan_of(df), name


def test_range_binned_salt_spreads_identical_duplicate_rows(spark):
    """r8 advice: a whole-row-hash salt lands FULLY-IDENTICAL
    duplicate rows of one hot point value in a single salt bucket —
    the exact skew the salting exists to break. The salt must be
    per-row (round-robin on monotonically_increasing_id): pin the
    expression in the plan, and check the join output is exactly the
    duplicate-preserving cross of the hot value with its one covering
    interval regardless of salt assignment."""
    from pyspark.sql import functions as F

    from etl_pyspark_spark.operators.joins import range_join_binned

    pts = spark.range(4000).select(F.lit(500).cast("long").alias("p"))
    iv = spark.createDataFrame(
        [(0, 1000, "w"), (2000, 3000, "x")], "s long, e long, tag string"
    )
    out = range_join_binned(pts, iv, "p", "s", "e", bin_width=100, salt=8)
    plan = plan_of(out)
    assert "monotonically_increasing_id" in plan, plan[:2000]
    assert "xxhash64" not in plan.lower(), "salt regressed to a row hash"
    assert out.count() == 4000
    assert out.select("tag").distinct().collect()[0]["tag"] == "w"


def test_bloom_prefilter_two_phase(spark, oracle_sf_dir):
    """Phase 1 must be a BROADCAST join on the bounded bucket set
    (never a shuffle: the whole point is that the fact side stays
    in place until pruned); phase 2 is the exact semi join."""
    tree = tree_of(QUERIES["join_bloom_prefilter"](spark, oracle_sf_dir))
    assert "BroadcastHashJoin" in tree
    assert "LeftSemi" in tree


def test_autosize_shuffle_partitions_floor_and_raise(spark, oracle_sf_dir):
    """At fixture scale the session's configured value is the floor
    (bench plans unchanged); when the derived need exceeds it the
    conf rises, and a later small-fixture query drops it back."""
    import etl_pyspark_spark.sources.io as io

    before = spark.conf.get("spark.sql.shuffle.partitions")
    applied = io.autosize_shuffle_partitions(spark, oracle_sf_dir)
    assert str(applied) == spark.conf.get("spark.sql.shuffle.partitions")
    assert applied == int(before)  # 60k rows << 200k/partition: floor

    # shrink the per-partition budget so the same fixture demands more
    old = io._AUTOSIZE_ROWS_PER_PARTITION
    io._AUTOSIZE_ROWS_PER_PARTITION = 1_000
    try:
        raised = io.autosize_shuffle_partitions(spark, oracle_sf_dir)
        assert raised > int(before)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(raised)
    finally:
        io._AUTOSIZE_ROWS_PER_PARTITION = old
    # next call at the real budget restores the floor
    assert io.autosize_shuffle_partitions(spark, oracle_sf_dir) == int(before)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_autosize_disabled_by_env(spark, oracle_sf_dir, monkeypatch):
    import etl_pyspark_spark.sources.io as io

    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_AUTOSIZE", "0")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert io.autosize_shuffle_partitions(spark, oracle_sf_dir) == 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_autosize_corrupt_footer_warns_and_falls_back(tmp_path, capfd):
    """r08 verdict #5: a corrupt parquet footer must produce a VISIBLE
    warning and a NON-ZERO bytes-derived row estimate — recording 0
    rows made autosize silently inert on exactly the fixture it could
    no longer read."""
    import etl_pyspark_spark.sources.io as io

    # 1 MiB of garbage named like the largest fixture table: footer
    # read fails, size-based fallback says ~1 MiB / 50 B/row rows
    garbage = tmp_path / "lineitem.parquet"
    garbage.write_bytes(b"\x00" * (1 << 20))
    rows = io._fixture_max_rows(str(tmp_path))
    err = capfd.readouterr().err
    assert "footer read FAILED" in err
    assert "lineitem" in err
    assert rows == (1 << 20) // 50
    # memoized: second call returns the same estimate without re-warn
    assert io._fixture_max_rows(str(tmp_path)) == rows


def test_maxsim_single_pass_no_shuffle(spark, oracle_sf_dir):
    """Late-interaction MaxSim is ONE codegen expression per corpus
    row: a 1-row broadcast for the query bag, no data exchange, and
    the top-10 as TakeOrderedAndProject (never a global sort). The
    probe shape a 100 TB multi-vector scan needs."""
    tree = tree_of(
        QUERIES["similarity_maxsim_late_interaction"](spark, oracle_sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in tree
    assert "TakeOrderedAndProject" in tree
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 0
    assert "BatchEvalPython" not in tree


def test_weighted_reservoir_is_take_ordered_scan(spark, oracle_sf_dir):
    """A-Res weighted sampling = one scan + TakeOrderedAndProject;
    zero exchanges, zero Python."""
    tree = tree_of(QUERIES["sample_weighted_reservoir"](spark, oracle_sf_dir))
    assert "TakeOrderedAndProject" in tree
    assert "Exchange" not in tree
    assert "EvalPython" not in tree  # neither Batch- nor ArrowEvalPython


def test_decontaminate_corpus_never_shuffles(spark, oracle_sf_dir):
    """Semantic decontamination rides the benchmark matrix into an
    Arrow-batched GEMM over the training scan: MapInPandas directly
    on the scan, no exchange, no row-at-a-time Python."""
    tree = tree_of(QUERIES["decontaminate_semantic"](spark, oracle_sf_dir))
    assert "MapInPandas" in tree
    assert "Exchange" not in tree
    assert "BatchEvalPython" not in tree


def test_sorted_neighborhood_one_block_exchange(spark, oracle_sf_dir):
    """Sorted-neighborhood ER: exactly one hash exchange (the block
    partitioning); the window sorts WITHIN blocks — never a global
    single-partition sort."""
    tree = tree_of(QUERIES["er_sorted_neighborhood"](spark, oracle_sf_dir))
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1
    assert "SinglePartition" not in tree
    assert "WindowGroupLimit" not in tree  # plain lags, no limit push


def test_dedup_prefix_family_verify_is_broadcast(spark, oracle_sf_dir):
    """r9 weak-cell fix regression guard: the prefix-filter family's
    verify stage must attach the per-doc set dictionary via BROADCAST
    joins — candidates (40M+ on low-diversity corpora) stream through
    in one stage. A shuffled verify re-creates the 76x-for-10x wall
    measured mid-fix on the native fixture."""
    for name in ("dedup_ngram_prefix", "dedup_containment"):
        tree = tree_of(QUERIES[name](spark, oracle_sf_dir))
        assert "BroadcastHashJoin" in tree, name


def test_mutual_knn_is_arrow_gemm_no_shuffle_knn(spark, oracle_sf_dir):
    """The kNN stage must be Arrow mapInPandas over the scan (one GEMM
    per batch, zero shuffles); only the tiny n*k edge list may
    shuffle for the reciprocal self-join. A cartesian/broadcast
    nested loop here is the 10us/pair Catalyst path — 400x slower."""
    df = QUERIES["similarity_mutual_knn"](spark, oracle_sf_dir)
    tree = tree_of(df)
    assert "MapInPandas" in tree or "ArrowEvalPython" in plan_of(df), tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_asof_nearest_twopass_is_two_windows(spark, oracle_sf_dir):
    """Two as-of passes = exactly two Window operators over the
    union'd frames; no per-key candidate join (the one-pass nearest
    variant's plan contains a user-keyed join feeding a window — this
    twin must not)."""
    df = QUERIES["join_asof_nearest_twopass"](spark, oracle_sf_dir)
    tree = tree_of(df)
    assert tree.count("Window") >= 2, tree


def test_bootstrap_poisson_is_one_pass(spark, oracle_sf_dir):
    """All 16 Poisson-bootstrap replicates must come out of ONE
    streaming aggregation pass (the whole point of the Poisson trick
    vs per-replicate resampling): one scan, map-side partials, a
    single aggregation exchange carrying one partial row per
    partition, no UDF. The r11 spread() fan-out (single-row-group
    fixture files scan as ONE task otherwise) may add at most one
    round-robin repartition exchange BELOW the hash derivation — that
    one is deliberate and carries raw rows, not partials."""
    df = QUERIES["stats_bootstrap_ci_poisson"](spark, oracle_sf_dir)
    tree = tree_of(df)
    plan = plan_of(df)
    assert "HashAggregate" in tree or "SortAggregate" in tree
    rr = plan.count("RoundRobinPartitioning")
    assert rr <= 1, plan
    assert tree.count("Exchange") - rr == 1, tree
    assert "Scan" in tree and tree.count("FileScan") <= 1
