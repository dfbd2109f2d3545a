"""Query family: round6_extensions (mechanically split from registry.py — see core)."""

from __future__ import annotations

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    MAX_BASKET,
    SparkSession,
    os,
    pround,
    query,
    read_table,
    sql_pround,
)
from etl_pyspark_spark.queries.text_analysis import _WS_TOKENS_SQL
from etl_pyspark_spark.queries._shared import _ORACLE_SF
from etl_pyspark_spark.queries.eval_stats import _SKIP_HI, _SKIP_LO
from etl_pyspark_spark.sources.io import literal_frame, read_parquet
from etl_pyspark_spark.sources.layouts import (
    ensure_skipping_lineitem,
    skipping_lineitem_dir,
)
from etl_pyspark_spark.queries.graph_temporal import (
    _copurchase_edge_count,
    _copurchase_edges,
    _copurchase_edges_sql,
)

# ---------------------------------------------------------------------------
# Round 6: compliance cascade, retrieval diversification, matryoshka
# embedding tradeoff, integer-exact double-exponential smoothing,
# degree assortativity, encoding-quality audit, dedup threshold sweep.
# ---------------------------------------------------------------------------


@query(
    "gdpr_erasure_cascade",
    oracle="""
    WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    o_del AS (SELECT o_orderkey FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM del)),
    cnts AS (
      SELECT 'customer' AS table_name,
             CAST((SELECT count(*) FROM del) AS BIGINT) AS n_erase,
             CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total
      UNION ALL
      SELECT 'orders',
             CAST((SELECT count(*) FROM o_del) AS BIGINT),
             CAST((SELECT count(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 'lineitem',
             CAST((SELECT count(*) FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM o_del))
                  AS BIGINT),
             CAST((SELECT count(*) FROM lineitem) AS BIGINT))
    SELECT table_name, n_erase, n_total,
           CAST(n_total - n_erase AS BIGINT) AS n_surviving
    FROM cnts
    """,
)
def q_gdpr_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact cascade: a deterministic delete set of
    data subjects (every 97th custkey — standing in for the day's
    erasure requests) propagated through the foreign-key chain
    customer -> orders -> lineitem, reporting per-table rows to erase
    vs surviving. This is the audit a compliance pipeline runs BEFORE
    the destructive pass — and at 100 TB the erasure itself is these
    exact semi-joins flipped to anti-joins feeding an
    insert-overwrite. Scale shape: the subject set flows down the
    chain as keyed semi-joins (orderkeys of erased customers, then
    lineitems of those orders) — each hop is one equi-join shuffle on
    the child's own key, no fact-side fan-out; the per-table counts
    are map-side-combinable 1-row aggregates unioned at the end. No
    reference counterpart (SURVEY §2.9 governance family)."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    del_c = cust.where(F.col("c_custkey") % 97 == 0).select("c_custkey")
    del_o = orders.join(
        del_c, orders["o_custkey"] == del_c["c_custkey"], "leftsemi"
    ).select("o_orderkey")
    del_l = li.join(
        del_o, li["l_orderkey"] == del_o["o_orderkey"], "leftsemi"
    )

    def one(name: str, erase_df: DataFrame, total_df: DataFrame):
        e = erase_df.agg(F.count(F.lit(1)).alias("n_erase"))
        t = total_df.agg(F.count(F.lit(1)).alias("n_total"))
        return e.crossJoin(t).select(
            F.lit(name).alias("table_name"),
            F.col("n_erase").cast("bigint").alias("n_erase"),
            F.col("n_total").cast("bigint").alias("n_total"),
            (F.col("n_total") - F.col("n_erase"))
            .cast("bigint")
            .alias("n_surviving"),
        )

    return (
        one("customer", del_c, cust)
        .unionByName(one("orders", del_o, orders))
        .unionByName(one("lineitem", del_l, li))
    )


def _matryoshka_oracle() -> str:
    from etl_pyspark_spark.similarity.cosine import sql_cosine

    full = sql_pround(sql_cosine("c.embedding", "q.embedding"), 6)
    # cosine over the 8-dim prefix of both vectors
    trunc = sql_pround(
        sql_cosine("c.embedding[1:8]", "q.embedding[1:8]"), 6
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id < 8),
    simf AS (SELECT q.query_id, c.vec_id AS neighbor_id, {full} AS s
             FROM embeddings c JOIN q ON c.vec_id <> q.query_id),
    simt AS (SELECT q.query_id, c.vec_id AS neighbor_id, {trunc} AS s
             FROM embeddings c JOIN q ON c.vec_id <> q.query_id),
    topf AS (SELECT query_id, neighbor_id FROM
             (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY s DESC, neighbor_id) AS rk FROM simf)
             WHERE rk <= 10),
    topt AS (SELECT query_id, neighbor_id FROM
             (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY s DESC, neighbor_id) AS rk FROM simt)
             WHERE rk <= 10)
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(t.neighbor_id) AS DOUBLE) / 10.0 AS recall_at_10
    FROM topf f LEFT JOIN topt t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """


@query("matryoshka_dim_tradeoff", oracle=_matryoshka_oracle())
def q_matryoshka_dim_tradeoff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style dimensionality tradeoff audit: for each of 8
    query vectors, how much of the exact top-10 under FULL 64-dim
    cosine survives when retrieval uses only the first 8 dimensions
    (the truncated-prefix regime MRL-trained embedders are built
    for)? recall@10 per query is the number a platform quotes before
    switching its ANN index to truncated vectors — storage and
    compute drop 8x, this measures what ranking quality it costs.
    Scale shape: both rankings ride brute_force_topk's plan
    (broadcast 8-row query set against the corpus scan, corpus never
    shuffles for the join; slice() keeps the prefix cosine in
    whole-stage codegen), and the overlap join keys on the 8x10-row
    top lists — dimension-bounded. No reference counterpart (SURVEY
    §2.9 similarity family)."""
    from etl_pyspark_spark.similarity.cosine import brute_force_topk

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    full = brute_force_topk(emb, q, k=10).select(
        "query_id", "neighbor_id"
    )
    emb8 = emb.select(
        "vec_id", F.slice("embedding", 1, 8).alias("embedding")
    )
    q8 = emb8.where(F.col("vec_id") < 8)
    trunc = brute_force_topk(emb8, q8, k=10).select(
        F.col("query_id").alias("t_query_id"),
        F.col("neighbor_id").alias("t_neighbor_id"),
    )
    j = full.join(
        trunc,
        (F.col("query_id") == F.col("t_query_id"))
        & (F.col("neighbor_id") == F.col("t_neighbor_id")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("t_neighbor_id").cast("bigint").alias("n_overlap"),
        (F.count("t_neighbor_id").cast("double") / F.lit(10.0)).alias(
            "recall_at_10"
        ),
    )


def _mmr_oracle(k: int = 5, lam: float = 0.5) -> str:
    from etl_pyspark_spark.similarity.cosine import sql_cosine

    rel = sql_pround(sql_cosine("c.embedding", "q.embedding"), 6)
    psim = sql_pround(sql_cosine("a.embedding", "b.embedding"), 6)
    steps = []
    prev = "s1"
    for i in range(2, k + 1):
        steps.append(
            f"""sel{i - 1} AS (
      {' UNION ALL '.join(f'SELECT * FROM s{j}' for j in range(1, i))}),
    sc{i} AS (
      SELECT c.neighbor_id, c.rel,
             {lam} * c.rel - {1 - lam} * max(p.sim) AS score
      FROM cand c
      JOIN ps p ON p.id_a = c.neighbor_id
      JOIN sel{i - 1} s ON s.neighbor_id = p.id_b
      WHERE c.neighbor_id NOT IN (SELECT neighbor_id FROM sel{i - 1})
      GROUP BY c.neighbor_id, c.rel),
    s{i} AS (
      SELECT {i} AS rank, neighbor_id, rel, score AS mmr_score
      FROM sc{i} ORDER BY score DESC, neighbor_id LIMIT 1)"""
        )
        prev = f"s{i}"
    return f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    cand AS MATERIALIZED (SELECT neighbor_id, rel FROM
             (SELECT c.vec_id AS neighbor_id, {rel} AS rel,
                     row_number() OVER (ORDER BY {rel} DESC, c.vec_id)
                       AS rk
              FROM embeddings c, q WHERE c.vec_id <> 0)
             WHERE rk <= 20),
    ps AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {psim} AS sim
           FROM embeddings a JOIN embeddings b
             ON a.vec_id IN (SELECT neighbor_id FROM cand)
            AND b.vec_id IN (SELECT neighbor_id FROM cand)
            AND a.vec_id <> b.vec_id),
    s1 AS (SELECT 1 AS rank, neighbor_id, rel, rel AS mmr_score
           FROM cand ORDER BY rel DESC, neighbor_id LIMIT 1),
    {','.join(steps)}
    {' UNION ALL '.join(f'SELECT * FROM s{j}' for j in range(1, k + 1))}
    """


@query("mmr_diversified_topk", oracle=_mmr_oracle())
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified retrieval: greedily pick
    5 of the query's top-20 cosine candidates, each step maximizing
    lambda*relevance - (1-lambda)*max-similarity-to-already-selected
    (lambda = 0.5) — the standard rerank that keeps a RAG context
    window from filling with five copies of the same passage. Scale
    shape: the expensive part (corpus-wide scoring) is
    brute_force_topk's broadcast-against-scan plan; the candidate
    set and its 20x20 pairwise sims then collapse into ONE row
    (bounded collect_list aggregates), and the whole greedy loop
    unrolls as higher-order array expressions over that row — pure
    whole-stage codegen, zero extra jobs, constant work regardless
    of corpus size (a first cut as five chained limit(1) DataFrames
    measured 4.9-14.8 s of per-step job overhead for identical
    results; arrays run it in milliseconds). Every sim is
    pround(6)-rounded BEFORE the MMR arithmetic, so both engines
    fold identical doubles and the greedy choice sequence is
    deterministic (ties break on neighbor_id). No reference
    counterpart (SURVEY §2.9 similarity family)."""
    from etl_pyspark_spark.similarity.cosine import (
        brute_force_topk,
        as_double,
        cosine,
    )

    lam, k = 0.5, 5
    emb = read_table(spark, sf_dir, "embeddings")
    q0 = emb.where(F.col("vec_id") == 0)
    cand = brute_force_topk(emb, q0, k=20).select(
        "neighbor_id", F.col("cos_sim").alias("rel")
    )
    cvec = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("v"),
    ).join(F.broadcast(cand.select("neighbor_id")), "neighbor_id")
    a = cvec.select(
        F.col("neighbor_id").alias("id_a"), F.col("v").alias("va")
    )
    b = cvec.select(
        F.col("neighbor_id").alias("id_b"), F.col("v").alias("vb")
    )
    ps = a.join(F.broadcast(b), F.col("id_a") != F.col("id_b")).select(
        "id_a",
        "id_b",
        pround(cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
    )
    # one row: 20 candidates + 380 pair sims (bounded aggregates)
    one = cand.agg(
        F.collect_list(F.struct("neighbor_id", "rel")).alias("c")
    ).crossJoin(
        F.broadcast(
            ps.agg(
                F.collect_list(F.struct("id_a", "id_b", "sim")).alias(
                    "p"
                )
            )
        )
    )

    def pick_best(arr):
        """argmax by (score DESC, neighbor_id ASC) over an array of
        (neighbor_id, rel, score) structs — a fold, no sort."""
        return F.aggregate(
            arr,
            F.element_at(arr, 1),
            lambda acc, e: F.when(
                (e["score"] > acc["score"])
                | (
                    (e["score"] == acc["score"])
                    & (e["neighbor_id"] < acc["neighbor_id"])
                ),
                e,
            ).otherwise(acc),
        )

    c, p = F.col("c"), F.col("p")
    first = pick_best(
        F.transform(
            c,
            lambda e: F.struct(
                e["neighbor_id"].alias("neighbor_id"),
                e["rel"].alias("rel"),
                e["rel"].alias("score"),
            ),
        )
    )
    init = F.array(
        F.struct(
            F.lit(1).alias("rank"),
            first["neighbor_id"].alias("neighbor_id"),
            first["rel"].alias("rel"),
            first["score"].alias("mmr_score"),
        )
    )

    def step(st, i):
        picked = F.transform(st, lambda s: s["neighbor_id"])
        scored = F.transform(
            F.filter(
                c,
                lambda e: ~F.array_contains(picked, e["neighbor_id"]),
            ),
            lambda e: F.struct(
                e["neighbor_id"].alias("neighbor_id"),
                e["rel"].alias("rel"),
                (
                    F.lit(lam) * e["rel"]
                    - F.lit(1 - lam)
                    * F.array_max(
                        F.transform(
                            F.filter(
                                p,
                                lambda x: (
                                    x["id_a"] == e["neighbor_id"]
                                )
                                & F.array_contains(picked, x["id_b"]),
                            ),
                            lambda x: x["sim"],
                        )
                    )
                ).alias("score"),
            ),
        )
        best = pick_best(scored)
        return F.concat(
            st,
            F.array(
                F.struct(
                    i.cast("int").alias("rank"),
                    best["neighbor_id"].alias("neighbor_id"),
                    best["rel"].alias("rel"),
                    best["score"].alias("mmr_score"),
                )
            ),
        )

    picks = F.aggregate(F.sequence(F.lit(2), F.lit(k)), init, step)
    return (
        one.select(F.explode(picks).alias("s"))
        .select("s.rank", "s.neighbor_id", "s.rel", "s.mmr_score")
    )


@query(
    "holt_winters_level_trend",
    oracle="""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS x
      FROM orders GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY d) AS i, x FROM daily),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM idx),
    rec AS (
      SELECT CAST(1 AS BIGINT) AS i, x AS l, CAST(0 AS BIGINT) AS b
      FROM idx WHERE i = 1
      UNION ALL
      SELECT r.i + 1,
             (ix.x + r.l + r.b) >> 1,
             ((((ix.x + r.l + r.b) >> 1) - r.l) + r.b) >> 1
      FROM rec r JOIN idx ix ON ix.i = r.i + 1),
    fin AS (SELECT r.l, r.b FROM rec r, n WHERE r.i = n.n_days)
    SELECT CAST(h AS BIGINT) AS horizon_days,
           CAST(l + h * b AS BIGINT) AS forecast_cents,
           l AS level_cents, b AS trend_cents
    FROM fin, UNNEST(generate_series(1, 7)) AS g(h)
    """,
)
def q_holt_winters_level_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Double-exponential smoothing (Holt's level+trend, alpha = beta
    = 1/2) over daily order revenue, emitting the 1..7-day-ahead
    linear forecast — the classic ops-forecasting recurrence that a
    single EWMA (ewma_order_price) can't express because trend needs
    a SECOND coupled state variable. Cross-engine exactness: revenue
    is quantized to bigint cents and both recurrence updates are
    integer adds plus ONE arithmetic right-shift (alpha = 1/2 makes
    the smoothing a floor-halving, and >> floors identically in
    Spark and DuckDB, including on negative trend deltas) — the
    dyadic-exactness idiom, extended to a 2-state linear recurrence.
    Scale shape: the fact-scale work is one keyed daily aggregation
    (map-side combinable); the fold then runs over the ~2.4k-day
    array INSIDE one aggregate via F.aggregate (codegen, sequential
    by construction — a recurrence is inherently ordered, and the
    array is bounded by the calendar, the same bounded-by-
    construction argument as survival_hazard_table), replayed by the
    oracle as a recursive CTE. No reference counterpart (SURVEY
    §2.9 time-series family)."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                * 100
            )
            .cast("bigint")
            .alias("x")
        )
    )
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("a")
    )
    state = F.aggregate(
        F.slice(F.col("a"), 2, 10_000_000),
        F.struct(
            F.element_at(F.col("a"), 1)["x"].alias("l"),
            F.lit(0).cast("bigint").alias("b"),
        ),
        lambda st, e: F.struct(
            F.shiftright(e["x"] + st["l"] + st["b"], 1).alias("l"),
            F.shiftright(
                (F.shiftright(e["x"] + st["l"] + st["b"], 1) - st["l"])
                + st["b"],
                1,
            ).alias("b"),
        ),
    )
    fin = arr.select(
        state["l"].alias("level_cents"), state["b"].alias("trend_cents")
    )
    return fin.select(
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("_h"),
        "level_cents",
        "trend_cents",
    ).select(
        F.col("_h").cast("bigint").alias("horizon_days"),
        "level_cents",
        "trend_cents",
    ).select(
        "horizon_days",
        (
            F.col("level_cents")
            + F.col("horizon_days") * F.col("trend_cents")
        )
        .cast("bigint")
        .alias("forecast_cents"),
        "level_cents",
        "trend_cents",
    )


@query(
    "graph_degree_assortativity",
    oracle="WITH "
    + _copurchase_edges_sql().replace("e0 AS (", "e0 AS MATERIALIZED (")
    + f""",
    und AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d
      FROM und GROUP BY u),
    pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM und e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM pairs)
    SELECT n AS n_edge_ends, sxy, sxx,
           {sql_pround(
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        "      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        "         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 9
    )} AS assortativity
    FROM s
    """,
)
def q_graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all directed edge ends —
    THE one-number summary of whether hubs attach to hubs
    (assortative, r > 0) or to leaves (disassortative, r < 0), which
    decides whether degree-capped algorithms (the MAX_BASKET /
    mid-degree guards) cut a fringe or the core. Exactness: all six
    sufficient statistics are bigint sums of bounded integers
    (degrees are capped by the shared basket cap), folded into one
    double formula whose sqrt is correctly rounded — the Pearson
    idiom the stats family already pins. Scale shape: two joins of
    the edge list against the degree table (count-driven broadcast /
    shuffle-hash strategy shared with link_prediction_jaccard — the
    fact-scale edge list never sorts), then a 1-row aggregate."""
    n_edges = _copurchase_edge_count(spark, sf_dir)
    if n_edges <= 1_000_000:
        dim = F.broadcast
    else:
        dim = lambda df: df.hint("shuffle_hash")  # noqa: E731
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("y"))
    pairs = und.join(dim(du), "u").join(dim(dv), "v")
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            nd * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return s.select(
        F.col("n").alias("n_edge_ends"),
        "sxy",
        "sxx",
        pround(num / den, 9).alias("assortativity"),
    )


@query(
    "token_burstiness_vmr",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({_WS_TOKENS_SQL.format(col='text')}) AS tok
      FROM documents),
    per_doc AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
                FROM toks GROUP BY 1, 2),
    stats AS (SELECT tok,
                     CAST(count(*) AS BIGINT) AS df,
                     CAST(sum(c) AS BIGINT) AS tf,
                     CAST(sum(c * c) AS BIGINT) AS sc2
              FROM per_doc GROUP BY tok)
    SELECT tok, df, tf,
           CAST(df * sc2 - tf * tf AS DOUBLE)
             / CAST(df * tf AS DOUBLE) AS vmr
    FROM stats
    ORDER BY df DESC, tok LIMIT 20
    """,
)
def q_token_burstiness_vmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness for the top-20 document-frequency terms: the
    variance-to-mean ratio of per-document counts over the documents
    CONTAINING each term. Content words are bursty (VMR >> 0 — they
    pile up in a few documents), function words are Poisson-flat
    (VMR near 0); the ratio is the standard Church/Gale dispersion
    signal for stopword discovery and index compression planning,
    orthogonal to plain frequency (tfidf_top_terms ranks; this
    measures CLUMPING). Exactness: df, tf, sum(c^2) are integer
    sufficient statistics, and VMR = (df*sc2 - tf^2)/(df*tf) is ONE
    bigint->double division — exactly rounded in both engines.
    Scale shape: tokenize-once explode -> two map-side-combinable
    keyed aggregations -> TakeOrderedAndProject top-20; nothing
    global, no window."""
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok")
    )
    per_doc = toks.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    stats = per_doc.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("tf"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    vmr = (
        F.col("df") * F.col("sc2") - F.col("tf") * F.col("tf")
    ).cast("double") / (F.col("df") * F.col("tf")).cast("double")
    return (
        stats.select("tok", "df", "tf", vmr.alias("vmr"))
        .orderBy(F.col("df").desc(), "tok")
        .limit(20)
    )


def _threshold_sweep_oracle() -> str:
    from etl_pyspark_spark.dedup.minhash import (
        sql_minhash_pairs,
        sql_shingles_cte,
    )

    return (
        "WITH "
        + sql_shingles_cte()
        + ", "
        + sql_minhash_pairs(threshold=0.5, final_name="vp")
        + """,
    thr AS (SELECT CAST(UNNEST([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
              AS threshold),
    surv AS (SELECT t.threshold, p.doc_id_a, p.doc_id_b
             FROM vp p JOIN thr t ON p.jaccard >= t.threshold),
    pairs AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
              FROM surv GROUP BY 1),
    docs AS (SELECT threshold,
                    CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
             FROM (SELECT threshold, doc_id_a AS d FROM surv
                   UNION ALL
                   SELECT threshold, doc_id_b AS d FROM surv)
             GROUP BY 1)
    SELECT t.threshold, COALESCE(p.n_pairs, 0) AS n_pairs,
           COALESCE(d.n_docs_affected, 0) AS n_docs_affected
    FROM thr t
    LEFT JOIN pairs p ON p.threshold = t.threshold
    LEFT JOIN docs d ON d.threshold = t.threshold
    """
    )


@query("dedup_threshold_sweep", oracle=_threshold_sweep_oracle())
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sensitivity sweep: from ONE pass of the
    shared MinHash-verified pair table (threshold 0.5), how many
    pairs and how many distinct documents would each candidate
    release threshold (0.5..0.9) act on — the dial a release engineer
    turns before committing a dedup pass, answered without re-running
    candidate generation per setting (the verified jaccard is exact,
    so higher thresholds are pure filters over the same pairs).
    Scale shape: the family-shared build pays the LSH + verify cost
    once (dedup_shared_build); this query is a 5-way threshold
    explode over the surviving pair list (|pairs| x 5 rows) and two
    keyed counts — marginal cost near zero at any corpus size."""
    from etl_pyspark_spark.dedup.shared import verified_pairs

    vp = verified_pairs(spark, sf_dir)
    thr = literal_frame(
        spark, [(t,) for t in (0.5, 0.6, 0.7, 0.8, 0.9)], "threshold double"
    )
    surv = vp.join(
        F.broadcast(thr), F.col("jaccard") >= F.col("threshold")
    )
    pairs = surv.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    docs = (
        surv.select("threshold", F.col("doc_id_a").alias("d"))
        .unionByName(
            surv.select("threshold", F.col("doc_id_b").alias("d"))
        )
        .groupBy("threshold")
        .agg(
            F.countDistinct("d").cast("bigint").alias("n_docs_affected")
        )
    )
    return (
        thr.join(pairs, "threshold", "left")
        .join(docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0)).alias(
                "n_docs_affected"
            ),
        )
    )


def _hard_negative_oracle() -> str:
    from etl_pyspark_spark.similarity.cosine import sql_cosine

    cos = sql_pround(sql_cosine("c.embedding", "q.embedding"), 6)
    return f"""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding
               FROM embeddings WHERE vec_id < 8),
    sims AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                    c.label AS n_label, {cos} AS cos_sim
             FROM embeddings c JOIN q
               ON c.vec_id <> q.query_id AND c.label <> q.q_label),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rk
               FROM sims)
    SELECT query_id, neighbor_id, n_label AS neighbor_label, cos_sim,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """


@query("hard_negative_mining", oracle=_hard_negative_oracle())
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query
    vector, the 5 most-similar corpus vectors carrying a DIFFERENT
    label — the near-miss negatives that make an embedding model
    actually learn boundaries (random negatives are trivially easy;
    these are the ones it currently confuses). Scale shape: identical
    to brute_force_topk's broadcast-queries-against-corpus-scan plan
    with the label-mismatch predicate fused into the join condition
    (evaluated before any cosine math), one window shuffle keyed by
    query for the per-query rank, WindowGroupLimit top-5. At corpus
    scale the same query swaps the scan for the IVF/LSH candidate
    generators the similarity family already provides. No reference
    counterpart (SURVEY §2.9 similarity family)."""
    from etl_pyspark_spark.similarity.cosine import as_double, cosine
    from pyspark.sql.window import Window

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        as_double(F.col("embedding")).alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        as_double(F.col("embedding")).alias("cv"),
    )
    sim = pround(cosine(F.col("qv"), F.col("cv")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("q_label") != F.col("neighbor_label")),
        )
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            sim.alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 5)
    )


# millis, not millionths: the centroid SUM vectors feed a double
# dot product, and every partial there must stay under 2^53 to be
# exactly representable — q3 keeps sums ~5e5 and dot terms ~1e13 at
# bench scale (exact), where q6 overflowed to order-dependent
# rounding (observed last-ulp cross-engine drift)
_Q3 = "1000.0"


def _label_centroid_sql() -> str:
    """CTE text ``cent`` : per-label centroid SUM vectors with
    elements quantized to bigint millis BEFORE summing, so the
    per-dimension sums are exact integers in any summation order.
    Cosine is scale-invariant, so the un-divided sum vector IS the
    centroid for any angular comparison."""
    return f"""
    exploded AS (
      SELECT label, g.i AS pos,
             CAST(floor(embedding[g.i] * {_Q3} + 0.5) AS BIGINT) AS q
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS g(i)),
    sums AS (SELECT label, pos, CAST(sum(q) AS BIGINT) AS s
             FROM exploded GROUP BY 1, 2),
    cent AS (SELECT label,
                    list(CAST(s AS DOUBLE) ORDER BY pos) AS cv
             FROM sums GROUP BY label)
    """


def _centroid_sep_oracle() -> str:
    from etl_pyspark_spark.similarity.cosine import sql_cosine

    cos = sql_pround(sql_cosine("a.cv", "b.cv"), 6)
    return (
        "WITH "
        + _label_centroid_sql()
        + f"""
    SELECT a.label AS label_a, b.label AS label_b, {cos} AS centroid_cos
    FROM cent a JOIN cent b ON a.label < b.label
    """
    )


@query("label_centroid_separation", oracle=_centroid_sep_oracle())
def q_label_centroid_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Class-separability diagnostic: pairwise cosine between
    per-label centroid vectors — high off-diagonal similarity means
    two labels are entangled in embedding space and a classifier (or
    a semantic-dedup threshold) will confuse them. Exactness:
    elements are quantized to bigint millis BEFORE the
    per-dimension sums, making the centroid sums exact integers in
    any summation/partition order; cosine is scale-invariant, so the
    un-divided sum vector stands in for the mean and no
    cross-engine-unsafe division happens at all. Scale shape:
    posexplode -> one (label, dim) keyed aggregation (map-side
    combinable, |labels| x dims rows) -> 10-row centroid table ->
    45-pair self-join: everything after the first reduce is
    dimension-bounded, independent of corpus size."""
    from etl_pyspark_spark.similarity.cosine import cosine

    emb = read_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x") * F.lit(1e3) + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
    )
    sums = exploded.groupBy("label", "pos").agg(
        F.sum("q").cast("bigint").alias("s")
    )
    cent = sums.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda e: e["s"].cast("double"),
        ).alias("cv")
    )
    a = cent.select(
        F.col("label").alias("label_a"), F.col("cv").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("cv").alias("cb")
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            pround(cosine(F.col("ca"), F.col("cb")), 6).alias(
                "centroid_cos"
            ),
        )
    )


def _label_outlier_oracle() -> str:
    from etl_pyspark_spark.similarity.cosine import sql_cosine

    cos = sql_pround(sql_cosine("e.embedding", "c.cv"), 6)
    return (
        "WITH "
        + _label_centroid_sql()
        + f"""
    SELECT e.vec_id, e.label, {cos} AS centroid_cos
    FROM embeddings e JOIN cent c ON c.label = e.label
    ORDER BY centroid_cos ASC, e.vec_id LIMIT 10
    """
    )


@query("embedding_label_outliers", oracle=_label_outlier_oracle())
def q_embedding_label_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Label-noise candidates: the 10 vectors LEAST similar to their
    own label's centroid — the standard first pass of mislabel
    detection / confident-learning pipelines (a vector far from its
    class center is either an outlier or wearing the wrong label).
    Composes the exact integer-sum centroids of
    label_centroid_separation (10-row broadcast) with one cosine per
    vector and a TakeOrderedAndProject bottom-10 — a single corpus
    scan, no window, no shuffle beyond the dimension-bounded
    centroid reduce."""
    from etl_pyspark_spark.similarity.cosine import as_double, cosine

    emb = read_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x") * F.lit(1e3) + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
    )
    cent = (
        exploded.groupBy("label", "pos")
        .agg(F.sum("q").cast("bigint").alias("s"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda e: e["s"].cast("double"),
            ).alias("cv")
        )
    )
    return (
        emb.select(
            "vec_id", "label", as_double(F.col("embedding")).alias("v")
        )
        .join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            pround(cosine(F.col("v"), F.col("cv")), 6).alias(
                "centroid_cos"
            ),
        )
        .orderBy(F.col("centroid_cos").asc(), "vec_id")
        .limit(10)
    )


@query(
    "cow_delete_plan",
    oracle=f"""
    WITH f AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(count(*) FILTER (
               WHERE l_shipdate >= TIMESTAMP '{_SKIP_LO}'
                 AND l_shipdate < TIMESTAMP '{_SKIP_HI}'
                 AND l_discount > 0.05) AS BIGINT) AS n_rows_deleted,
             CAST(count(*) AS BIGINT) AS n_rows_total
      FROM read_parquet(
        '{skipping_lineitem_dir(_ORACLE_SF)}/*.parquet',
        filename = true)
      GROUP BY 1)
    SELECT file_name, n_rows_total, n_rows_deleted,
           CAST(n_rows_total - n_rows_deleted AS BIGINT)
             AS n_rows_rewritten,
           n_rows_deleted > 0 AS needs_rewrite
    FROM f
    """,
)
def q_cow_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE planning — the file-level audit a
    lakehouse engine (Delta/Iceberg CoW) computes before executing
    ``DELETE WHERE``: per physical file, how many rows match the
    predicate, how many survivors a rewrite would carry, and whether
    the file needs rewriting at all (files with zero matches are left
    untouched — on the range-clustered layout the ship-date predicate
    prunes most files to needs_rewrite = false, which is exactly why
    clustering by the delete key matters operationally). Scale
    shape: one scan grouped by input_file_name() with conditional
    counts — map-side combinable, |files| output rows; the actual
    rewrite would then touch ONLY needs_rewrite files. Uses the per-SF
    skipping layout so Spark and the oracle read the same physical
    files (the layout_skipping_report convention). No reference
    counterpart (SURVEY §2.9 lake-maintenance family)."""
    dst = ensure_skipping_lineitem(spark, sf_dir)
    back = read_parquet(spark, dst).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
            "file_name"
        ),
        "l_shipdate",
        "l_discount",
    )
    lo = F.lit(_SKIP_LO).cast("timestamp")
    hi = F.lit(_SKIP_HI).cast("timestamp")
    hit = (
        (F.col("l_shipdate") >= lo)
        & (F.col("l_shipdate") < hi)
        & (F.col("l_discount") > 0.05)
    )
    f = back.groupBy("file_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_total"),
        F.sum(hit.cast("bigint")).cast("bigint").alias("n_rows_deleted"),
    )
    return f.select(
        "file_name",
        "n_rows_total",
        "n_rows_deleted",
        (F.col("n_rows_total") - F.col("n_rows_deleted"))
        .cast("bigint")
        .alias("n_rows_rewritten"),
        (F.col("n_rows_deleted") > 0).alias("needs_rewrite"),
    )


@query(
    "funnel_window_constrained",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click'
            AND e.ts > v.t AND e.ts <= v.t + INTERVAL 1 HOUR
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase'
            AND e.ts > c.t AND e.ts <= c.t + INTERVAL 24 HOUR
          GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT)
             AS n_click_within_1h,
           CAST((SELECT count(*) FROM p) AS BIGINT)
             AS n_purchase_within_24h
    """,
)
def q_funnel_window_constrained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-constrained funnel (the ClickHouse ``windowFunnel``
    semantics a plain sequential funnel can't express): view ->
    FIRST click within 1 HOUR of the first view -> FIRST purchase
    within 24 HOURS of that click. The per-step deadline is the part
    that matters commercially (a purchase three weeks later is not
    funnel conversion), and it changes the algebra: each stage is a
    min() over a bounded half-open interval anchored at the previous
    stage's timestamp, so the chain is two keyed joins with range
    predicates on the SAME user key — one shuffle partitioning
    reused down the whole funnel, no window functions, no
    per-user explode. Counts divide downstream into step conversion
    rates. No reference counterpart (SURVEY §2.9 sequence-analytics
    family)."""
    ev = read_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("vt"))
            & (F.col("ts") <= F.col("vt") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("ct"))
            & (F.col("ts") <= F.col("ct") + F.expr("INTERVAL 24 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    nv = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
    nc = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_click_within_1h")
    )
    np_ = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchase_within_24h")
    )
    return nv.crossJoin(nc).crossJoin(np_)


@query(
    "listagg_order_report",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_totalprice DESC, o_orderkey)
             FILTER (WHERE o_totalprice > 350000) AS top_keys_csv
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY o_orderpriority
    """,
)
def q_listagg_order_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2023 LISTAGG (Spark 4's F.listagg) with deterministic
    WITHIN GROUP ordering and a FILTER clause — the standards-track
    string aggregation surface (DuckDB twin: string_agg ... ORDER
    BY ... FILTER). The (price DESC, orderkey) tiebreak makes the
    concatenated string identical across engines and partitionings;
    the filter keeps the aggregated payload bounded (only
    >350k-priced orders are listed, the count still covers all).
    One keyed aggregation, map-side combinable."""
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        # WITHIN GROUP is SQL-parser-only surface in PySpark 4
        F.expr(
            "listagg(CASE WHEN o_totalprice > 350000"
            " THEN CAST(o_orderkey AS STRING) END, ',')"
            " WITHIN GROUP (ORDER BY o_totalprice DESC, o_orderkey)"
        ).alias("top_keys_csv"),
    )


@query(
    "parquet_footer_stats",
    oracle=f"""
    SELECT regexp_extract(file_name, '([^/]+)$', 1) AS file_name,
           CAST(row_group_id AS BIGINT) AS row_group_id,
           CAST(row_group_num_rows AS BIGINT) AS n_rows,
           CAST(stats_min_value AS BIGINT) AS min_orderkey,
           CAST(stats_max_value AS BIGINT) AS max_orderkey,
           CAST(stats_null_count AS BIGINT) AS n_nulls
    FROM parquet_metadata(
      '{skipping_lineitem_dir(_ORACLE_SF)}/*.parquet')
    WHERE path_in_schema = 'l_orderkey'
    """,
)
def q_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-only statistics inventory: per (file, row group), the
    row count and the l_orderkey min/max/null-count read from parquet
    FOOTER metadata — zero data pages touched. This is the
    manifest-building / skipping-index primitive every lakehouse
    table format maintains (Delta's add-file stats, Iceberg
    manifests), and the reason a 100 TB table can answer pruning
    questions in seconds: the job's input is |files| footers, not
    bytes of data. Distribution shape: the file list parallelizes
    across tasks; each task opens only its files' footers via
    pyarrow inside an Arrow-batched ``mapInPandas`` (the one honest
    use of Python here — Spark has no footer-stats SQL surface;
    DuckDB does, which is exactly the oracle: ``parquet_metadata``).
    Uses the per-SF skipping layout so both engines read the same
    physical files."""
    import os as _os

    dst = ensure_skipping_lineitem(spark, sf_dir)
    paths = sorted(
        _os.path.join(dst, f)
        for f in _os.listdir(dst)
        if f.endswith(".parquet")
    )
    pdf = literal_frame(
        spark, [(p,) for p in paths], "path string"
    ).repartition(8, "path")

    def footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for chunk in batches:
            rows = []
            for p in chunk["path"]:
                md = pq.ParquetFile(p).metadata
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    col = next(
                        rg.column(i)
                        for i in range(rg.num_columns)
                        if rg.column(i).path_in_schema == "l_orderkey"
                    )
                    st = col.statistics
                    rows.append(
                        (
                            p.rsplit("/", 1)[-1],
                            g,
                            rg.num_rows,
                            st.min,
                            st.max,
                            st.null_count,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file_name",
                    "row_group_id",
                    "n_rows",
                    "min_orderkey",
                    "max_orderkey",
                    "n_nulls",
                ],
            )

    return pdf.mapInPandas(
        footers,
        "file_name string, row_group_id long, n_rows long,"
        " min_orderkey long, max_orderkey long, n_nulls long",
    )


@query(
    "referential_integrity_audit",
    oracle="""
    WITH ls AS (
      SELECT l_orderkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(8,4)))
                 * (1 + CAST(l_tax AS DECIMAL(8,4)))) AS line_total
      FROM lineitem GROUP BY 1),
    childless AS (
      SELECT count(*) AS n FROM orders o
      WHERE o.o_orderkey NOT IN (SELECT l_orderkey FROM ls)),
    orphans AS (
      SELECT count(*) AS n FROM lineitem l
      WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
    drift AS (
      SELECT count(*) AS n FROM orders o JOIN ls
        ON ls.l_orderkey = o.o_orderkey
      WHERE abs(CAST(o.o_totalprice AS DECIMAL(18,2)) - line_total)
            > 0.01)
    SELECT 'orders_without_lineitems' AS check_name,
           CAST(childless.n AS BIGINT) AS n_violations,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_checked
    FROM childless
    UNION ALL
    SELECT 'lineitems_without_order', CAST(orphans.n AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    FROM orphans
    UNION ALL
    SELECT 'totalprice_vs_line_sum_drift', CAST(drift.n AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    FROM drift
    """,
)
def q_referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table referential-integrity audit — the reconciliation
    pass dq_expectations (single-table rules) cannot express: orders
    with no line items, line items pointing at no order, and orders
    whose header total drifts from the recomputed line-level sum by
    more than a cent. Exactness: the line total is a chain of exact
    DECIMAL multiplications (price(18,2) x (1-disc)(8,4) x
    (1+tax)(8,4) fits scale 10 exactly in both engines) summed per
    order, so the drift comparison is exact arithmetic, not float
    tolerance. Scale shape: one keyed line-level aggregation
    (map-side combinable), two anti-join counts and one equi-join
    filter count — all on the orderkey partitioning, no windows. On
    the fixture the drift check FIRES (the generator doesn't maintain
    the TPC-H header identity), which is the point: audits earn
    their keep on dirty data."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    ls = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(8,4)"))
            * (F.lit(1) + F.col("l_tax").cast("decimal(8,4)"))
        ).alias("line_total")
    )
    n_orders = o.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    n_lines = li.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    childless = (
        o.join(ls, o["o_orderkey"] == ls["l_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    orphans = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    drift = (
        o.join(ls, o["o_orderkey"] == ls["l_orderkey"])
        .where(
            F.abs(
                F.col("o_totalprice").cast("decimal(18,2)")
                - F.col("line_total")
            )
            > 0.01
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )

    def row(name, viol, checked):
        return viol.crossJoin(checked).select(
            F.lit(name).alias("check_name"),
            F.col("v").alias("n_violations"),
            F.col("n").alias("n_checked"),
        )

    return (
        row("orders_without_lineitems", childless, n_orders)
        .unionByName(row("lineitems_without_order", orphans, n_lines))
        .unionByName(
            row("totalprice_vs_line_sum_drift", drift, n_orders)
        )
    )


@query(
    "graph_temporal_edge_novelty",
    oracle="""
    WITH lp AS (SELECT DISTINCT l.l_orderkey, l.l_partkey,
                       date_trunc('quarter', o.o_orderdate) AS q
                FROM lineitem l JOIN orders o
                  ON o.o_orderkey = l.l_orderkey
                WHERE l.l_orderkey % 10 = 0),
    e AS (SELECT a.l_partkey AS u, b.l_partkey AS v, a.q
          FROM lp a JOIN lp b
            ON a.l_orderkey = b.l_orderkey
           AND a.q = b.q
           AND a.l_partkey < b.l_partkey),
    first_seen AS (SELECT u, v, min(q) AS first_q
                   FROM e GROUP BY 1, 2),
    per_q AS (SELECT q, count(*) AS n_active
              FROM (SELECT DISTINCT u, v, q FROM e) GROUP BY 1),
    new_q AS (SELECT first_q AS q, count(*) AS n_new
              FROM first_seen GROUP BY 1)
    SELECT CAST(p.q AS DATE) AS quarter,
           CAST(p.n_active AS BIGINT) AS n_active_edges,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new_edges,
           CAST(COALESCE(n.n_new, 0) AS DOUBLE)
             / CAST(p.n_active AS DOUBLE) AS novelty_rate
    FROM per_q p LEFT JOIN new_q n ON n.q = p.q
    """,
)
def q_graph_temporal_edge_novelty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temporal graph dynamics: per quarter, how many co-purchase
    edges are ACTIVE and what fraction are NEW (first ever seen that
    quarter) — the edge-novelty decay curve that tells a recommender
    team whether the item graph has stabilized (retrain less) or is
    still churning (retrain more). Distinct from the static graph
    family: the time dimension rides the SAME sharded basket
    expansion (order date joins in before the pair self-join, so
    edges carry their quarter for free), then two keyed aggregates
    (first-seen min, per-quarter distinct actives) on the edge key.
    Scale shape: the pair explosion is bounded by the shared basket
    discipline; everything after is |edges|-scale keyed aggregation,
    output bounded by the calendar."""
    from etl_pyspark_spark.operators.baskets import capped_baskets

    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 10 == 0
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_trunc("quarter", "o_orderdate").alias("q")
    )
    # MAX_BASKET hash-rank cap INSIDE the basket aggregate, before the
    # in-row pair explode (the shared mega-basket guard, in the
    # cheaper collect_set shape — see capped_basket_pairs); the
    # quarter is constant per order, so it joins at BASKET granularity
    # (one row per order) instead of per membership
    baskets = (
        capped_baskets(li, "l_orderkey", "l_partkey", out="ps")
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .select("q", "ps")
    )
    e = (
        baskets.select("q", F.explode("ps").alias("u"), "ps")
        .select("q", "u", F.explode("ps").alias("v"))
        .where(F.col("u") < F.col("v"))
        .select("u", "v", "q")
    )
    first_seen = e.groupBy("u", "v").agg(F.min("q").alias("first_q"))
    per_q = (
        e.distinct()
        .groupBy("q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active_edges"))
    )
    new_q = first_seen.groupBy(F.col("first_q").alias("q")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    return (
        per_q.join(new_q, "q", "left")
        .select(
            F.col("q").cast("date").alias("quarter"),
            "n_active_edges",
            F.coalesce("n_new", F.lit(0))
            .cast("bigint")
            .alias("n_new_edges"),
            (
                F.coalesce("n_new", F.lit(0)).cast("double")
                / F.col("n_active_edges").cast("double")
            ).alias("novelty_rate"),
        )
    )


@query(
    "data_retention_expiry_audit",
    oracle="""
    WITH h AS (SELECT max(ts) AS horizon FROM events),
    ev AS (SELECT CAST(count(*) FILTER (
                    WHERE ts < horizon - INTERVAL 180 DAY) AS BIGINT)
                    AS n_expired,
                  CAST(count(*) AS BIGINT) AS n_total
           FROM events, h),
    oh AS (SELECT max(o_orderdate) AS horizon FROM orders),
    od AS (SELECT CAST(count(*) FILTER (
                    WHERE o_orderdate < horizon - INTERVAL 730 DAY)
                    AS BIGINT) AS n_expired,
                  CAST(count(*) AS BIGINT) AS n_total
           FROM orders, oh)
    SELECT 'events_180d' AS policy, n_expired, n_total,
           CAST(n_expired AS DOUBLE) / CAST(n_total AS DOUBLE)
             AS expired_frac
    FROM ev
    UNION ALL
    SELECT 'orders_730d', n_expired, n_total,
           CAST(n_expired AS DOUBLE) / CAST(n_total AS DOUBLE)
    FROM od
    """,
)
def q_data_retention_expiry_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retention-policy expiry audit — the scheduled twin of
    gdpr_erasure_cascade (that one erases named subjects on request;
    this one finds everything past its table-level retention clock):
    per policy, rows older than the horizon (events > 180 days,
    orders > 730 days, anchored at each table's own max event time so
    the fixture replays deterministically). At 100 TB the same
    predicate drives partition-level drops on a date-partitioned
    layout — which is why retention policies and partition keys
    should agree. One conditional aggregate per table (map-side
    combinable), a broadcast 1-row horizon join, no shuffles beyond
    the aggregates."""
    ev = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders")

    def audit(df, ts_col, days, name):
        h = df.agg(F.max(ts_col).alias("horizon"))
        return (
            df.crossJoin(F.broadcast(h))
            .agg(
                F.sum(
                    (
                        F.col(ts_col)
                        < F.col("horizon")
                        - F.expr(f"INTERVAL {days} DAY")
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("n_expired"),
                F.count(F.lit(1)).cast("bigint").alias("n_total"),
            )
            .select(
                F.lit(name).alias("policy"),
                "n_expired",
                "n_total",
                (
                    F.col("n_expired").cast("double")
                    / F.col("n_total").cast("double")
                ).alias("expired_frac"),
            )
        )

    return audit(ev, "ts", 180, "events_180d").unionByName(
        audit(o, "o_orderdate", 730, "orders_730d")
    )


@query(
    "ohlc_daily_bars",
    oracle="""
    WITH e AS (SELECT CAST(ts AS DATE) AS day, ts, event_id, value
               FROM events WHERE value IS NOT NULL),
    o AS (SELECT day, value AS open_v FROM
          (SELECT *, row_number() OVER (PARTITION BY day
             ORDER BY ts, event_id) AS rn FROM e) WHERE rn = 1),
    c AS (SELECT day, value AS close_v FROM
          (SELECT *, row_number() OVER (PARTITION BY day
             ORDER BY ts DESC, event_id DESC) AS rn FROM e)
          WHERE rn = 1),
    hl AS (SELECT day, max(value) AS high_v, min(value) AS low_v,
                  CAST(count(*) AS BIGINT) AS n_ticks
           FROM e GROUP BY day)
    SELECT hl.day, o.open_v, hl.high_v, hl.low_v, c.close_v, hl.n_ticks
    FROM hl JOIN o USING (day) JOIN c USING (day)
    """,
)
def q_ohlc_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars over the event value stream — the market-data /
    metrics-downsampling primitive (open/close are the
    deterministically FIRST/LAST readings by (ts, event_id), high/low
    plain extrema). Scale shape: ONE keyed aggregation does all six
    outputs — open and close ride min/max over (ts, event_id, value)
    STRUCTS inside the same partial-aggregable pass (struct ordering
    is lexicographic, so the min struct IS the first reading), no
    windows, no second shuffle; the oracle spells the same picks as
    rank-1 windows. Output is calendar-bounded."""
    e = read_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    day = F.to_date("ts").alias("day")
    return (
        e.select(
            day,
            F.struct("ts", "event_id", "value").alias("s"),
            "value",
        )
        .groupBy("day")
        .agg(
            F.min("s")["value"].alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max("s")["value"].alias("close_v"),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        )
    )


@query(
    "attribution_linear_touch",
    oracle="""
    WITH conv AS (SELECT event_id AS conv_id, user_id, ts AS cts
                  FROM events WHERE event_type = 'purchase'),
    touch AS (SELECT user_id, event_type, ts AS tts FROM events
              WHERE event_type IN ('view', 'click')),
    pairs AS (SELECT c.conv_id, t.event_type
              FROM conv c JOIN touch t
                ON t.user_id = c.user_id
               AND t.tts < c.cts
               AND t.tts >= c.cts - INTERVAL 7 DAY),
    sized AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS k
              FROM pairs GROUP BY 1),
    credited AS (
      SELECT p.event_type,
             CAST(floor(1.0 / s.k * 1000000000.0 + 0.5)
                  / 1000000000.0 AS DECIMAL(20,9)) AS credit
      FROM pairs p JOIN sized s ON s.conv_id = p.conv_id)
    SELECT event_type AS channel,
           CAST(sum(credit) AS DECIMAL(20,9)) AS total_credit,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM credited GROUP BY 1
    """,
)
def q_attribution_linear_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits one unit
    of credit EQUALLY across the user's view/click touches in the 7
    preceding days — the allocation last-touch attribution throws
    away (attribution_last_touch crowns one touch; this pays the
    whole path, the other industry-standard model). Exactness: the
    per-touch share 1/k is pround(9)-rounded — the double is within
    5e-18 of n/1e9, so the DECIMAL(20,9) cast lands on the identical
    exact decimal in both engines — and credits then sum as exact
    decimals in any order. Scale shape: one user-keyed range join
    (touch windows are bounded by the 7-day horizon), a per-
    conversion count, and a keyed credit sum — all on the same user/
    conversion partitioning; no windows, no explode."""
    ev = read_table(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    touch = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("tu"),
        "event_type",
        F.col("ts").alias("tts"),
    )
    pairs = conv.join(
        touch,
        (F.col("tu") == F.col("cu"))
        & (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAY")),
    ).select("conv_id", "event_type")
    sized = pairs.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    credited = pairs.join(sized, "conv_id").select(
        "event_type",
        pround(F.lit(1.0) / F.col("k"), 9)
        .cast("decimal(20,9)")
        .alias("credit"),
    )
    return credited.groupBy(
        F.col("event_type").alias("channel")
    ).agg(
        F.sum("credit").cast("decimal(20,9)").alias("total_credit"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
    )
