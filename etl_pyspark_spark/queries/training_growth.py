"""Query family: training_growth (mechanically split from registry.py — see core)."""

from __future__ import annotations

from etl_pyspark_spark.checkpoint import DISK_CKPT

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    SparkSession,
    pround,
    query,
    read_table,
    sql_pround,
)
from etl_pyspark_spark.queries.text_analysis import (
    _STOP_HITS_SQL,
    _WS_TOKENS_SQL,
    _ngram_sql,
    _sql_str_list,
)
from etl_pyspark_spark.queries._shared import _copurchase_edges
from etl_pyspark_spark.sources.layouts import _SCRATCH, ensure_orders_mixed_spec

# ---------------------------------------------------------------------------
# Round 3: training-data growth surface — exact substring-duplication
# spans, BM25 search, per-source quota caps, incremental aggregate
# state merge, integer-exact anomaly detection, rare-token scoring.
# ---------------------------------------------------------------------------


@query(
    "substring_dup_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_WS_TOKENS_SQL.format(col='text')} AS toks
               FROM documents),
    g AS (SELECT doc_id, unnest({_ngram_sql('toks', 8)}) AS gram FROM t),
    c AS (SELECT gram, count(*) AS n_occ FROM g GROUP BY gram),
    d AS (SELECT g.doc_id,
                 count(*) AS n_grams,
                 count(*) FILTER (c.n_occ >= 2) AS n_dup_grams
          FROM g JOIN c USING (gram) GROUP BY g.doc_id)
    SELECT documents.doc_id,
           COALESCE(n_grams, 0) AS n_grams,
           COALESCE(n_dup_grams, 0) AS n_dup_grams,
           {sql_pround(
               'CAST(COALESCE(n_dup_grams, 0) AS DOUBLE)'
               ' / GREATEST(COALESCE(n_grams, 0), 1)'
           )} AS dup_ratio
    FROM documents LEFT JOIN d ON documents.doc_id = d.doc_id
    """,
)
def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): the fraction of each
    document's token 8-grams that occur at least twice anywhere in the
    corpus — the span-level dup measure that doc-level fingerprints
    miss (boilerplate, quoted passages, templated spans).

    Suffix arrays don't distribute; rolling k-gram occurrence counts
    do, and are the standard scale-out approximation. Shape at 100 TB:
    grams are 60-bit-hashed BEFORE the shuffle (an 8-word string would
    ~40x the exchange payload), occurrence counts collapse map-side
    (partial agg), the gram->count join is key-partitioned on the same
    hash, and the per-doc rollup is one more keyed shuffle. No windows,
    no driver state; the oracle groups the raw gram strings — parity
    holds unless md5 collides within the corpus (2^-60 per pair)."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    docs = read_table(spark, sf_dir, "documents")
    toked = spread(docs).select(
        "doc_id", T.ws_tokens(F.col("text")).alias("toks")
    )
    g = toked.select(
        "doc_id",
        F.explode(T.ngrams_from_tokens(F.col("toks"), 8)).alias("gram"),
    ).select("doc_id", T.portable_hash60(F.col("gram")).alias("gh"))
    c = g.groupBy("gh").agg(F.count(F.lit(1)).alias("n_occ"))
    d = (
        g.join(c, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("n_occ") >= 2, 1)).alias("n_dup_grams"),
        )
    )
    zero = F.lit(0).cast("bigint")
    n_grams = F.coalesce(F.col("n_grams"), zero)
    n_dup = F.coalesce(F.col("n_dup_grams"), zero)
    return (
        docs.select("doc_id")
        .join(d, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_dup.alias("n_dup_grams"),
            pround(
                n_dup.cast("double") / F.greatest(n_grams, F.lit(1)), 6
            ).alias("dup_ratio"),
        )
    )


@query(
    "bm25_rank_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_WS_TOKENS_SQL.format(col='text')} AS toks
               FROM documents),
    n AS (SELECT count(*) AS n_docs,
                 CAST(sum(CAST(len(toks) AS DOUBLE)) AS DOUBLE)
                   / count(*) AS avgdl
          FROM t),
    tok AS (SELECT doc_id, len(toks) AS dl, u.term
            FROM t, UNNEST(toks) AS u(term)
            WHERE u.term IN ('spark', 'join', 'window')),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf
           FROM tok GROUP BY 1, 2, 3),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             {sql_pround(
                 '((n.n_docs - df.df + 0.5) / (df.df + 0.5))'
                 ' * (CAST(tf.tf AS DOUBLE) * 2.2)'
                 ' / (CAST(tf.tf AS DOUBLE)'
                 '    + 1.2 * (0.25 + (0.75 * CAST(tf.dl AS DOUBLE))'
                 '                    / n.avgdl))'
             )} AS tscore
      FROM tf JOIN df USING (term), n)
    SELECT doc_id,
           CAST(sum(CAST(tscore AS DECIMAL(18,6))) AS DOUBLE) AS score
    FROM scored
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
def q_bm25_rank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search: BM25 top-20 documents for the fixed query
    {spark, join, window} (k1=1.2, b=0.75), with the rational-IDF core
    ``(N - df + 0.5) / (df + 0.5)`` (the BM25 idf without the log —
    pure IEEE division, bit-identical cross-engine; same trick as
    tfidf_top_terms).

    Shape at scale: the query-term filter lands INSIDE the token
    explode's output before any shuffle, so the tf table carries only
    matching (doc, term) rows — for a 3-term query that's a vanishing
    fraction of the corpus. df and the corpus stats are tiny
    broadcasts; per-term scores round then sum as DECIMAL so the
    3-term addition is order-exact; the final top-20 is
    TakeOrderedAndProject, never a full sort."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    terms = ["spark", "join", "window"]
    docs = spread(read_table(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id", T.ws_tokens(F.col("text")).alias("toks")
    )
    n = toked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size("toks").cast("double")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tok = toked.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode(
            F.filter(
                F.col("toks"),
                lambda x: x.isin(*terms),
            )
        ).alias("term"),
    )
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tfd = F.col("tf").cast("double")
    tscore = pround(
        ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (tfd * 2.2)
        / (
            tfd
            + 1.2
            * (0.25 + (0.75 * F.col("dl").cast("double")) / F.col("avgdl"))
        ),
        6,
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", tscore.alias("tscore"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tscore").cast("decimal(18,6)"))
            .cast("double")
            .alias("score")
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "source_quota_cap",
    oracle="""
    SELECT doc_id, source, rk
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)),
                                        1, 15))::BIGINT,
                        doc_id) AS rk
      FROM documents)
    WHERE rk <= 15
    """,
)
def q_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (corpus balancing): keep at most 15
    documents per source, chosen by deterministic hash order — the
    "no single domain dominates the training mix" rule (C4/Gopher
    keep per-domain caps for exactly this reason). Hash-order
    selection is an order-free uniform sample: no RNG state, stable
    under re-runs and insertion order.

    Shape at scale: rank-limit (rk <= 15) collapses to
    WindowGroupLimit, so each partition keeps only its local top-15
    per source before the exchange — the shuffle carries O(sources x
    15), not the corpus. Skewed mega-domains cost one partition's
    top-15 scan, not a global sort."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.functions import text as T

    docs = read_table(spark, sf_dir, "documents")
    h = T.portable_hash60(
        F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 15)
    )


@query(
    "agg_incremental_state_merge",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def q_agg_incremental_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate refresh: last night's per-month partial
    state (count + exact DECIMAL sum over ~80% of orders) merged with
    today's delta partials (the other ~20%) by RE-AGGREGATING the
    union — never rescanning history. The oracle aggregates the whole
    table directly, proving state-merge == full recompute.

    This is THE 100 TB pattern for daily rollups: partials are
    algebraic (count/sum merge by addition), so yesterday's state
    table (|months| rows) plus a delta scan replaces a full-history
    scan. DECIMAL keeps the merged sums exact regardless of merge
    order; the split predicate stands in for the ingest-date
    partition pruning a production lake would use."""
    orders = read_table(spark, sf_dir, "orders")
    month = F.to_date(F.date_trunc("month", "o_orderdate")).alias(
        "month_start"
    )
    partial = lambda df: df.groupBy(month).agg(  # noqa: E731
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("psum"),
    )
    state = partial(orders.where(F.col("o_orderkey") % 10 < 8))
    delta = partial(orders.where(F.col("o_orderkey") % 10 >= 8))
    return (
        state.unionByName(delta)
        .groupBy("month_start")
        .agg(
            F.sum("pn").alias("n_orders"),
            F.sum("psum").cast("double").alias("total_price"),
        )
    )


@query(
    "anomaly_daily_counts",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n_events
      FROM events GROUP BY 1),
    w AS (
      SELECT day, n_events,
             count(*) OVER tw AS n_prior,
             CAST(sum(n_events) OVER tw AS BIGINT) AS s_prior,
             CAST(sum(n_events * n_events) OVER tw AS BIGINT) AS q_prior
      FROM d
      WINDOW tw AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT day, n_events,
           (n_prior = 7 AND
            (7 * n_events - s_prior) * (7 * n_events - s_prior)
              > 4 * (7 * q_prior - s_prior * s_prior))
             AS is_anomaly
    FROM w
    """,
)
def q_anomaly_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection on the event firehose: flag days whose
    count deviates from the trailing 7-day mean by more than 2
    trailing standard deviations — entirely in BIGINT algebra.
    ``|x - S/7| > 2*sqrt(Q/7 - (S/7)^2)`` cross-multiplies (by 49) to
    ``(7x - S)^2 > 4 * (7Q - S^2)``; no division, no sqrt, no
    floating point, so both engines compare identical integers (float
    z-scores differ in last-ulp across engines).

    Shape at scale: the raw stream reduces to one row per day FIRST
    (partial count map-side), then the window runs over the |days|
    table — the sliding frame never touches event rows. The squared
    BIGINT terms hold exactly up to ~1e9 events/day (S^2 < 2^63);
    beyond that, cast the sums to DECIMAL(38,0) on both engines —
    same algebra, wider lanes."""
    day = F.to_date(F.date_trunc("day", "ts")).alias("day")
    d = (
        read_table(spark, sf_dir, "events")
        .groupBy(day)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    from pyspark.sql.window import Window

    tw = Window.orderBy("day").rowsBetween(-7, -1)
    x = F.col("n_events")
    s = F.sum("n_events").over(tw).cast("bigint")
    q = F.sum(x * x).over(tw).cast("bigint")
    npr = F.count(F.lit(1)).over(tw)
    dev = 7 * x - s
    flag = (npr == 7) & (dev * dev > 4 * (7 * q - s * s))
    return d.select("day", "n_events", flag.alias("is_anomaly"))


@query(
    "rare_token_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_WS_TOKENS_SQL.format(col='text')} AS toks
               FROM documents),
    tok AS (SELECT doc_id, u.term FROM t, UNNEST(toks) AS u(term)),
    freq AS (SELECT term, count(*) AS n_occ FROM tok GROUP BY term),
    corpus AS (SELECT CAST(sum(n_occ) AS BIGINT) AS total,
                      count(*) AS n_vocab
               FROM freq),
    d AS (
      SELECT tok.doc_id,
             count(*) AS n_toks,
             count(*) FILTER (4 * freq.n_occ * corpus.n_vocab < corpus.total)
               AS n_rare
      FROM tok JOIN freq USING (term), corpus
      GROUP BY tok.doc_id)
    SELECT documents.doc_id,
           COALESCE(n_toks, 0) AS n_toks,
           COALESCE(n_rare, 0) AS n_rare,
           {sql_pround(
               'CAST(COALESCE(n_rare, 0) AS DOUBLE)'
               ' / GREATEST(COALESCE(n_toks, 0), 1)'
           )} AS rare_ratio
    FROM documents LEFT JOIN d ON documents.doc_id = d.doc_id
    """,
)
def q_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token density — the cheap unigram-LM surprisal proxy:
    fraction of a document's tokens whose corpus frequency is below a
    quarter of the uniform share (``4 * n_occ * |vocab| < total``,
    pure integer cross-multiplication; a log-prob score would hit
    cross-engine libm last-ulp differences). High ratios mark docs
    full of out-of-distribution tokens (OCR noise, codes, off-corpus
    jargon) — a standard pre-training quality gate.

    Shape at scale: the token frequency table is vocabulary-sized
    (tiny vs the corpus) and broadcast back onto the exploded tokens;
    corpus totals are a one-row broadcast. One explode, one map-side-
    collapsed count shuffle, one per-doc rollup."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    docs = read_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        "doc_id",
        F.explode(T.ws_tokens(F.col("text"))).alias("term"),
    )
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n_occ"))
    corpus = freq.agg(
        F.sum("n_occ").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("n_vocab"),
    )
    d = (
        tok.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.count(
                F.when(
                    4 * F.col("n_occ") * F.col("n_vocab") < F.col("total"), 1
                )
            ).alias("n_rare"),
        )
    )
    zero = F.lit(0).cast("bigint")
    n_toks = F.coalesce(F.col("n_toks"), zero)
    n_rare = F.coalesce(F.col("n_rare"), zero)
    return (
        docs.select("doc_id")
        .join(d, "doc_id", "left")
        .select(
            "doc_id",
            n_toks.alias("n_toks"),
            n_rare.alias("n_rare"),
            pround(
                n_rare.cast("double") / F.greatest(n_toks, F.lit(1)), 6
            ).alias("rare_ratio"),
        )
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day_start_s,
           n.n_name,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN nation n ON CAST(e.user_id % 25 AS INT) = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming enrichment against a static dimension (stream-static
    broadcast join; AvailableNow replay == the batch join the oracle
    computes). See streaming/windows.static_enrich_counts for the
    zero-shuffle join shape."""
    from etl_pyspark_spark.streaming.windows import static_enrich_counts

    return static_enrich_counts(spark, sf_dir)


def _incremental_minhash_oracle() -> str:
    from etl_pyspark_spark.dedup.minhash import (
        sql_minhash_cross_pairs,
        sql_shingles_cte,
    )

    return (
        f"WITH {sql_shingles_cte()}, "
        + sql_minhash_cross_pairs("doc_id % 5 = 4", "doc_id % 5 < 4")
    )


@query("dedup_incremental_minhash", oracle=_incremental_minhash_oracle())
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fuzzy dedup: today's ingest batch (docs with
    ``doc_id % 5 == 4``, ~20%) LSH-banded against the HISTORICAL band
    index (the other 80%), then exact-Jaccard verified — the
    production shape where each new batch probes an accumulating
    index instead of re-deduping the whole corpus
    (dedup_incremental_ingest is the exact-fingerprint twin; this is
    the near-dup one).

    Scale: candidate generation joins |new| band rows against the
    historical index — cost tracks the BATCH, not the corpus; the
    historical band table is exactly what a production pipeline keeps
    materialized between runs. Signature/shingle stages come from the
    session-shared dedup cache (dedup/shared.py), mirroring that
    persisted index. Verification intersects the two docs' sorted
    hash sets JVM-side (array_intersect, hash-set probe, codegen) —
    only candidate pairs are touched."""
    from etl_pyspark_spark.dedup import shared
    from etl_pyspark_spark.dedup.minhash import (
        band_entries,
        minhash_signatures_hashed,
    )

    sh = shared.shingle_hashes(spark, sf_dir)
    sets = shared.doc_hash_sets(spark, sf_dir).select("doc_id", "hs", "n_sh")
    sig = minhash_signatures_hashed(sh)
    entries = band_entries(sig)
    new_e = entries.where(F.col("doc_id") % 5 == 4)
    old_e = entries.where(F.col("doc_id") % 5 < 4)
    cand = (
        new_e.select(F.col("doc_id").alias("id_a"), "band", "band_key")
        .join(
            old_e.select(F.col("doc_id").alias("id_b"), "band", "band_key"),
            ["band", "band_key"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = sets.select(
        F.col("doc_id").alias("id_a"),
        F.col("hs").alias("hs_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("id_b"),
        F.col("hs").alias("hs_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    jac = inter.cast("double") / (
        F.col("n_a") + F.col("n_b") - inter
    ).cast("double")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .where(jac >= 0.5)
        .select(
            F.col("id_a").alias("new_doc_id"),
            F.col("id_b").alias("dup_of"),
            pround(jac, 6).alias("jaccard"),
        )
    )


@query(
    "graph_shared_build",
    oracle="""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_orderkey % 10 = 0),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    n AS (SELECT count(*) AS n_nodes FROM (
            SELECT u AS x FROM e0 UNION SELECT v FROM e0))
    SELECT CAST(count(*) AS BIGINT) AS n_edges,
           CAST(min(n.n_nodes) AS BIGINT) AS n_nodes
    FROM e0, n
    """,
)
def q_graph_shared_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit one-time build of the graph family's shared
    co-purchase edge table (memoized per session+fixture in
    _copurchase_edges) — registered AHEAD of the six consumers so a
    full bench session attributes the build cost here and the family
    queries measure their marginal logic, exactly the accounting
    dedup_shared_build gives the dedup family. Returns the edge/node
    census a graph-pipeline build step would log."""
    edges = _copurchase_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("u").alias("x"))
        .union(edges.select(F.col("v").alias("x")))
        .distinct()
    )
    return edges.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    ).crossJoin(
        F.broadcast(
            nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        )
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_orderkey % 10 = 0),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
      SELECT x AS node, count(*) AS d
      FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY x),
    o AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v)
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM o e1
    JOIN o e2 ON e2.s = e1.t
    JOIN o e3 ON e3.s = e1.s AND e3.t = e2.t
    """,
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts sharing
    an order are adjacent) — the clustering-coefficient/cohesion
    primitive for graph analytics over relational data. Built over one
    hash-shard of the order stream (``l_orderkey % 10 = 0``): the
    co-purchase graph densifies quadratically with orders-per-part, so
    the full fixture graph at sf0.1 is ~1.2M edges / avg degree 120 —
    wedge volume ~70M, all spent re-deriving a number the shard
    already demonstrates. Production would shard exactly like this
    (per-day graphs) or threshold edges by co-occurrence count.

    The scalable algorithm, not the naive one: every edge is oriented
    from its lower-(degree, id) endpoint to the higher one, so each
    triangle is counted exactly once AND the wedge join's fan-out per
    node is bounded by O(sqrt(E)) instead of the max raw degree —
    degree orientation is what keeps hub nodes (every graph has them)
    from exploding the intermediate wedge table at scale. Shape:
    edges once (distinct self-join within order), degree table (tiny)
    joined back, wedges = oriented x oriented on the middle node,
    closed by a semi-join-shaped equi-join with the oriented edge
    set. All keyed shuffles, no windows, no iteration."""
    # edges feeds the degree table, both orientation joins and the
    # final count; o feeds three wedge-join sides. Both are eagerly
    # checkpointed: a lazy .cache() leaves the first action's parallel
    # subtrees racing to fill it (each recomputes the derivation —
    # measured 3x the query cost, and nondeterministically so); the
    # eager materialization is the checkpointed edge/orientation
    # table every graph pipeline writes before iterating anyway.
    # Shared with graph_k_core / graph_local_clustering, including the
    # mega-basket cap (operators/baskets).
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(storageLevel=DISK_CKPT)
    )
    e1 = o.select(F.col("s").alias("s1"), F.col("t").alias("t1"))
    e2 = o.select(F.col("s").alias("s2"), F.col("t").alias("t2"))
    e3 = o.select(F.col("s").alias("s3"), F.col("t").alias("t3"))
    tri = (
        e1.join(e2, F.col("s2") == F.col("t1"))
        .join(
            e3,
            (F.col("s3") == F.col("s1")) & (F.col("t3") == F.col("t2")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return n_edges.crossJoin(tri)


@query(
    "importance_weighted_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len({_WS_TOKENS_SQL.format(col='text')}) AS DOUBLE) AS n_words,
             CAST({_STOP_HITS_SQL.format(col='text',
                    stops=_sql_str_list(['the','and','of','to','a','in','is','that']))}
                  AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                  AS DOUBLE) AS n_punct
      FROM documents),
    q AS (
      SELECT doc_id,
             floor((0.3 * least(n_chars / 400.0, 1.0)
                  + 0.3 * least(n_words / 60.0, 1.0)
                  + 0.3 * least((CASE WHEN n_words > 0 THEN n_stop / n_words
                                      ELSE 0.0 END) * 8.0, 1.0)
                  + 0.1 * (1.0 - CASE WHEN n_chars > 0 THEN n_punct / n_chars
                                      ELSE 0.0 END)) * 1000000.0 + 0.5)
               / 1000000.0 AS quality
      FROM t)
    SELECT doc_id, quality
    FROM q
    WHERE ('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          < CAST(floor(quality * 1152921504606846976.0) AS BIGINT)
    """,
)
def q_importance_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling: keep each document with
    probability equal to its quality score, using hash thresholding
    instead of an RNG — ``hash60(doc) < floor(quality * 2^60)`` keeps
    a p-fraction of a uniform 60-bit hash space, so the sample is
    exactly reproducible, order-independent, and re-runnable (the
    training-mix upsampling/downsampling primitive; RNG-based
    sampling can't give a stable doc set across retries or
    repartitions). 2^60 is a power of two, so the threshold multiply
    is the same IEEE operation on both engines.

    Scale: embarrassingly parallel — one narrow scan, no shuffle, no
    state; the filter rides the parquet scan like any predicate."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    docs = spread(read_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id",
        "text",
        T.ws_tokens(F.col("text")).alias("__toks"),
        T.ws_tokens(F.lower(F.col("text"))).alias("__ltoks"),
    )
    q = staged.select(
        "doc_id",
        pround(
            T.quality_score(
                F.col("text"), toks=F.col("__toks"), ltoks=F.col("__ltoks")
            ),
            6,
        ).alias("quality"),
    )
    h = T.portable_hash60(
        F.concat(F.lit("samp:"), F.col("doc_id").cast("string"))
    )
    thresh = F.floor(F.col("quality") * F.lit(float(1 << 60))).cast("bigint")
    return q.where(h < thresh)


@query("hll_intersection_estimate")
def q_hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch algebra: estimated distinct-user overlap between the
    'click' and 'purchase' event populations by inclusion-exclusion
    over HLL sketches — ``|A ∩ B| ≈ est(A) + est(B) - est(A ∪ B)``
    (HLLs union losslessly but can't intersect directly; I-E is the
    standard estimator). rows-only by design: DuckDB has no
    Datasketches-compatible HLL, and the whole point of a sketch is
    an approximation no exact SQL reproduces.

    Scale: one pass builds both sketches as conditional aggregates
    (no second scan, no distinct shuffle — each sketch is a few KB
    merged associatively map-side), and the union happens on the
    merged sketches, not the data."""
    ev = read_table(spark, sf_dir, "events")
    sketches = ev.agg(
        F.expr(
            "hll_sketch_agg(CASE WHEN event_type = 'click'"
            " THEN user_id END)"
        ).alias("sk_click"),
        F.expr(
            "hll_sketch_agg(CASE WHEN event_type = 'purchase'"
            " THEN user_id END)"
        ).alias("sk_purchase"),
    )
    return sketches.select(
        F.expr("hll_sketch_estimate(sk_click)")
        .cast("bigint")
        .alias("est_click_users"),
        F.expr("hll_sketch_estimate(sk_purchase)")
        .cast("bigint")
        .alias("est_purchase_users"),
        (
            F.expr("hll_sketch_estimate(sk_click)")
            + F.expr("hll_sketch_estimate(sk_purchase)")
            - F.expr(
                "hll_sketch_estimate(hll_union(sk_click, sk_purchase))"
            )
        )
        .cast("bigint")
        .alias("est_overlap_users"),
    )


@query(
    "stream_quota_drop",
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start_s
    FROM (
      SELECT event_id, user_id, ts,
             row_number() OVER (
               PARTITION BY user_id, floor(epoch(ts) / 3600)
               ORDER BY ts, event_id) AS rn
      FROM events)
    WHERE rn <= 2
    """,
)
def q_stream_quota_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rate limiting: admit at most 2 events per user per
    hour at ingest, drop the rest — a stateful quota no built-in
    streaming aggregate expresses (aggregates summarize; this must
    pass/drop individual rows on a running count).

    Custom GroupState via applyInPandasWithState keyed by USER, with
    the hour tracked inside the state as a (current_hour, n) machine
    that resets when the hour advances. Keying by (user, hour) would
    be semantically cleaner but costs one state-store entry + one
    Python group invocation per (user, hour) — ~64x more groups than
    users on this firehose (measured 42 s -> ~2 s at sf0.1); the
    per-user state machine is the production shape (same reason rate
    limiters keep one token bucket per principal, not per window).
    Rows are processed in event-time order within the replay, so
    admission is deterministic and matches the batch row_number
    oracle; out-of-order arrival across micro-batches would need the
    timeout/eviction variant (state timeout at watermark + 1h).

    Scale: state is |active users| x 16 bytes; the quota check never
    shuffles more than the keyed exchange any per-user operator
    already pays."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from etl_pyspark_spark.streaming.windows import (
        run_to_memory_table,
        stream_events,
    )

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("hour_start_s", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("cur_hour", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def admit(key, pdfs, state: GroupState):
        import pandas as pd

        cur_hour, n = state.get if state.exists else (-1, 0)
        out_eid, out_hour = [], []
        # One group's rows can arrive as SEVERAL Arrow chunks (when the
        # group exceeds arrow.maxRecordsPerBatch) in arbitrary shuffle
        # order — sorting each chunk independently would make admission
        # depend on chunk boundaries. Concatenate, THEN sort once: the
        # buffered frame is one user's one-micro-batch slice, bounded
        # by per-key batch volume, not the corpus.
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        for eid, h in zip(pdf["event_id"], pdf["hour_start_s"]):
            if h != cur_hour:
                cur_hour, n = h, 0
            if n < 2:
                out_eid.append(int(eid))
                out_hour.append(int(h))
            n += 1
        state.update((int(cur_hour), int(n)))
        yield pd.DataFrame(
            {
                "event_id": out_eid,
                "user_id": [int(key[0])] * len(out_eid),
                "hour_start_s": out_hour,
            }
        )

    sdf = stream_events(spark, sf_dir)
    keyed = sdf.select(
        "event_id",
        "user_id",
        "ts",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
        .cast("bigint")
        .alias("hour_start_s"),
    )
    admitted = keyed.groupBy("user_id").applyInPandasWithState(
        admit,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # append + NoTimeout custom state: output rides data batches only —
    # skip the empty flush batch
    return run_to_memory_table(
        admitted, spark, mode="append", final_flush=False
    )


@query(
    "stream_stream_left_outer",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
          FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    -- global watermark = MIN of the two per-stream watermarks; the
    -- all-events max used before round 8 only agreed because the
    -- fixture's stream maxima straddle no unmatched click's horizon
    -- (r8: stream_stream_full_outer exposed the min rule)
    mx AS (SELECT least((SELECT date_trunc('milliseconds', max(c_ts)) FROM c),
                        (SELECT date_trunc('milliseconds', max(p_ts)) FROM p))
                  AS m),
    matched AS (
      SELECT c.click_id, c.user_id, p.purchase_id,
             (epoch_us(p.p_ts) - epoch_us(c.c_ts)) // 1000000 AS delay_s
      FROM c JOIN p ON c.user_id = p.user_id
        AND p.p_ts >= c.c_ts
        AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE),
    unmatched AS (
      SELECT c.click_id, c.user_id,
             CAST(NULL AS BIGINT) AS purchase_id,
             CAST(NULL AS BIGINT) AS delay_s
      FROM c, mx
      WHERE NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.p_ts >= c.c_ts
                AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE)
        AND c.c_ts + INTERVAL 30 MINUTE < mx.m - INTERVAL 1 HOUR)
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join (click -> purchase-or-null). The
    oracle's unmatched branch applies the engine's own eviction rule —
    a click's null row exists iff ``c_ts + window`` is strictly below
    the final watermark (max event time, ms-floored, minus the 1h
    delay); younger unmatched clicks are still buffered when bounded
    input ends. See streaming/joins.click_purchase_left_outer."""
    from etl_pyspark_spark.streaming.joins import click_purchase_left_outer

    return click_purchase_left_outer(spark, sf_dir)


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (``|>``, SPARK-49555): the same
    scan -> filter -> aggregate -> order pipeline written as sequenced
    pipe stages — reads in execution order like the DataFrame API but
    stays pure SQL. Compiles to the identical Catalyst plan as the
    classic form (same pushdown, same partial aggregation), so this is
    a front-end surface, not a different engine path; the oracle is
    the classic spelling."""
    from etl_pyspark_spark.sources.io import read_table

    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_pipe"
    )
    return spark.sql(
        """
        FROM lineitem_pipe
        |> WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
        |> AGGREGATE count(*) AS n_lines,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


@query(
    "collated_group_count",
    oracle="""
    SELECT lower(CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                      ELSE o_orderpriority END) AS priority,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
)
def q_collated_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation support (SPARK-46830): grouping under the
    ``UTF8_LCASE`` collation folds case variants into one group at the
    COMPARISON level — no normalizing rewrite of the data, and every
    downstream comparison/join on the column inherits the semantics.
    The fixture is case-uniform, so a deterministic mixed-case variant
    is derived first (upper-case the even order keys); the output
    labels go through lower() because a collated group's
    representative value is whichever variant a partition saw first.
    The oracle is the classic lower()-rewrite, which is exactly what
    collations exist to replace."""
    from etl_pyspark_spark.sources.io import read_table

    orders = read_table(spark, sf_dir, "orders")
    mixed = F.when(
        F.col("o_orderkey") % 2 == 0, F.upper("o_orderpriority")
    ).otherwise(F.col("o_orderpriority"))
    return (
        orders.select(F.collate(mixed, "UTF8_LCASE").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            # back to the default collation for the output contract —
            # the collated type was a grouping-semantics tool, not a
            # result type
            F.collate(F.lower("p"), "UTF8_BINARY").alias("priority"),
            "n_orders",
        )
    )


@query(
    "heavy_hitters_topk",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY n_events DESC, event_type
    LIMIT 5
    """,
)
def q_heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Spark 4.1's ``approx_top_k`` (Datasketches
    frequent-items): the streaming-friendly answer to "top values of a
    high-cardinality column" — one sketch per partition, merged
    associatively map-side, no per-value groupBy shuffle. The sketch
    is EXACT while distinct values fit its tracking capacity (here 6
    event types vs the 10k default — zero evictions), which is what
    makes this oracle-checkable; past capacity it degrades gracefully
    to guaranteed-error estimates, which is the 100 TB trade: a
    skewed URL/token column with 1e9 distincts gets its top-k for a
    few KB of state instead of a 1e9-row exchange. Output re-sorted
    (count desc, value) so ordering never depends on sketch
    internals."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 5)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("bigint").alias("n_events"),
        )
        .orderBy(F.col("n_events").desc(), "event_type")
    )


@query(
    "python_datasource_jsonl_sink",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE event_id % 20 = 0
    """,
)
def q_python_datasource_jsonl_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITE path (Spark 4 DataSource API):
    a task-parallel JSON-lines sink with a two-phase commit (per-task
    tmp+rename, driver-side manifest of exactly the committed files —
    see sources/pyds.register_jsonl_sink). The query writes a
    deterministic slice of events through the sink, then reads back
    ONLY the manifest-listed files; matching the plain-SQL oracle
    proves the distributed write committed losslessly. Columns are
    int/string only — JSON round-trips them exactly (doubles would
    re-parse, a different correctness question than the commit
    protocol under test)."""
    import json as _json
    import shutil

    from etl_pyspark_spark.sources.pyds import register_jsonl_sink

    if not register_jsonl_sink(spark):  # pragma: no cover - pyspark < 4
        raise NotImplementedError("Python DataSource writer needs pyspark>=4")
    # session-scoped destination: two sessions running this query
    # concurrently (driver bench + a local pytest) must not race one
    # directory's rmtree/write/manifest cycle
    dst = f"{_SCRATCH}/jsonl_sink_{spark.sparkContext.applicationId}"
    shutil.rmtree(dst, ignore_errors=True)
    (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 20 == 0)
        .select("event_id", "user_id", "event_type")
        .write.format("jsonlsink")
        .option("path", dst)
        .mode("append")
        .save()
    )
    with open(f"{dst}/_MANIFEST") as fh:
        files = _json.load(fh)["files"]
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string"
    ).json(files)


@query(
    "udtf_partitioned_top_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT lang, u.term
      FROM documents,
           UNNEST({_WS_TOKENS_SQL.format(col='text')}) AS u(term)),
    counts AS (SELECT lang, term, count(*) AS n_occ
               FROM tok GROUP BY 1, 2),
    ranked AS (
      SELECT lang, term, n_occ,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_occ DESC, term) AS rk
      FROM counts)
    SELECT lang, term, CAST(n_occ AS BIGINT) AS n_occ, rk
    FROM ranked WHERE rk <= 3
    """,
)
def q_udtf_partitioned_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE argument + PARTITION BY (Spark 4
    SPARK-44503): the engine hash-partitions the input table by lang
    and feeds each partition's rows to one UDTF instance — the
    eval/terminate lifecycle IS per group, so cross-row state (here a
    token counter emitting a per-language top-3) needs no manual
    re-keying. This is the polymorphic escape hatch for per-group
    logic that aggregates can't express; Arrow-batched like every
    Python surface in this engine. The equivalent built-in plan
    (explode -> count -> rank) is what a hot path should use —
    ngram_corpus_top and tfidf_top_terms pin it."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="lang string, term string, n_occ bigint, rk int")
    class TopTokens:
        def __init__(self):
            from collections import Counter

            self.counts = Counter()
            self.lang = None

        def eval(self, row):
            self.lang = row["lang"]
            for tok in row["text"].split(" "):
                if tok != "":
                    self.counts[tok] += 1

        def terminate(self):
            top = sorted(self.counts.items(), key=lambda kv: (-kv[1], kv[0]))
            for rk, (term, n) in enumerate(top[:3], start=1):
                yield self.lang, term, n, rk

    spark.udtf.register("top_tokens_by_lang", TopTokens)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_docs_part"
    )
    return spark.sql(
        """
        SELECT * FROM top_tokens_by_lang(
          TABLE(SELECT lang, text FROM udtf_docs_part)
          PARTITION BY lang)
        """
    )


@query(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_totalprice >= 150000.0
    GROUP BY o_orderpriority
    """,
)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (SPARK-41271): named bind parameters instead
    of string interpolation — the injection-safe, plan-cache-friendly
    way applications pass literals (the parameter arrives as a typed
    literal in the plan, so Catalyst folds/pushes it exactly like an
    inline constant)."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_param"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders_param
        WHERE o_totalprice >= :min_price
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000.0},
    )


@query(
    "try_arithmetic_safe",
    oracle="""
    SELECT event_id,
           CASE WHEN minute(ts) <> 0 THEN value / CAST(minute(ts) AS DOUBLE)
           END AS per_minute,
           TRY_CAST(event_type AS BIGINT) AS type_as_num,
           CASE WHEN user_id <> 0 THEN CAST(event_id % user_id AS BIGINT)
           END AS id_mod_user
    FROM events
    WHERE event_id < 2000
    """,
)
def q_try_arithmetic_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``try_*`` function family (try_divide / try_cast /
    try_mod): NULL-on-failure arithmetic that behaves identically
    whether the session runs ANSI on or off — the portable way to
    write guarded expressions now that Spark 4 defaults ANSI on
    (this engine pins ANSI off for DuckDB parity, but callers with
    default sessions hit errors from bare ``/`` and ``CAST``; try_*
    is the contract that works in both worlds)."""
    ev = read_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"), F.minute("ts").cast("double")).alias(
            "per_minute"
        ),
        F.try_to_number(F.col("event_type"), F.lit("999999")).cast(
            "bigint"
        ).alias("type_as_num"),
        F.try_mod(F.col("event_id"), F.col("user_id")).cast("bigint").alias(
            "id_mod_user"
        ),
    )


@query("similarity_pq_topk")
def q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: 8 query vectors against the corpus scanned
    as 8-byte PQ codes (asymmetric-distance LUT scoring), exact
    cosine rerank of the shortlist (similarity/pq.py). rows-only like
    the other trained estimators; recall vs exact brute force bounded
    in tests/test_sketches.py."""
    from etl_pyspark_spark.similarity.pq import pq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.where(F.col("vec_id") < 8), topk=10)


@query(
    "multimodal_shard_pack",
    oracle="""
    WITH a AS (
      SELECT doc_id,
             CAST(strlen(text) AS BIGINT) AS n_bytes,
             ('0x' || substr(md5('shardpack:' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 8 AS shard_id
      FROM documents)
    SELECT doc_id, shard_id, n_bytes,
           CAST(COALESCE(sum(n_bytes) OVER (
                  PARTITION BY shard_id ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS byte_offset
    FROM a
    """,
)
def q_multimodal_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard packing index: assign each media asset
    to one of 8 shard files by hash, and compute its byte offset
    within the shard as the running sum of preceding payload lengths
    — the (shard, offset, length) manifest a tar/ArrayRecord-style
    training loader seeks by, built BEFORE any bytes move so the
    physical shard write is a pure sequential append per shard.

    Scale shape: one narrow scan derives (shard, length); the only
    shuffle is the per-shard window, and shards are the parallel unit
    — a 100 TB media lake packs into ~bytes/shard_size shards, each
    an independent ordered append. Offsets use the payload length
    the binary column reports (here the deterministic text-derived
    payload, multimodal/assets.with_payload)."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.multimodal.assets import with_payload

    from pyspark.sql.window import Window

    assets = with_payload(read_table(spark, sf_dir, "documents"))
    shard = (
        T.portable_hash60(
            F.concat(F.lit("shardpack:"), F.col("doc_id").cast("string"))
        )
        % 8
    ).alias("shard_id")
    sized = assets.select(
        "doc_id", F.col("n_bytes").cast("bigint").alias("n_bytes"), shard
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return sized.select(
        "doc_id",
        "shard_id",
        "n_bytes",
        F.coalesce(F.sum("n_bytes").over(w), F.lit(0))
        .cast("bigint")
        .alias("byte_offset"),
    )


@query(
    "sequence_packing_concat",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_toks,
             ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 32 AS packer_id
      FROM documents),
    o AS (
      SELECT doc_id, packer_id, n_toks,
             CAST(COALESCE(sum(n_toks) OVER (
                    PARTITION BY packer_id ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_offset
      FROM t)
    SELECT doc_id, packer_id, n_toks, tok_offset,
           CAST(tok_offset // 512 AS BIGINT) AS bin_id,
           CAST(tok_offset % 512 AS BIGINT) AS offset_in_bin
    FROM o
    """,
)
def q_sequence_packing_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-pretraining packing
    scheme): documents stream into 32 hash-assigned packers, each
    packer concatenates its docs in deterministic order and cuts
    512-token training sequences — every doc gets (bin, offset)
    coordinates from a running token sum, with no per-bin search.
    Complements doc_chunk_packing (split one long doc) and
    length_bucket_batching (group similar lengths): this one packs
    SHORT docs densely so no sequence pads.

    Scale shape: the running sum is a per-packer window — packers are
    the parallel unit, sized so each holds a trainer shard; assignment
    is stateless hash placement, so re-runs and late-arriving shards
    place identically. A doc spanning a bin boundary continues into
    the next bin, exactly like the attention-masked concat corpus a
    trainer consumes."""
    from etl_pyspark_spark.functions import text as T

    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    packer = (
        T.portable_hash60(
            F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))
        )
        % 32
    ).alias("packer_id")
    t = docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).cast("bigint").alias("n_toks"),
        packer,
    )
    w = (
        Window.partitionBy("packer_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_toks").over(w), F.lit(0)).cast("bigint")
    return t.select(
        "doc_id",
        "packer_id",
        "n_toks",
        off.alias("tok_offset"),
        F.floor(off / 512).cast("bigint").alias("bin_id"),
        (off % 512).cast("bigint").alias("offset_in_bin"),
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey,
             ('0x' || substr(md5(concat_ws('|', CAST(o_orderstatus AS VARCHAR),
                                           CAST(o_totalprice AS VARCHAR),
                                           o_orderpriority)), 1, 15))::BIGINT
               AS row_hash
      FROM orders WHERE o_orderkey % 50 <> 0),
    v2 AS (
      SELECT o_orderkey,
             ('0x' || substr(md5(concat_ws('|', CAST(o_orderstatus AS VARCHAR),
                                           CAST(o_totalprice AS VARCHAR),
             CASE WHEN o_orderkey % 5 = 0 THEN '0-REPRIORITIZED'
                  ELSE o_orderpriority END)), 1, 15))::BIGINT AS row_hash
      FROM orders WHERE o_orderkey % 50 <> 1)
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.row_hash <> v2.row_hash
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff — the pipeline-regression primitive:
    given two snapshots of a keyed table, emit each key that was
    added, removed, or changed (payload compared by a row hash, so
    wide rows diff at 8 bytes/row through the join). The fixtures
    stand in for two runs: v1 drops keys % 50 = 0, v2 drops % 50 = 1
    and reprioritizes keys % 5 = 0.

    Scale shape: both sides reduce to (key, hash64) AT THE SCAN
    (column pruning keeps only diffed columns), the full-outer join
    is key-partitioned, and unchanged rows — the overwhelming
    majority between real runs — are filtered before anything wide is
    fetched. Diffing a 100 TB table costs two narrow scans and one
    keyed shuffle of 16-byte rows."""
    orders = read_table(spark, sf_dir, "orders")

    def snap(df, reprioritize: bool):
        prio = (
            F.when(
                F.col("o_orderkey") % 5 == 0, F.lit("0-REPRIORITIZED")
            ).otherwise(F.col("o_orderpriority"))
            if reprioritize
            else F.col("o_orderpriority")
        )
        from etl_pyspark_spark.functions.text import portable_hash60

        return df.select(
            "o_orderkey",
            portable_hash60(
                F.concat_ws(
                    "|",
                    F.col("o_orderstatus").cast("string"),
                    F.col("o_totalprice").cast("string"),
                    prio,
                )
            ).alias("row_hash"),
        )

    v1 = snap(orders.where(F.col("o_orderkey") % 50 != 0), False)
    v2 = snap(orders.where(F.col("o_orderkey") % 50 != 1), True)
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full"
    )
    change = (
        F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return j.where(
        F.col("a.o_orderkey").isNull()
        | F.col("b.o_orderkey").isNull()
        | (F.col("a.row_hash") != F.col("b.row_hash"))
    ).select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
            "o_orderkey"
        ),
        change.alias("change_type"),
    )


@query(
    "k_anonymity_audit",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           count(*) AS group_size,
           (count(*) < 5) AS reident_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training-data release runs next to pii_scrub: any (nation,
    segment) combination shared by fewer than k=5 individuals is a
    re-identification risk (the quasi-identifier tuple alone narrows
    to a handful of people), and downstream policy suppresses or
    generalizes those groups. One partial-agg groupBy; the audit
    costs the same as any histogram regardless of table width because
    only the quasi-identifier columns are scanned."""
    c = read_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) < 5).alias("reident_risk"),
    )


@query(
    "winsorize_values",
    oracle="""
    WITH d AS (
      SELECT value, count(*) AS cnt FROM events GROUP BY value),
    c AS (
      SELECT value,
             CAST(sum(cnt) OVER (ORDER BY value
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM d),
    cuts AS (
      SELECT min(CASE WHEN cum >= ceil(0.01 * n) THEN value END) AS lo,
             min(CASE WHEN cum >= ceil(0.99 * n) THEN value END) AS hi
      FROM c)
    SELECT e.event_id,
           CAST(e.value AS DOUBLE) AS value,
           CAST(least(greatest(e.value, t.lo), t.hi) AS DOUBLE)
             AS value_winsorized,
           (e.value < t.lo OR e.value > t.hi) AS clipped
    FROM events e, cuts t
    """,
)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the robust-statistics preprocessing step: clip
    the value column at its P1/P99 so downstream means/regressions
    aren't hostage to tail outliers (the alternative to dropping
    rows). Cut points use the DISCRETE quantile (smallest value whose
    cumulative count reaches ceil(q*n) — an exact order statistic)
    rather than interpolated percentiles, so both engines select the
    identical stored value; interpolation arithmetic differs in
    last-ulp across engines.

    Scale shape (round 4, closing the round-3 ``weak``): the cuts come
    from operators/quantiles.exact_discrete_quantiles — an
    approx_percentile bracket (rank error provably ≤ 3n/accuracy)
    followed by an exact rank search that touches ONLY the bracket's
    distinct values via a range-partitioned distributed cumsum. No
    window ever sees the full distinct-value table, so a continuous
    100 TB double column costs two scans + a sliver, not a
    SinglePartition sort. The cuts land as LITERALS, so the clip is a
    pure scan-speed projection."""
    from etl_pyspark_spark.operators.quantiles import clip_to_quantiles

    ev = read_table(spark, sf_dir, "events")
    lo, hi, clipped = clip_to_quantiles(ev, "value", 0.01, 0.99)
    return ev.select(
        "event_id",
        F.col("value").cast("double").alias("value"),
        clipped.cast("double").alias("value_winsorized"),
        ((F.col("value") < lo) | (F.col("value") > hi)).alias("clipped"),
    )


@query(
    "quality_classifier_margin",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.term
      FROM documents,
           UNNEST(list_filter(string_split(text, ' '), x -> x <> ''))
             AS u(term)),
    feat AS (
      SELECT doc_id,
             ('0x' || substr(md5('feat:' || term), 1, 15))::BIGINT % 64
               AS bucket,
             count(*) AS tf
      FROM tok GROUP BY 1, 2),
    w AS (
      SELECT bucket,
             CAST((('0x' || substr(md5('w:' || CAST(bucket AS VARCHAR)),
                                   1, 15))::BIGINT % 2001) - 1000 AS BIGINT)
               AS w_milli
      FROM (SELECT DISTINCT bucket FROM feat))
    SELECT f.doc_id,
           CAST(sum(f.tf * w.w_milli) AS BIGINT) AS margin_milli,
           (sum(f.tf * w.w_milli) > 0) AS keep
    FROM feat f JOIN w USING (bucket)
    GROUP BY f.doc_id
    """,
)
def q_quality_classifier_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE at scan speed — the
    fastText-style keep/drop gate most corpus pipelines run: hashed
    bag-of-words features (64 buckets, same hashing trick as
    feature_hashing_vectorize) dotted with a broadcast weight vector;
    the sign of the margin is the decision. Weights here are a
    deterministic hash-derived stand-in (integer milli-units, so the
    dot product is exact BIGINT arithmetic — a trained model would
    broadcast real weights the same way); the pipeline shape is the
    production one: no UDF, no model server, the model IS a 64-row
    broadcast join."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    docs = spread(read_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.col("text"))).alias("term")
    )
    feat = tok.select(
        "doc_id",
        (T.portable_hash60(F.concat(F.lit("feat:"), F.col("term"))) % 64)
        .alias("bucket"),
    ).groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("tf"))
    w = feat.select("bucket").distinct().select(
        "bucket",
        (
            T.portable_hash60(
                F.concat(F.lit("w:"), F.col("bucket").cast("string"))
            )
            % 2001
            - 1000
        )
        .cast("bigint")
        .alias("w_milli"),
    )
    return (
        feat.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("w_milli"))
            .cast("bigint")
            .alias("margin_milli"),
            (F.sum(F.col("tf") * F.col("w_milli")) > 0).alias("keep"),
        )
    )


@query(
    "stream_session_timeout_custom",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
    lagd AS (
      SELECT user_id, tus,
             CASE WHEN lag(tus) OVER w IS NULL
                    OR tus - lag(tus) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
    s AS (
      SELECT user_id, tus,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM lagd),
    sess AS (
      SELECT user_id, min(tus) AS session_start_us,
             max(tus) AS last_us, count(*) AS n_events,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY min(tus) DESC) AS rk_desc
      FROM s GROUP BY user_id, sid),
    mx AS (SELECT date_trunc('milliseconds', max(ts)) AS m FROM events)
    SELECT user_id, session_start_us, n_events
    FROM sess, mx
    WHERE rk_desc > 1
       OR (last_us + 1800000000) // 1000 < epoch_ms(mx.m) - 3600000
    """,
)
def q_stream_session_timeout_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization with event-time TIMEOUT
    callbacks (GroupStateTimeout.EventTimeTimeout) — idle sessions
    emit from the timeout path when the watermark passes
    ``last + gap``, with no closing event. The oracle rebuilds
    sessions batch-side and applies the engine's own eviction rule to
    each user's final session (ms-floored timeout clock vs terminal
    watermark). See streaming/windows.session_windows_custom_timeout."""
    from etl_pyspark_spark.streaming.windows import (
        session_windows_custom_timeout,
    )

    return session_windows_custom_timeout(spark, sf_dir)


@query(
    "multimodal_phash_dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 100 = 7),
    bytes AS (
      SELECT doc_id, strlen(text) AS n, g.i AS i,
             unicode(substr(text, i, 1)) AS b
      FROM corpus, UNNEST(generate_series(1, strlen(text))) AS g(i)),
    buckets AS (
      SELECT doc_id, n, ((i - 1) * 64) // n AS bucket,
             CAST(sum(b) AS BIGINT) AS s, count(*) AS c
      FROM bytes GROUP BY 1, 2, 3),
    totals AS (
      SELECT doc_id, CAST(sum(s) AS BIGINT) AS total,
             CAST(sum(c) AS BIGINT) AS cnt_all
      FROM buckets GROUP BY doc_id),
    bits AS (
      SELECT bk.doc_id, bk.bucket,
             CASE WHEN bk.s * t.cnt_all > t.total * bk.c
                  THEN 1 ELSE 0 END AS bit
      FROM buckets bk JOIN totals t USING (doc_id)),
    keys AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN bucket // 16 = 0
                           THEN bit << (bucket % 16) END) AS INT) AS k0,
             CAST(sum(CASE WHEN bucket // 16 = 1
                           THEN bit << (bucket % 16) END) AS INT) AS k1,
             CAST(sum(CASE WHEN bucket // 16 = 2
                           THEN bit << (bucket % 16) END) AS INT) AS k2,
             CAST(sum(CASE WHEN bucket // 16 = 3
                           THEN bit << (bucket % 16) END) AS INT) AS k3
      FROM bits GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keys a JOIN keys b
        ON a.doc_id < b.doc_id
       AND (a.k0 = b.k0 OR a.k1 = b.k1 OR a.k2 = b.k2 OR a.k3 = b.k3))
    SELECT c.id_a AS doc_id_a, c.id_b AS doc_id_b,
           CAST(bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1))
              + bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3))
                AS INT) AS hamming
    FROM cand c
    JOIN keys a ON a.doc_id = c.id_a
    JOIN keys b ON b.doc_id = c.id_b
    WHERE bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1))
        + bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) <= 3
    """,
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over binary payloads —
    the image-dedup pipeline shape (aHash -> banded candidate
    generation -> Hamming verify), with the stubbed-codec byte tile
    standing in for the decoded 8x8 grayscale (multimodal/assets.
    perceptual_hash_bands). Pairs sharing any 16-bit band are
    candidates; at threshold 3 the pigeonhole guarantee is EXACT —
    <= 3 differing bits across 4 bands must leave one band identical
    (same argument as SimHash byte-banding), so banding loses no pair
    within threshold. Only candidates pay the Hamming check, JVM-side
    via bit_count(xor). The corpus carries a deterministic re-crawl
    slice (docs % 100 = 7 re-appended under shifted ids) so the
    duplicate-payload path is exercised at every fixture scale.

    At 100 TB of images this is the standard two-stage: hashing touches
    each payload once behind Arrow, the band self-join is bucket-sized,
    and no pixel data crosses a shuffle — 8 bytes of hash per asset
    do."""
    from etl_pyspark_spark.multimodal.assets import (
        perceptual_hash_bands,
        with_payload,
    )

    docs = read_table(spark, sf_dir, "documents")
    recrawl = docs.where(F.col("doc_id") % 100 == 7).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = docs.unionByName(recrawl)
    keys = perceptual_hash_bands(with_payload(corpus)).localCheckpoint(storageLevel=DISK_CKPT)
    # candidate generation MUST be an equi-join on (band, key) bucket
    # entries — an OR of 4 key equalities compiles to a
    # BroadcastNestedLoopJoin (O(n^2) pair grid, the exact thing
    # banding exists to avoid; caught by the plan check below in
    # review). Same explode shape as dedup/minhash.band_entries.
    entries = keys.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.col(f"k{j}").alias("key"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.key").alias("key"))
    cand = (
        entries.select(F.col("doc_id").alias("id_a"), "band", "key")
        .join(
            entries.select(F.col("doc_id").alias("id_b"), "band", "key"),
            ["band", "key"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = keys.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"k{j}").alias(f"a{j}") for j in range(4)],
    )
    b = keys.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"k{j}").alias(f"b{j}") for j in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}")))
        for j in range(4)
    ).cast("int")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .where(hamming <= 3)
        .select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
            hamming.alias("hamming"),
        )
    )


@query(
    "cdc_log_to_scd2",
    oracle="""
    WITH log AS (
      SELECT o_custkey AS key, o_orderkey AS change_id,
             CAST(o_orderdate AS DATE) AS ts,
             CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
             o_orderpriority AS attr
      FROM orders),
    seq AS (
      SELECT key, change_id, ts, op, attr,
             lead(ts) OVER w AS next_ts
      FROM log WINDOW w AS (PARTITION BY key ORDER BY ts, change_id)
    )
    SELECT key AS o_custkey, change_id AS o_orderkey, attr AS priority,
           ts AS valid_from, next_ts AS valid_to,
           (next_ts IS NULL) AS is_current
    FROM seq WHERE op = 'U'
    """,
)
def q_cdc_log_to_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay a CDC change log (upserts + DELETES) into SCD2 validity
    intervals — the piece scd2_intervals leaves out: a delete closes
    the key's open version WITHOUT opening a successor, so the key
    goes dark (no is_current row) until a later upsert revives it;
    interval gaps in the output are exactly the deleted spans. The
    log is derived deterministically from orders (every 17th change
    is a delete).

    Mechanics: one lead() over the full per-key change sequence (U
    and D interleaved) assigns each upsert its closing timestamp —
    whether the closer was a newer version or a delete — then delete
    rows drop out. One window shuffle on the dimension key, same
    cost envelope as scd2_intervals; a 100 TB change log partitions
    by key exactly like any CDC consumer."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("change_id"),
        F.to_date("o_orderdate").alias("ts"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_orderpriority").alias("attr"),
    )
    w = Window.partitionBy("key").orderBy("ts", "change_id")
    seq = log.withColumn("next_ts", F.lead("ts").over(w))
    return seq.where(F.col("op") == "U").select(
        F.col("key").alias("o_custkey"),
        F.col("change_id").alias("o_orderkey"),
        F.col("attr").alias("priority"),
        F.col("ts").alias("valid_from"),
        F.col("next_ts").alias("valid_to"),
        F.col("next_ts").isNull().alias("is_current"),
    )


@query(
    "json_corrupt_records_dlq",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             CASE WHEN event_id % 97 = 0
                  THEN substr(props, 1, strlen(props) - 2)
                  ELSE props END AS props
      FROM events),
    parsed AS (
      SELECT event_id, props,
             CASE WHEN json_valid(props)
                  THEN CAST(json_extract(props, '$.k') AS BIGINT)
             END AS k,
             -- COALESCE: json_valid(NULL) is NULL, which the FILTER
             -- clauses would silently exclude from BOTH paths; the
             -- engine's _corrupt_record contract classifies a NULL
             -- payload as ok (from_json of NULL is not a parse error)
             COALESCE(NOT json_valid(props), FALSE) AS is_corrupt
      FROM raw)
    SELECT CAST(count(*) FILTER (NOT is_corrupt) AS BIGINT) AS n_ok,
           CAST(count(*) FILTER (is_corrupt) AS BIGINT) AS n_dlq,
           CAST(sum(k) FILTER (NOT is_corrupt) AS BIGINT) AS sum_k,
           CAST(min(event_id) FILTER (is_corrupt) AS BIGINT)
             AS first_dlq_event
    FROM parsed
    """,
)
def q_json_corrupt_records_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record routing — what a production ingest does when
    upstream JSON goes bad mid-stream: parse permissively, send
    unparseable rows to a dead-letter path WITH their raw payload
    (never dropped silently), and keep the clean path typed. Here a
    deterministic slice of the props column is truncated to simulate
    upstream corruption; ``from_json`` yields NULL on failure, the
    raw string distinguishes corrupt from genuinely-null, and the
    summary audits both paths (counts + first offending id for triage).

    At scale this costs nothing beyond the parse itself: no second
    pass, the corrupt/ok split is a projection-level CASE riding the
    same scan, and the DLQ branch would be a partitioned write of the
    raw column."""
    ev = read_table(spark, sf_dir, "events")
    mangled = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 97 == 0,
            F.expr("substring(props, 1, length(props) - 2)"),
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    parsed = mangled.select(
        "event_id",
        "props",
        # PERMISSIVE from_json never yields a NULL struct — malformed
        # input gives an all-null struct, indistinguishable from a
        # legitimately-null field. The corrupt-record column is the
        # contract: non-null there == parse failure, and it carries
        # the raw payload the DLQ write needs.
        F.from_json(
            "props",
            "k bigint, _corrupt_record string",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("j"),
    ).select(
        "event_id",
        F.col("j.k").alias("k"),
        F.col("j._corrupt_record").isNotNull().alias("is_corrupt"),
    )
    return parsed.agg(
        F.count(F.when(~F.col("is_corrupt"), 1)).cast("bigint").alias("n_ok"),
        F.count(F.when(F.col("is_corrupt"), 1)).cast("bigint").alias("n_dlq"),
        F.sum(F.when(~F.col("is_corrupt"), F.col("k")))
        .cast("bigint")
        .alias("sum_k"),
        F.min(F.when(F.col("is_corrupt"), F.col("event_id")))
        .cast("bigint")
        .alias("first_dlq_event"),
    )


@query(
    "partition_spec_migration",
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q_partition_spec_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution WITHOUT rewriting history — the lake
    migration every long-lived table eventually faces: old data stays
    under the original year-only spec, new data lands under the
    evolved year/month spec, and one logical view unions the two
    generations (unionByName with the missing partition column
    null-filled). Predicates prune BOTH layouts through their own
    directory structure; history is rewritten never, or lazily during
    scheduled compaction. (Table formats with partition-spec
    evolution do exactly this under a manifest; plain parquet does it
    with a two-path union view.)"""
    from etl_pyspark_spark.sources.io import read_parquet

    old_out, new_out = ensure_orders_mixed_spec(spark, sf_dir)
    v1 = read_parquet(spark, old_out)
    v2 = read_parquet(spark, new_out)
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return (
        unioned.where(
            (F.col("order_year") >= 1996) & (F.col("order_year") <= 1999)
        )
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_price"),
        )
    )


