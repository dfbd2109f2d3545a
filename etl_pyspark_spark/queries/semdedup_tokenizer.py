"""Query family: semdedup_tokenizer (mechanically split from registry.py — see core)."""

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
from etl_pyspark_spark.queries.text_analysis import _WS_TOKENS_SQL, _ngram_sql
from etl_pyspark_spark.queries.dedup_queries import _sql_cos
from etl_pyspark_spark.queries.widening_r3 import q_sql_group_by_all
from etl_pyspark_spark.sources.io import literal_frame

# ---------------------------------------------------------------------------
# Round 4: SemDeDup semantic dedup, substring span removal, corpus
# tokenizer (vocabulary build + greedy segmentation), distributed
# order statistics demo.
# ---------------------------------------------------------------------------


def _semantic_dedup_oracle(threshold: float) -> str:
    cos = _sql_cos("v.embedding", "c.embedding")
    cos_ab = _sql_cos("ea.embedding", "eb.embedding")
    return f"""
    WITH sims AS (
      SELECT v.vec_id, c.vec_id AS centroid_id, {cos} AS cos_sim
      FROM embeddings v
      JOIN (SELECT * FROM embeddings WHERE vec_id < 8) c ON true),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_sim DESC,
                                              centroid_id ASC) AS rk
        FROM sims) WHERE rk = 1),
    dup AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE {cos_ab} >= {threshold})
    SELECT a.vec_id, a.centroid_id,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
    """


@query("dedup_semantic", oracle=_semantic_dedup_oracle(0.3))
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023): cluster
    every embedding to its nearest FIXED centroid (first 8 vectors —
    the engine's oracle-checkable stand-in for fitted k-means, same
    pinning as embedding_assign_nearest_centroid), then flag a vector
    as a semantic duplicate iff a lower-id vector in ITS OWN cluster
    is within cosine 0.3 — candidate generation provably
    intra-cluster, the property that makes semantic dedup tractable
    at 100 TB (Σ|cluster|² pairs, not n²; each (cluster, block-pair)
    group is one bounded-memory BLAS GEMM). See
    similarity/semantic.py; threshold 0.3 calibrated to the
    near-random fixture embeddings (a production run on real
    embeddings uses ~0.95+)."""
    from etl_pyspark_spark.similarity.semantic import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, emb.where(F.col("vec_id") < 8), threshold=0.3
    )


def _substring_dup_remove_oracle() -> str:
    ws = _WS_TOKENS_SQL.format(col="text")
    return f"""
    WITH t AS (SELECT doc_id, {ws} AS toks FROM documents),
    g AS (SELECT doc_id, {_ngram_sql('toks', 8)} AS grams FROM t),
    gp AS (SELECT doc_id, u.i AS p, grams[u.i] AS gram
           FROM g, UNNEST(range(1, len(grams) + 1)) AS u(i)),
    c AS (SELECT gram, count(*) AS n_occ FROM gp GROUP BY gram),
    ds AS (SELECT gp.doc_id, gp.p
           FROM gp JOIN c USING (gram) WHERE c.n_occ >= 2),
    m AS (SELECT doc_id, p,
                 CASE WHEN max(p + 7) OVER w IS NULL
                        OR p > max(p + 7) OVER w
                      THEN 1 ELSE 0 END AS new_grp
          FROM ds
          WINDOW w AS (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING)),
    s AS (SELECT doc_id, p,
                 sum(new_grp) OVER (PARTITION BY doc_id ORDER BY p
                                    ROWS UNBOUNDED PRECEDING) AS gid
          FROM m),
    iv AS (SELECT doc_id, gid, min(p) AS lo, max(p) + 7 AS hi
           FROM s GROUP BY doc_id, gid),
    tok AS (SELECT t.doc_id, u.i, toks[u.i] AS tok
            FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
    rem AS (SELECT DISTINCT tok.doc_id, tok.i
            FROM tok JOIN iv ON tok.doc_id = iv.doc_id
                            AND tok.i BETWEEN iv.lo AND iv.hi),
    clean AS (
      SELECT tok.doc_id,
             count(*) AS n_tokens,
             count(*) FILTER (rem.i IS NULL) AS n_kept,
             COALESCE(string_agg(tok.tok, ' ' ORDER BY tok.i)
                        FILTER (rem.i IS NULL), '') AS clean_text
      FROM tok LEFT JOIN rem
        ON tok.doc_id = rem.doc_id AND tok.i = rem.i
      GROUP BY tok.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(c.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.n_tokens - c.n_kept, 0) AS BIGINT)
             AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN clean c ON d.doc_id = c.doc_id
    """


@query("substring_dup_remove", oracle=_substring_dup_remove_oracle())
def q_substring_dup_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL — the second half of Lee et al.'s substring
    dedup, completing substring_dup_spans (which only measures): every
    token covered by a corpus-duplicated 8-gram is cut and the
    document re-emitted as cleaned text. Overlapping dup grams are
    first merged into maximal per-doc intervals (classic running-max
    interval merge — the window partitions by doc, so state is
    per-document, never corpus-wide), then one JVM higher-order
    filter drops covered tokens; the text never crosses into Python.

    Scale shape: grams are 60-bit-hashed BEFORE the occurrence-count
    shuffle (as in substring_dup_spans), dup-start rows are two ints,
    the interval list per doc is bounded by doc length, and the final
    pass is scan + broadcast-free keyed join + projection. Oracle
    computes the identical interval merge in SQL on the raw gram
    strings."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    docs = read_table(spark, sf_dir, "documents")
    toked = spread(docs).select(
        "doc_id", T.ws_tokens(F.col("text")).alias("toks")
    )
    g = toked.select(
        "doc_id",
        F.posexplode(T.ngrams_from_tokens(F.col("toks"), 8)).alias(
            "pos", "gram"
        ),
    ).select("doc_id", "pos", T.portable_hash60(F.col("gram")).alias("gh"))
    c_dup = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
    )
    starts = g.join(c_dup, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + 7).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = starts.withColumn(
        "new_grp",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end), 1
        ).otherwise(0),
    )
    grouped = marked.withColumn(
        "gid",
        F.sum("new_grp").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = grouped.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("lo"), (F.max("pos") + 7).alias("hi")
    )
    iv = merged.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("lo"), F.col("hi")))
        ).alias("iv")
    )
    joined = toked.join(iv, "doc_id", "left")
    ivc = F.coalesce(
        F.col("iv"),
        F.expr("CAST(array() AS array<struct<lo:int,hi:int>>)"),
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            ivc, lambda v: (i >= v["lo"]) & (i <= v["hi"])
        ),
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def _vocab_build_oracle(k: int, max_len: int) -> str:
    ws = _WS_TOKENS_SQL.format(col="text")
    return f"""
    WITH occ AS (SELECT u.term FROM documents,
                 UNNEST({ws}) AS u(term)),
    sl AS (SELECT term, s.s AS s, l.l AS l
           FROM occ,
                UNNEST(range(1, length(term) + 1)) AS s(s),
                UNNEST(range(1, least({max_len},
                                      length(term) - s.s + 1) + 1))
                  AS l(l)),
    p AS (SELECT substr(term, s, l) AS piece, count(*) AS n_occ
          FROM sl GROUP BY 1)
    SELECT piece, CAST(n_occ AS BIGINT) AS n_occ
    FROM p ORDER BY n_occ DESC, piece ASC LIMIT {k}
    """


@query("tokenizer_vocab_build", oracle=_vocab_build_oracle(512, 8))
def q_tokenizer_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived subword vocabulary: the top-512 most frequent
    substrings (length ≤ 8) of the corpus's whitespace words — the
    deterministic unigram-LM seed vocabulary of SentencePiece,
    computed as a plain corpus statistic (no RNG, no EM), with
    (count DESC, piece ASC) as the total order so both engines pick
    an identical vocabulary. Substring enumeration explodes BEFORE
    the exchange but map-side partial aggregation collapses it, and
    the top-K plans as TakeOrderedAndProject — never a global sort.
    See functions/tokenizer.py; the segmentation consumer is
    tokenizer_segment."""
    from etl_pyspark_spark.functions.tokenizer import top_pieces

    docs = read_table(spark, sf_dir, "documents")
    return top_pieces(docs, 512)


def _segment_oracle(k: int, max_len: int) -> str:
    """SQL twin of greedy WordPiece segmentation (r04 verdict #6 —
    promoted from rows-only). The greedy loop IS expressible: the
    step length at (term, pos) is path-independent, so it's
    precomputed as a plain vocab join (max matching piece length,
    single-char fallback), and a WITH RECURSIVE walk just follows
    pos -> pos + step — terminating naturally when steps has no row.
    DuckDB gotchas baked in: LIMIT-then-UNION needs parenthesized
    branches; a LEFT JOIN cannot follow a correlated UNNEST (positions
    materialize first); and an IN-subquery against a CTE inside the
    recursive member silently mismatches (the precomputed-steps shape
    avoids correlated subqueries in the recursion entirely)."""
    ws = _WS_TOKENS_SQL.format(col="text")
    return f"""
    WITH RECURSIVE
    occ AS (SELECT u.term FROM documents, UNNEST({ws}) AS u(term)),
    sl AS (SELECT term, s.s AS s, l.l AS l
           FROM occ,
                UNNEST(range(1, length(term) + 1)) AS s(s),
                UNNEST(range(1, least({max_len},
                                      length(term) - s.s + 1) + 1))
                  AS l(l)),
    p AS (SELECT substr(term, s, l) AS piece, count(*) AS n_occ
          FROM sl GROUP BY 1),
    vocab AS MATERIALIZED (
      SELECT DISTINCT piece FROM (
        (SELECT piece FROM p ORDER BY n_occ DESC, piece ASC LIMIT {k})
        UNION ALL
        (SELECT piece FROM p WHERE length(piece) = 1))),
    dw AS (SELECT doc_id, u.term, count(*) AS n
           FROM documents, UNNEST({ws}) AS u(term) GROUP BY 1, 2),
    terms AS MATERIALIZED (SELECT DISTINCT term FROM dw),
    poss AS MATERIALIZED (
      SELECT t.term, s.s AS pos
      FROM terms t, UNNEST(range(1, length(t.term) + 1)) AS s(s)),
    cand AS (SELECT t.term, s.s AS pos, l.l AS l
             FROM terms t,
                  UNNEST(range(1, length(t.term) + 1)) AS s(s),
                  UNNEST(range(2, least({max_len},
                                        length(t.term) - s.s + 1) + 1))
                    AS l(l)),
    m AS (SELECT c.term, c.pos, max(c.l) AS l
          FROM cand c
          JOIN vocab v ON substr(c.term, c.pos, c.l) = v.piece
          GROUP BY 1, 2),
    steps AS MATERIALIZED (
      SELECT po.term, po.pos, COALESCE(m.l, 1) AS step
      FROM poss po LEFT JOIN m ON m.term = po.term AND m.pos = po.pos),
    seg AS (
      SELECT term, 1 AS pos, 0 AS np FROM terms
      UNION ALL
      SELECT s.term, s.pos + st.step, s.np + 1
      FROM seg s JOIN steps st ON st.term = s.term AND st.pos = s.pos),
    pieces AS (SELECT term, max(np) AS n_pieces FROM seg GROUP BY term)
    SELECT dw.doc_id,
           CAST(sum(dw.n) AS BIGINT) AS n_words,
           CAST(sum(dw.n * p.n_pieces) AS BIGINT) AS n_pieces
    FROM dw JOIN pieces p USING (term)
    GROUP BY 1
    """


@query("tokenizer_segment", oracle=_segment_oracle(64, 8))
def q_tokenizer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match (WordPiece) segmentation of every
    document with the corpus-derived vocabulary: per doc, word count
    and subword-piece count. Hash-matched against a full SQL twin
    (_segment_oracle): greedy step lengths are path-independent, so
    the oracle precomputes them per (term, position) with a vocab
    join and follows them with a recursive CTE — the iterative loop
    that kept this rows-only through round 4 is now oracle-checked.
    Invariants additionally pinned in tests/test_tokenizer.py:
    round-trip (pieces rejoin to the word), total coverage
    (single-char fallback — the vocabulary contains every corpus
    character), the greedy longest-match property against the vocab,
    and in-engine consistency of the distributed counts with a
    driver-side recomputation.

    Scale shape: vocabulary = one bounded collect (K + |alphabet|
    strings) broadcast once per executor; documents cross into Python
    exactly once via Arrow mapInPandas.

    K=64 here, calibrated to the synthetic fixture's 31-word lexicon
    so greedy matching actually composes (top-64 pieces leave most
    words out-of-vocab; avg ≈ 3 pieces/word with multi-char pieces
    like 'er'); a production corpus uses the vocab_build K (~32k)."""
    from etl_pyspark_spark.functions.tokenizer import (
        collect_vocab,
        segment_documents,
    )

    docs = read_table(spark, sf_dir, "documents")
    vocab = collect_vocab(docs, 64)
    return segment_documents(docs, vocab)


@query(
    "corpus_shuffle_assign",
    oracle="""
    SELECT doc_id,
           row_number() OVER (
             ORDER BY ('0x' || substr(md5('shuffle:'
                                          || CAST(doc_id AS VARCHAR)),
                                      1, 15))::BIGINT,
                      doc_id) AS shuffle_pos
    FROM documents
    """,
)
def q_corpus_shuffle_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle — the epoch-ordering step of every
    training-data loader: each document gets a reproducible position
    in a pseudo-random permutation (rank of its keyed 60-bit hash; the
    'shuffle:' salt decouples this permutation from every other
    hash-derived assignment in the engine). Computed with
    operators/ranks.with_global_rank — range exchange + per-partition
    offsets, NEVER a SinglePartition window — so assigning 100 TB of
    shuffle positions costs exactly one sort-shaped shuffle. The
    hash is RNG-free: re-running on the same corpus yields the same
    permutation (resumable data loading)."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.operators.ranks import with_global_rank

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "hk",
        T.portable_hash60(
            F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))
        ),
    )
    return with_global_rank(keyed, ["hk", "doc_id"], "shuffle_pos").select(
        "doc_id", "shuffle_pos"
    )


@query(
    "mixture_temperature_weights",
    oracle=f"""
    WITH s AS (SELECT source, count(*) AS n_docs
               FROM documents GROUP BY source),
    t AS (SELECT source, n_docs,
                 pow(CAST(n_docs AS DOUBLE), 0.7) AS w FROM s),
    z AS (SELECT sum(w) AS z FROM t)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           {sql_pround('w / z', 6)} AS weight
    FROM t, z
    """,
)
def q_mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual-LM
    sampling trick, T=1/0.7): per-source counts raised to α=0.7 and
    normalized, flattening the source distribution so small sources
    are not drowned at training time. One partial-agg groupBy over
    the corpus, a 1-row broadcast for the normalizer, 20 output rows;
    pow's last-ulp libm-vs-JVM variance is absorbed by pround(6) on
    both engines."""
    docs = read_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    t = s.select(
        "source",
        "n_docs",
        F.pow(F.col("n_docs").cast("double"), 0.7).alias("w"),
    )
    z = t.agg(F.sum("w").alias("z"))
    return t.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        pround(F.col("w") / F.col("z"), 6).alias("weight"),
    )


@query(
    "late_supplier_blame",
    oracle="""
    WITH l1 AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'),
    mx AS (
      SELECT l_orderkey, max(l_shipdate) AS max_ship,
             count(DISTINCT l_suppkey) AS n_supps
      FROM l1 GROUP BY l_orderkey),
    late AS (
      SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      FROM l1 JOIN mx USING (l_orderkey)
      WHERE l1.l_shipdate = mx.max_ship AND mx.n_supps >= 2),
    solo AS (
      SELECT l_orderkey FROM late GROUP BY l_orderkey
      HAVING count(*) = 1)
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late JOIN solo USING (l_orderkey)
    JOIN supplier s ON late.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q_late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape (suppliers-who-kept-orders-waiting) adapted
    to the fixture columns: on completed multi-supplier orders, blame
    the supplier whose line shipped last — but only when it was the
    SOLE latest shipper (Q21's exists/not-exists double correlation,
    decorrelated into two aggregates instead of two correlated
    subqueries). Both 'exists' legs reuse ONE keyed aggregation over
    the filtered fact (max shipdate + distinct-supplier count in the
    same pass); the final rollup is a 20-row TakeOrderedAndProject.
    Every shuffle keys on l_orderkey — AQE coalesces the tiny tail."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    su = read_table(spark, sf_dir, "supplier")
    fo = o.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = li.join(fo, li.l_orderkey == fo.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    mx = l1.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        F.count_distinct("l_suppkey").alias("n_supps"),
    )
    late = (
        l1.join(mx, "l_orderkey")
        .where(
            (F.col("l_shipdate") == F.col("max_ship"))
            & (F.col("n_supps") >= 2)
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    solo = (
        late.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_latest"))
        .where(F.col("n_latest") == 1)
    )
    blamed = late.join(solo.select("l_orderkey"), "l_orderkey")
    return (
        blamed.join(su, blamed.l_suppkey == su.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@query(
    "excess_stock_suppliers",
    oracle="""
    WITH small AS (SELECT p_partkey FROM part WHERE p_size <= 10),
    ps AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(l_quantity AS DECIMAL(18,6))) AS qty
      FROM lineitem JOIN small ON l_partkey = p_partkey
      GROUP BY 1, 2),
    a AS (SELECT l_partkey, avg(CAST(qty AS DOUBLE)) AS avg_qty
          FROM ps GROUP BY 1),
    excess AS (
      SELECT DISTINCT ps.l_suppkey
      FROM ps JOIN a USING (l_partkey)
      WHERE CAST(qty AS DOUBLE) > 1.5 * avg_qty)
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM excess)
    ORDER BY s.s_suppkey
    """,
)
def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's shape (excess-stock suppliers) on the fixture:
    suppliers who shipped > 1.5× the per-part average quantity of any
    small part. The nested-aggregate chain (per-(part,supplier)
    decimal-exact sums → per-part average → threshold semi-join)
    reuses one partial aggregation; the part-size dim filter
    broadcasts into the fact scan; the final IN compiles to
    left-semi. Decimal sums keep the distributed totals exact; only
    the final avg comparison is floating, on identical inputs in both
    engines."""
    li = read_table(spark, sf_dir, "lineitem")
    pa = read_table(spark, sf_dir, "part")
    su = read_table(spark, sf_dir, "supplier")
    small = pa.where(F.col("p_size") <= 10).select("p_partkey")
    ps = (
        li.join(F.broadcast(small), li.l_partkey == small.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty"))
    )
    avg_qty = ps.groupBy("l_partkey").agg(
        F.avg(F.col("qty").cast("double")).alias("avg_qty")
    )
    excess = (
        ps.join(avg_qty, "l_partkey")
        .where(F.col("qty").cast("double") > 1.5 * F.col("avg_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        su.join(excess, su.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "group_quantiles_exact",
    oracle="""
    WITH d AS (SELECT lang, n_chars, count(*) AS cnt
               FROM documents GROUP BY 1, 2),
    c AS (SELECT lang, n_chars,
                 CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
                 CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
          FROM d)
    SELECT lang,
           min(CASE WHEN cum >= ceil(0.5 * n) THEN n_chars END)
             AS p50_chars,
           min(CASE WHEN cum >= ceil(0.9 * n) THEN n_chars END)
             AS p90_chars,
           max(n) AS n_docs
    FROM c GROUP BY lang
    """,
)
def q_group_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact discrete quantiles (P50/P90 document length by
    language) — the per-group complement of winsorize_values' global
    cuts. Reduce-first per group: distinct (lang, value) counts from
    one partial-agg groupBy, cumulative windows PARTITIONED BY LANG
    (state per group, never corpus-wide), cut selection as a
    conditional min. Same discrete-quantile definition as
    operators/quantiles (smallest value reaching ceil(q·n)), so both
    engines pick identical stored values."""
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    d = docs.groupBy("lang", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("lang")
    c = d.select(
        "lang",
        "n_chars",
        F.sum("cnt").over(w).cast("bigint").alias("cum"),
        F.sum("cnt").over(tot).cast("bigint").alias("n"),
    )
    return c.groupBy("lang").agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(0.5 * F.col("n")), F.col("n_chars")
            )
        ).alias("p50_chars"),
        F.min(
            F.when(
                F.col("cum") >= F.ceil(0.9 * F.col("n")), F.col("n_chars")
            )
        ).alias("p90_chars"),
        F.max("n").alias("n_docs"),
    )


@query(
    "value_quantiles_exact",
    oracle="""
    WITH d AS (SELECT value, count(*) AS cnt FROM events GROUP BY value),
    c AS (SELECT value,
                 CAST(sum(cnt) OVER (ORDER BY value
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
                 CAST(sum(cnt) OVER () AS BIGINT) AS n
          FROM d),
    p AS (SELECT CAST(unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS DOUBLE)
            AS prob)
    SELECT p.prob,
           (SELECT min(value) FROM c
            WHERE cum >= greatest(1, ceil(p.prob
                                          * (SELECT max(n) FROM c))))
             AS value
    FROM p
    """,
)
def q_value_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantile PROFILE of events.value (P1/P25/P50/
    P75/P99) through operators/quantiles.exact_discrete_quantiles —
    the approx-bracketed exact rank search runs all five probes with
    TWO corpus scans total (one for n + all brackets, one aggregate
    of the below-bracket counts and the per-probe slivers); the oracle
    computes the same order statistics the exhaustive way. Output is
    5 rows assembled driver-side from the (bounded) cut values —
    this is the engine's quantile API surface as a query."""
    from etl_pyspark_spark.operators.quantiles import (
        exact_discrete_quantiles,
    )

    ev = read_table(spark, sf_dir, "events")
    probs = [0.01, 0.25, 0.5, 0.75, 0.99]
    cuts = exact_discrete_quantiles(ev, "value", probs)
    return literal_frame(
        spark, list(zip(probs, cuts)), "prob double, value double"
    )


@query("embedding_pca_whiten")  # rows-only: eigendecomposition has no
# SQL twin; invariants pinned in tests/test_pca.py
def q_embedding_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening of the embedding corpus (top-8 components):
    per-partition moment accumulation (one summary row per partition,
    |partitions|-bounded driver combine), driver-side 64×64 eigh with
    sign-fixed eigenvectors (reproducible basis), broadcast projection
    via one Arrow-batched GEMM — see similarity/pca.py. Rows-only by
    necessity; test_pca.py pins whitened-covariance ≈ I, agreement
    with a single-shot reference PCA, and determinism."""
    from etl_pyspark_spark.similarity.pca import pca_whiten

    emb = read_table(spark, sf_dir, "embeddings")
    return pca_whiten(emb, k=8)


@query(
    "knn_label_vote",
    oracle=f"""
    WITH sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             {_sql_cos('q.embedding', 'c.embedding')} AS cos_sim
      FROM (SELECT * FROM embeddings WHERE vec_id < 16) q
      JOIN (SELECT * FROM embeddings WHERE vec_id >= 16) c ON true),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC,
                                              neighbor_id ASC) AS rk
        FROM sims) WHERE rk <= 5),
    votes AS (
      SELECT query_id, label, count(*) AS n_votes
      FROM top GROUP BY 1, 2)
    SELECT query_id AS vec_id, label AS predicted_label,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY n_votes DESC,
                                                label ASC) AS rk
          FROM votes)
    WHERE rk = 1
    """,
)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification — the label-propagation /
    weak-labeling step of many data-curation pipelines: each query
    vector (vec_id < 16) takes the modal label of its 5 nearest
    corpus neighbors by cosine, ties toward the smaller label. Built
    on brute_force_topk (broadcast query set against the corpus scan
    — corpus never shuffles for the join), one window shuffle for the
    per-query rank, one keyed agg for the vote; rounded cosine makes
    the neighbor set cross-engine identical."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.similarity.cosine import brute_force_topk

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 16)
    corpus = emb.where(F.col("vec_id") >= 16)
    top = brute_force_topk(corpus, q, k=5)
    lab = top.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
        "neighbor_id",
    )
    votes = lab.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("label").alias("predicted_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
        )
    )


@query(
    "kmeans_update_step",
    oracle=f"""
    WITH sims AS (
      SELECT v.vec_id, c.vec_id AS centroid_id,
             {_sql_cos('v.embedding', 'c.embedding')} AS cos_sim
      FROM embeddings v
      JOIN (SELECT * FROM embeddings WHERE vec_id < 8) c ON true),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_sim DESC,
                                              centroid_id ASC) AS rk
        FROM sims) WHERE rk = 1),
    vals AS (
      SELECT a.centroid_id, u.i - 1 AS dim,
             CAST(e.embedding[u.i] AS DOUBLE) AS val
      FROM assigned a JOIN embeddings e USING (vec_id),
           UNNEST(range(1, len(e.embedding) + 1)) AS u(i))
    SELECT centroid_id, CAST(dim AS INT) AS dim,
           CAST(sum(CAST(floor(val * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1e9) AS mean_val
    FROM vals GROUP BY 1, 2
    """,
)
def q_kmeans_update_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means UPDATE step on the fixed-centroid assignment: new
    centroid = per-cluster elementwise mean, in long form
    (centroid_id, dim, mean_val) so the 8×64 result is plainly
    relational. Means use the engine's integer-exact idiom (cf.
    regression_by_group): values nano-quantized to BIGINT before the
    sum — distributed addition is then partitioning-independent and
    the final double division runs on identical integers in both
    engines. With assignment (embedding_assign_nearest_centroid) this
    is a full Lloyd iteration expressed as two dataflow passes — the
    iterative loop lives in the caller, state in checkpointed
    centroid tables, exactly how distributed k-means runs at scale."""
    from etl_pyspark_spark.similarity.semantic import (
        assign_nearest_centroid,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # r12: the assignment is a pure projection (literal-array argmax),
    # so the vector rides along and the join back disappears
    vals = assign_nearest_centroid(
        emb, emb.where(F.col("vec_id") < 8), extra_cols=("embedding",)
    ).select(
        "centroid_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "val"
        ),
    )
    qv = F.floor(F.col("val") * 1e9 + F.lit(0.5)).cast("bigint")
    return vals.groupBy("centroid_id", "dim").agg(
        (
            F.sum(qv).cast("double")
            / (F.count(F.lit(1)).cast("double") * 1e9)
        ).alias("mean_val")
    )


@query(
    "time_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2),
    span AS (SELECT min(CAST(ts AS DATE)) AS d0,
                    max(CAST(ts AS DATE)) AS d1 FROM events),
    cal AS (SELECT unnest(generate_series(d0, d1,
                                          INTERVAL 1 DAY))::DATE AS day
            FROM span),
    types AS (SELECT DISTINCT event_type FROM events)
    SELECT cal.day, types.event_type,
           CAST(COALESCE(daily.n_events, 0) AS BIGINT) AS n_events
    FROM cal CROSS JOIN types
    LEFT JOIN daily ON cal.day = daily.day
                   AND types.event_type = daily.event_type
    """,
)
def q_time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap fill — GLOBAL (day x event_type) zero-fill, the
    grid-shaped complement of timeseries_gapfill_locf (per-user spans,
    last-observation-carried-forward): densification every
    dashboard/forecast consumer needs before windowed math. The calendar derives from a 1-row min/max
    aggregate exploded through sequence() (never a driver loop), the
    (day × type) grid is a broadcast cross of two tiny sides, and
    observed counts left-join in with one keyed shuffle. Grid size is
    days × types regardless of event volume — the scan dominates, as
    it should."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    span = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    cal = span.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = ev.select("event_type").distinct()
    grid = cal.crossJoin(types)
    return grid.join(daily, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        F.coalesce(F.col("n_events"), F.lit(0))
        .cast("bigint")
        .alias("n_events"),
    )


@query(
    "robust_zscore_outliers",
    oracle=f"""
    WITH d AS (SELECT value, count(*) AS cnt FROM events GROUP BY value),
    c AS (SELECT value,
                 CAST(sum(cnt) OVER (ORDER BY value
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
                 CAST(sum(cnt) OVER () AS BIGINT) AS n
          FROM d),
    med AS (SELECT min(value) AS m FROM c
            WHERE cum >= greatest(1, ceil(0.5 * (SELECT max(n) FROM c)))),
    dd AS (SELECT abs(value - (SELECT m FROM med)) AS dv, count(*) AS cnt
           FROM events GROUP BY 1),
    dc AS (SELECT dv,
                  CAST(sum(cnt) OVER (ORDER BY dv
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS cum,
                  CAST(sum(cnt) OVER () AS BIGINT) AS n
           FROM dd),
    mad AS (SELECT min(dv) AS m FROM dc
            WHERE cum >= greatest(1, ceil(0.5 * (SELECT max(n) FROM dc))))
    SELECT event_id,
           CAST(value AS DOUBLE) AS value,
           {sql_pround("(value - (SELECT m FROM med))"
                       " / (1.4826 * (SELECT m FROM mad))", 6)}
             AS robust_z,
           abs({sql_pround("(value - (SELECT m FROM med))"
                           " / (1.4826 * (SELECT m FROM mad))", 6)}) > 3.5
             AS is_outlier
    FROM events
    """,
)
def q_robust_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flags via the median/MAD z-score (the
    estimator that, unlike mean/stddev, outliers can't poison —
    standard data-quality gate before training-metric aggregation):
    z = (x − median) / (1.4826·MAD), |z| > 3.5 flags (Iglewicz &
    Hoaglin's threshold). BOTH order statistics (median, then median
    of absolute deviations) run through the bracketed exact-rank
    search (operators/quantiles) — two quantile passes, no
    SinglePartition window, cuts land as literals so the scoring pass
    is scan-speed projection. |x−median| is exact IEEE arithmetic on
    identical inputs, so the derived second-pass quantile is
    cross-engine identical too."""
    from etl_pyspark_spark.operators.quantiles import (
        exact_discrete_quantiles,
    )

    ev = read_table(spark, sf_dir, "events")
    med = exact_discrete_quantiles(ev, "value", [0.5])[0]
    dev = ev.select((F.abs(F.col("value") - F.lit(med))).alias("d"))
    mad = exact_discrete_quantiles(dev, "d", [0.5])[0]
    scale = 1.4826 * mad
    z = pround((F.col("value") - F.lit(med)) / F.lit(scale), 6)
    return ev.select(
        "event_id",
        F.col("value").cast("double").alias("value"),
        z.alias("robust_z"),
        (F.abs(z) > 3.5).alias("is_outlier"),
    )


def _bigram_lm_oracle() -> str:
    ws = _WS_TOKENS_SQL.format(col="text")
    return f"""
    WITH t AS (SELECT doc_id, {ws} AS toks FROM documents),
    bg AS (SELECT doc_id, unnest({_ngram_sql('toks', 2)}) AS g FROM t),
    c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
    c1 AS (SELECT split_part(g, ' ', 1) AS w1, count(*) AS c1
           FROM bg GROUP BY 1),
    scored AS (
      SELECT bg.doc_id,
             count(*) AS n_bigrams,
             CAST(sum(CAST({sql_pround(
                 "CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)", 6
             )} AS DECIMAL(18,6))) AS DOUBLE) / count(*)
               AS avg_bigram_prob
      FROM bg
      JOIN c2 USING (g)
      JOIN c1 ON split_part(bg.g, ' ', 1) = c1.w1
      GROUP BY bg.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           COALESCE(s.avg_bigram_prob, 0.0) AS avg_bigram_prob
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """


@query("bigram_lm_score", oracle=_bigram_lm_oracle())
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM fluency score — the cheap statistical
    language-model filter (docs whose word transitions are rare in
    the corpus read as noise/boilerplate): per doc, the average
    corpus conditional probability c(w1,w2)/c(w1·) over its bigrams.
    Log-free by design (cross-engine libm drift): each conditional
    probability is a rational rounded via pround(6), summed as
    DECIMAL (order-independent, partitioning-proof), divided once as
    double. Bigram counts collapse map-side; the prefix table joins
    on the bigram's first token; one keyed rollup per doc."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    docs = read_table(spark, sf_dir, "documents")
    toked = spread(docs).select(
        "doc_id", T.ws_tokens(F.col("text")).alias("toks")
    )
    bg = toked.select(
        "doc_id",
        F.explode(T.ngrams_from_tokens(F.col("toks"), 2)).alias("g"),
    )
    c2 = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (
        bg.select(F.substring_index("g", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    ratio = pround(
        F.col("c2").cast("double") / F.col("c1").cast("double"), 6
    )
    scored = (
        bg.join(c2, "g")
        .withColumn("w1", F.substring_index("g", " ", 1))
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(ratio.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_bigram_prob"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0))
            .cast("bigint")
            .alias("n_bigrams"),
            F.coalesce(F.col("avg_bigram_prob"), F.lit(0.0)).alias(
                "avg_bigram_prob"
            ),
        )
    )


@query(
    "value_histogram",
    oracle=f"""
    WITH span AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    b AS (SELECT least(19, CAST(floor((value - lo) * 20.0 / (hi - lo))
                                AS BIGINT)) AS bin, lo, hi
          FROM events, span)
    SELECT CAST(bin AS INT) AS bin, count(*) AS n_events,
           {sql_pround('min(lo + bin * (hi - lo) / 20.0)', 6)} AS bin_lo
    FROM b GROUP BY bin
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 20-bin histogram of events.value with DATA-DRIVEN
    edges — the companion to histogram_fixed_bins (which pins constant
    edges and needs no pre-pass): here the [min, max] span is first
    computed as a 1-row aggregate and broadcast onto the unsorted scan (no sort, no
    quantiles needed for equal-WIDTH bins), binning is a pure
    projection, counts collapse map-side. Bins are data-driven;
    identical IEEE arithmetic on both engines makes bin edges and
    assignment cross-engine exact (absorbed to 1e-6 at the reported
    edge). Empty bins are legitimately absent (17 of 20 occupied on
    the fixture's skewed values)."""
    ev = read_table(spark, sf_dir, "events")
    span = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(F.broadcast(span)).select(
        F.least(
            F.lit(19),
            F.floor(
                (F.col("value") - F.col("lo"))
                * 20.0
                / (F.col("hi") - F.col("lo"))
            ),
        )
        .cast("int")
        .alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(
            F.min(
                F.col("lo") + F.col("bin") * (F.col("hi") - F.col("lo")) / 20.0
            ),
            6,
        ).alias("bin_lo"),
    )


# (GROUP BY ALL is already covered by q_sql_group_by_all above —
# registry.py:6940.)


def _copurchase_pagerank_oracle() -> str:
    from etl_pyspark_spark.operators.graph import sql_pagerank_int

    edges_sql = """
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    """
    nodes_sql = f"SELECT DISTINCT src AS node FROM ({edges_sql})"
    inner = sql_pagerank_int(nodes_sql, edges_sql, iterations=3)
    return f"SELECT node AS part, rank_int FROM ({inner})"


@query("pagerank_copurchase", oracle=_copurchase_pagerank_oracle())
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a DATA-DERIVED graph: part co-purchase edges
    (every ordered pair of distinct parts sharing an order —
    symmetric, so every node has outdegree), 3 rounds through the
    existing integer-quantized engine (operators/graph.pagerank_int —
    same operator as pagerank_iterative, which runs on a synthetic
    formula graph; this entry exercises the edge-building half a real
    pipeline needs). The basket expansion is ONE groupBy-collect_set
    (order-keyed shuffle, per-order dedup fused in) followed by an
    in-row double explode — measured ~35% cheaper than the
    equivalent distinct + self-join + distinct chain (one fewer
    exchange over the pair set), identical edge set. The mega-basket
    cap lives in the basket aggregate's row (operators/baskets
    .cap_items_array: deterministic hash-rank slice, pure codegen
    HOFs) so the quadratic explode is bounded at O(cap^2) per order;
    the cap never binds on fixture baskets (<= 7 lines), keeping the
    oracle cap-free.
    Bit-exact across engines because every step is bigint arithmetic;
    the oracle unrolls the same 3 rounds via sql_pagerank_int."""
    from etl_pyspark_spark.operators.baskets import capped_baskets
    from etl_pyspark_spark.operators.graph import pagerank_int

    li = read_table(spark, sf_dir, "lineitem")
    baskets = capped_baskets(li, "l_orderkey", "l_partkey", out="ps")
    edges = (
        baskets.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(storageLevel=DISK_CKPT)
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # edges is checkpointed above, so the operator can rescan it per
    # round instead of writing a second |E|-scale copy to disk
    return pagerank_int(
        nodes, edges, iterations=3, edges_reusable=True
    ).select(F.col("node").alias("part"), "rank_int")


@query("tokenizer_bpe_learn")  # rows-only: BPE is inherently
# iterative (argmax + merge per step); parity with a pure-Python BPE
# reference is pinned in tests/test_tokenizer.py — rules AND final
# symbolizations must match exactly
def q_tokenizer_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule learning (Sennrich et al. 2016), 10 merges —
    the iterative half of subword-tokenizer training
    (tokenizer_vocab_build is the one-shot seed statistic). Per
    iteration: adjacent-pair counts over the DISTINCT-word table
    (weights = corpus occurrence counts, so cost is bounded by
    vocabulary, not corpus), a 1-row TakeOrdered argmax with a pinned
    (count DESC, left ASC, right ASC) tie-break, and the merge
    applied by a whole-stage-codegen fold over the symbol arrays —
    no per-row Python anywhere; the loop and lineage truncation
    follow the pagerank_int pattern. Output: the learned rule table
    (step, left, right, pair_count)."""
    from etl_pyspark_spark.functions.tokenizer import bpe_learn

    docs = read_table(spark, sf_dir, "documents")
    rules, _ = bpe_learn(docs, n_merges=10)
    return literal_frame(
        spark, rules, "step int, left string, right string, pair_count bigint"
    )


_EQUIDEPTH_BINS = 10


def _equidepth_oracle() -> str:
    b = _EQUIDEPTH_BINS
    return f"""
    WITH d AS (SELECT value, count(*) AS cnt FROM events GROUP BY value),
    c AS (SELECT value,
                 CAST(sum(cnt) OVER (ORDER BY value
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
                 CAST(sum(cnt) OVER () AS BIGINT) AS n
          FROM d),
    p AS (SELECT CAST(unnest(range(1, {b})) AS DOUBLE) / {b} AS prob),
    cuts AS (
      SELECT p.prob,
             (SELECT min(value) FROM c
              WHERE cum >= greatest(1, ceil(p.prob
                                            * (SELECT max(n) FROM c))))
               AS cut
      FROM p),
    bn AS (SELECT e.value,
                  (SELECT count(*) FROM cuts WHERE cuts.cut < e.value)
                    AS bin
           FROM events e)
    SELECT CAST(bin AS INT) AS bin, count(*) AS n_events,
           CAST(min(value) AS DOUBLE) AS min_value,
           CAST(max(value) AS DOUBLE) AS max_value
    FROM bn GROUP BY bin
    """


@query("value_histogram_equidepth", oracle=_equidepth_oracle())
def q_value_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (10 equal-population bins) — the optimizer
    statistic / monitoring profile equal-WIDTH bins (value_histogram)
    can't give on skewed data: bin edges are the exact discrete
    deciles from operators/quantiles (bracketed exact-rank search,
    never a SinglePartition window), landed as a literal cut array so
    bin assignment is one scan-speed higher-order filter
    (size(filter(cuts, c -> c < value))). The fixture's long-tailed
    value column bins to ~N/10 rows each where the equal-width
    histogram piles 85 % into two bins."""
    from etl_pyspark_spark.operators.quantiles import (
        exact_discrete_quantiles,
    )

    ev = read_table(spark, sf_dir, "events")
    probs = [i / _EQUIDEPTH_BINS for i in range(1, _EQUIDEPTH_BINS)]
    cuts = exact_discrete_quantiles(ev, "value", probs)
    arr = "array(" + ",".join(
        f"CAST({c!r} AS DOUBLE)" for c in cuts
    ) + ")"
    bin_col = F.expr(f"size(filter({arr}, c -> c < value))")
    return (
        ev.select(bin_col.cast("int").alias("bin"), "value")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").cast("double").alias("min_value"),
            F.max("value").cast("double").alias("max_value"),
        )
    )


