"""Query family: corpus_pipeline (mechanically split from registry.py — see core)."""

from __future__ import annotations

from etl_pyspark_spark.checkpoint import scoped_persist

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    SparkSession,
    _dec_sum_sql,
    dec_sum,
    pround,
    query,
    read_table,
    sql_pround,
)
from etl_pyspark_spark.queries.text_analysis import (
    _STOP_HITS_SQL,
    _WS_TOKENS_SQL,
    _sql_str_list,
)
from etl_pyspark_spark.sources.layouts import (
    _SCRATCH,
    ensure_range_clustered_lineitem,
    ensure_zorder_lineitem,
)

# ---------------------------------------------------------------------------
# Embedding compression: scalar int8 quantization (similarity/quantize.py)
# ---------------------------------------------------------------------------


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH t AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS max_abs
      FROM t),
    qz AS (
      SELECT vec_id, v, max_abs,
             list_transform(v, x -> CASE WHEN max_abs > 0.0
                 THEN CAST(floor(x / max_abs * 127.0 + 0.5) AS INT)
                 ELSE 0 END) AS q
      FROM m)
    SELECT vec_id,
           CAST(len(v) AS INT) AS n_dims,
           floor(max_abs * 1000000.0 + 0.5) / 1000000.0 AS scale,
           floor(list_sum(list_transform(list_zip(v, q),
                 p -> abs(p[1] - CAST(p[2] AS DOUBLE) * max_abs / 127.0)))
                 / len(v) * 100000000.0 + 0.5) / 100000000.0
             AS mean_abs_err,
           CAST(list_max(q) AS INT) AS max_code
    FROM qz
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 embedding quantization (similarity/quantize.py):
    per-vector symmetric codes — 4x less storage and shuffle for every
    downstream similarity join. Pure codegen'd array lambdas (no UDF,
    no shuffle); codes, scale, and reconstruction error are exact IEEE
    arithmetic, so the full pipeline hash-matches the DuckDB oracle."""
    from etl_pyspark_spark.similarity.quantize import dequantize, quantize_int8

    emb = read_table(spark, sf_dir, "embeddings")
    qd = quantize_int8(emb)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    err = F.zip_with(
        v,
        dequantize(F.col("q"), F.col("max_abs")),
        lambda a, b: F.abs(a - b),
    )
    sum_err = F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x)
    return qd.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        pround(F.col("max_abs"), 6).alias("scale"),
        pround(sum_err / F.size("embedding"), 8).alias("mean_abs_err"),
        F.array_max("q").alias("max_code"),
    )


def _quantized_rerank_oracle(k: int, expand: int, n_queries: int) -> str:
    from etl_pyspark_spark.similarity.cosine import sql_cosine

    cos = sql_cosine("qe.embedding", "ce.embedding")
    return f"""
    WITH codes AS (
      SELECT vec_id,
             list_transform(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               x -> CASE WHEN list_max(list_transform(embedding,
                              y -> abs(CAST(y AS DOUBLE)))) > 0.0
                    THEN CAST(floor(x / list_max(list_transform(embedding,
                              y -> abs(CAST(y AS DOUBLE)))) * 127.0 + 0.5)
                         AS INT)
                    ELSE 0 END) AS q
      FROM embeddings),
    norms AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> CAST(x * x AS BIGINT)))
                  AS BIGINT) AS qq
      FROM codes),
    coarse AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CASE WHEN a.qq > 0 AND b.qq > 0 THEN
               CAST(list_sum(list_transform(list_zip(a.q, b.q),
                    p -> CAST(p[1] * p[2] AS BIGINT))) AS DOUBLE)
               / (sqrt(CAST(a.qq AS DOUBLE)) * sqrt(CAST(b.qq AS DOUBLE)))
             END AS qcos
      FROM norms a JOIN norms b
        ON a.vec_id < {n_queries} AND b.vec_id <> a.vec_id),
    cand AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY qcos DESC, neighbor_id ASC) AS crk
      FROM coarse WHERE qcos IS NOT NULL),
    rerank AS (
      SELECT c.query_id, c.neighbor_id,
             floor(({cos}) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ce ON ce.vec_id = c.neighbor_id
      WHERE c.crk <= {expand})
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
    FROM rerank
    QUALIFY rk <= {k}
    """


@query(
    "similarity_quantized_rerank",
    oracle=_quantized_rerank_oracle(k=10, expand=30, n_queries=8),
)
def q_similarity_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN (similarity/quantize.py): int8 coarse scoring over
    broadcast query codes (4x fewer scan bytes than float32 brute
    force, no corpus shuffle), top-30 candidates per query, then exact
    cosine re-rank of only those candidates to top-10. Deterministic
    integer/IEEE arithmetic end-to-end, so even the approximation
    hash-matches the DuckDB oracle."""
    from etl_pyspark_spark.similarity.quantize import quantized_rerank_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return quantized_rerank_topk(
        emb, emb.where(F.col("vec_id") < 8), k=10, expand=30
    )


# ---------------------------------------------------------------------------
# Flagship LLM-data pipeline: quality gate -> exact dedup -> near dedup,
# composed as ONE Spark DAG (the production shape: cheap narrow filters
# first, the expensive near-dedup only over survivors).
# ---------------------------------------------------------------------------


def _sql_quality_inline(col: str) -> str:
    """DuckDB quality-score expression (twin of text.quality_score,
    same term grouping as the text_quality oracle)."""
    from etl_pyspark_spark.functions.compat import sql_pround
    from etl_pyspark_spark.functions.text import LANG_STOPWORDS

    n_chars = f"CAST(length({col}) AS DOUBLE)"
    n_words = f"CAST(len({_WS_TOKENS_SQL.format(col=col)}) AS DOUBLE)"
    n_stop = (
        f"CAST({_STOP_HITS_SQL.format(col=col, stops=_sql_str_list(LANG_STOPWORDS['en']))}"
        " AS DOUBLE)"
    )
    n_punct = (
        f"CAST(length(regexp_replace({col}, '[A-Za-z0-9 ]', '', 'g'))"
        " AS DOUBLE)"
    )
    raw = (
        f"0.3 * least({n_chars} / 400.0, 1.0)"
        f" + 0.3 * least({n_words} / 60.0, 1.0)"
        f" + 0.3 * least((CASE WHEN {n_words} > 0 THEN {n_stop} / {n_words}"
        f" ELSE 0.0 END) * 8.0, 1.0)"
        f" + 0.1 * (1.0 - CASE WHEN {n_chars} > 0 THEN {n_punct} / {n_chars}"
        f" ELSE 0.0 END)"
    )
    return sql_pround(raw)


def _sql_lang_inline(col: str) -> str:
    """DuckDB language-vote expression (twin of text.language_id; tie
    order en > de > es > fr, all-zero -> 'und')."""
    from etl_pyspark_spark.functions.text import LANG_STOPWORDS

    sc = {
        lang: _STOP_HITS_SQL.format(col=col, stops=_sql_str_list(words))
        for lang, words in LANG_STOPWORDS.items()
    }
    top = f"greatest({', '.join(sc.values())})"
    whens = " ".join(
        f"WHEN {expr} = {top} AND {expr} > 0 THEN '{lang}'"
        for lang, expr in sc.items()
    )
    return f"CASE {whens} ELSE 'und' END"


def _corpus_prep_oracle() -> str:
    from etl_pyspark_spark.dedup.minhash import (
        sql_minhash_pairs,
        sql_shingles_cte,
    )

    return f"""
    WITH enriched AS (
      SELECT doc_id, text,
             {_sql_lang_inline('text')} AS lang_pred,
             {_sql_quality_inline('text')} AS quality,
             ('0x' || substr(md5(regexp_replace(lower(trim(text)),
                                                ' +', ' ', 'g')),
                             1, 15))::BIGINT AS fingerprint,
             len({_WS_TOKENS_SQL.format(col='text')}) AS n_words,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
               AS n_bpe_tokens
      FROM documents),
    gated AS (SELECT * FROM enriched
              WHERE quality >= 0.4 AND lang_pred <> 'und'),
    kept AS (SELECT * FROM gated
             QUALIFY row_number() OVER (PARTITION BY fingerprint
                                        ORDER BY doc_id) = 1),
    {sql_shingles_cte(table='kept')},
    {sql_minhash_pairs(final_name='pairs')}
    SELECT doc_id, lang_pred, quality, n_words, n_bpe_tokens
    FROM kept
    WHERE doc_id NOT IN (SELECT doc_id_b FROM pairs)
    """


def _canonical_oracle() -> str:
    from etl_pyspark_spark.dedup.components import sql_components_over_pairs
    from etl_pyspark_spark.dedup.minhash import sql_minhash_pairs, sql_shingles_cte

    return (
        "WITH RECURSIVE "
        + sql_shingles_cte()
        + ", "
        + sql_minhash_pairs(final_name="pairs")
        + ", "
        + sql_components_over_pairs("pairs", final_name="comp")
        + f""",
    scored AS (SELECT doc_id, {_sql_quality_inline('text')} AS quality
               FROM documents),
    ranked AS (SELECT c.component_id, s.doc_id,
                      row_number() OVER (PARTITION BY c.component_id
                                         ORDER BY s.quality DESC, s.doc_id)
                        AS rk
               FROM comp c JOIN scored s ON s.doc_id = c.doc_id)
    SELECT component_id,
           count(*) AS n_members,
           min(doc_id) FILTER (WHERE rk = 1) AS canonical_doc_id
    FROM ranked GROUP BY component_id
    """
    )


@query("dedup_canonical_selection", oracle=_canonical_oracle())
def q_dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: label duplicate clusters
    (MinHash-LSH pairs -> connected components), then keep each
    cluster's HIGHEST-quality member (doc_id tiebreak) instead of the
    arbitrary min-id — the policy step that decides which copy of a
    near-duplicate group enters the training set. One window over the
    component partitioning; the cluster table is tiny next to the
    corpus, so the quality join broadcasts."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.dedup.shared import dup_components
    from etl_pyspark_spark.functions import text as T

    docs = read_table(spark, sf_dir, "documents")
    comp = dup_components(spark, sf_dir)
    scored = docs.select(
        "doc_id", pround(T.quality_score(F.col("text")), 6).alias("quality")
    )
    members = comp.join(scored, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("rk", F.row_number().over(w))
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "canonical_doc_id"
            ),
        )
    )


def _media_prep_oracle() -> str:
    from etl_pyspark_spark.functions.compat import sql_pround

    return f"""
    WITH meta AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END AS media_type,
             strlen(text) AS n_bytes,
             md5(text) AS checksum,
             text
      FROM documents),
    gated AS (SELECT * FROM meta WHERE n_bytes >= 200),
    kept AS (SELECT * FROM gated
             QUALIFY row_number() OVER (PARTITION BY checksum
                                        ORDER BY doc_id) = 1),
    bytes AS (SELECT doc_id, unicode(substr(text, i, 1)) AS b
              FROM kept, UNNEST(generate_series(1, strlen(text))) AS g(i)),
    feats AS (SELECT doc_id,
                     {sql_pround('CAST(sum(b) AS DOUBLE) / count(*)', 6)}
                       AS mean_byte
              FROM bytes GROUP BY doc_id)
    SELECT k.doc_id, k.media_type, CAST(k.n_bytes AS INT) AS n_bytes,
           f.mean_byte
    FROM kept k JOIN feats f ON f.doc_id = k.doc_id
    """


@query("media_prep_pipeline", oracle=_media_prep_oracle())
def q_media_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship multimodal prep DAG (the media twin of
    corpus_prep_pipeline): metadata extraction (JVM expressions on the
    binary payload) -> size gate -> checksum exact dedup (one hash
    window) -> Arrow-batched feature extraction on the SURVIVORS only.
    Cheap-first ordering again: bytes cross into Python exactly once,
    for the gated deduped subset; at 100 TB of media that ordering is
    the difference between decoding everything and decoding what you
    keep."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.multimodal.assets import byte_features, with_payload

    docs = read_table(spark, sf_dir, "documents")
    assets = with_payload(docs)
    gated = assets.where(F.col("n_bytes") >= 200)
    w = Window.partitionBy("checksum").orderBy("doc_id")
    kept = (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    feats = byte_features(kept)
    return kept.select("doc_id", "media_type", "n_bytes").join(
        feats.select(
            "doc_id", pround(F.col("mean_byte"), 6).alias("mean_byte")
        ),
        "doc_id",
    )


def _stream_corpus_prep_oracle() -> str:
    return f"""
    WITH enriched AS (
      SELECT doc_id,
             {_sql_lang_inline('text')} AS lang_pred,
             {_sql_quality_inline('text')} AS quality,
             ('0x' || substr(md5(regexp_replace(lower(trim(text)),
                                                ' +', ' ', 'g')),
                             1, 15))::BIGINT AS fingerprint
      FROM documents)
    SELECT lang_pred, count(DISTINCT fingerprint) AS n_accepted
    FROM enriched
    WHERE quality >= 0.4 AND lang_pred <> 'und'
    GROUP BY lang_pred
    """


@query("stream_corpus_prep", oracle=_stream_corpus_prep_oracle())
def q_stream_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus prep (streaming/corpus.py): the flagship
    gate + exact dedup running as a stateful stream — score, gate,
    ``dropDuplicates`` keyed by fingerprint (16-byte state rows), then
    summarize accepted docs per predicted language. The summary is
    order-independent, so bounded replay hash-matches a plain SQL
    oracle even though micro-batch arrival order is not pinned."""
    from etl_pyspark_spark.streaming.corpus import incremental_corpus_prep

    return incremental_corpus_prep(spark, sf_dir)


@query("corpus_prep_pipeline", oracle=_corpus_prep_oracle())
def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship training-data prep pipeline as ONE Spark DAG:
    language-ID + quality scoring (narrow codegen'd expressions) gate
    the corpus FIRST, exact fingerprint dedup keeps one doc per
    normalized text (single hash shuffle), and MinHash-LSH near-dedup
    runs only over those survivors, dropping the higher doc_id of each
    verified pair (Jaccard >= 0.5). Cheap-first ordering is the 100 TB
    shape: the expensive shingle/signature stages see only the gated,
    exact-deduped fraction of the corpus. Deterministic md5/LCG/IEEE
    arithmetic end-to-end -> the whole composition hash-matches one
    DuckDB oracle."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.dedup.minhash import verified_near_duplicates
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    # the scoring projection is CPU-bound per row; fan the single-row-
    # group fixture scan out to all cores (no-op on a many-file lake),
    # and tokenize ONCE into projected arrays — every signal derives
    # from the same two token columns instead of re-splitting the text
    # (language_id alone otherwise re-splits 4x per row)
    docs = spread(read_table(spark, sf_dir, "documents"))
    c = F.col("text")
    staged = docs.select(
        "doc_id",
        "text",
        T.ws_tokens(c).alias("__toks"),
        T.ws_tokens(F.lower(c)).alias("__ltoks"),
    )
    enriched = staged.select(
        "doc_id",
        "text",
        T.language_id(c, ltoks=F.col("__ltoks")).alias("lang_pred"),
        pround(
            T.quality_score(c, toks=F.col("__toks"), ltoks=F.col("__ltoks")),
            6,
        ).alias("quality"),
        T.doc_fingerprint(c).alias("fingerprint"),
        F.size("__toks").alias("n_words"),
        T.bpe_token_count(c).alias("n_bpe_tokens"),
    )
    gated = enriched.where(
        (F.col("quality") >= 0.4) & (F.col("lang_pred") != "und")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    # cache at the pipeline boundary: the exact-deduped survivor set
    # feeds BOTH the LSH branch and the final anti-join, and its
    # lineage (scoring projection + fingerprint window) is the most
    # expensive recompute in the DAG. Size is the post-gate corpus
    # slice — the thing you'd checkpoint to the lake at 100 TB.
    kept = (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .transform(scoped_persist)
    )
    near_drops = (
        verified_near_duplicates(kept)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
    )
    return kept.join(near_drops, "doc_id", "left_anti").select(
        "doc_id", "lang_pred", "quality", "n_words", "n_bpe_tokens"
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t AS term
      FROM documents,
           UNNEST(list_filter(string_split(text, ' '), x -> x <> ''))
             AS u(t)),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             floor((CAST(tf.tf AS DOUBLE)
                    * ((n.n_docs - df.df + 0.5) / (df.df + 0.5)))
                   * 1000000.0 + 0.5) / 1000000.0 AS score
      FROM tf JOIN df USING (term), n)
    SELECT doc_id, term, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term ASC) AS rk
    FROM scored
    QUALIFY rk <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: TF x rational IDF
    ``(N - df + 0.5) / (df + 0.5)`` (the BM25 idf core without the
    log — pure IEEE division, so scores are bit-identical
    cross-engine), top-3 terms per doc. Shape at scale: explode ->
    (doc, term) count, term document-frequency as a re-aggregate of
    that SAME table (no second corpus scan), tiny df/N sides broadcast
    back, one window for the per-doc rank."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = pround(
        F.col("tf").cast("double")
        * (
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", score.alias("score"))
        .select("*", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 3)
    )


@query(
    "profile_table",
    oracle="""
    SELECT 'o_orderkey' AS column_name,
           count(*) FILTER (o_orderkey IS NULL) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           count(*) FILTER (o_custkey IS NULL),
           count(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           count(*) FILTER (o_orderstatus IS NULL),
           count(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           count(*) FILTER (o_totalprice IS NULL),
           count(DISTINCT o_totalprice) FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           count(*) FILTER (o_orderdate IS NULL),
           count(DISTINCT o_orderdate) FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           count(*) FILTER (o_orderpriority IS NULL),
           count(DISTINCT o_orderpriority) FROM orders
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: per-column null count + exact distinct
    count for every column of a table, in ONE pass. Spark plans the
    N-distinct aggregate with a single Expand(N) over the scan — one
    read of the table, not N — then unpivots the wide result row to
    (column, stats) long form. The scan-once property is what matters
    at 100 TB; swap count_distinct for approx_count_distinct when the
    exact cardinality isn't worth the expand."""
    o = read_table(spark, sf_dir, "orders")
    cols = o.columns
    wide = o.agg(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
            for c in cols
        ],
        *[F.count_distinct(F.col(c)).alias(f"dist_{c}") for c in cols],
    )
    per_col = [
        wide.select(
            F.lit(c).alias("column_name"),
            F.col(f"nulls_{c}").alias("n_nulls"),
            F.col(f"dist_{c}").alias("n_distinct"),
        )
        for c in cols
    ]
    out = per_col[0]
    for p in per_col[1:]:
        out = out.unionByName(p)
    return out


@query(
    "rebalance_hint_write",
    oracle=f"""
    SELECT event_type, count(*) AS n_events,
           {_dec_sum_sql("value", "sum_value")}
    FROM events GROUP BY event_type
    """,
)
def q_rebalance_hint_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE rebalance write: ``hint("rebalance")`` lets the adaptive
    engine pick output partitioning from RUNTIME sizes — splitting
    skewed partitions and merging tiny ones — instead of a hand-tuned
    ``repartition(N)`` that is wrong at every other scale. The written
    lake files come out uniformly sized whether the input is 60 MB or
    60 TB; the read-back aggregate proves losslessness."""
    dst = f"{_SCRATCH}/rebalance_write"
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.col("value").cast("double").alias("value"),
    )
    ev.hint("rebalance").write.mode("overwrite").parquet(dst)
    return (
        spark.read.parquet(dst)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value"), "sum_value"),
        )
    )


def _docgen_oracle() -> str:
    from etl_pyspark_spark.sources.pyds import sql_docgen_cte

    return f"""
    WITH {sql_docgen_cte(2000)}
    SELECT split_part(text, ' ', 1) AS first_word,
           count(*) AS n_docs,
           count(DISTINCT text) AS n_unique_texts
    FROM gen GROUP BY 1
    """


@query("python_datasource_docgen", oracle=_docgen_oracle())
def q_python_datasource_docgen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 DataSource API,
    sources/pyds.py): the engine-native replacement for the
    reference's HTTP-fetch + file-slicing connector (SURVEY §2.1
    S1/S3) — the source declares a schema and a partition plan and
    each task materializes only its own split, driver-free. The
    deterministic LCG content makes even the connector path
    value-hash-checkable against a SQL replay."""
    from etl_pyspark_spark.sources.pyds import register_docgen

    if not register_docgen(spark):  # pragma: no cover - Spark 4 here
        raise RuntimeError("Python DataSource API unavailable")
    df = (
        spark.read.format("docgen")
        .option("n", 2000)
        .option("numpartitions", 8)
        .load()
    )
    return df.groupBy(
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("first_word")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("text")).alias("n_unique_texts"),
    )


@query(
    "zorder_layout",
    oracle=f"""
    SELECT count(*) AS n_lines,
           {_dec_sum_sql("l_extendedprice", "total_price")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_partkey BETWEEN 100 AND 600
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered (Morton-curve) layout scan: lineitem rewritten (once,
    untimed — ensure_zorder_lineitem) clustered on the interleaved
    bits of (ship-day, partkey-bucket), so each parquet file owns a
    compact 2-D region — footer min/max stays tight on BOTH columns
    (pinned by tests/test_plans.py reading the footers), and a
    predicate on either dimension skips most files. The multi-column
    complement to range_clustered_layout."""
    dst = ensure_zorder_lineitem(spark, sf_dir)
    back = spark.read.parquet(dst)
    return back.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        & F.col("l_partkey").between(100, 600)
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        dec_sum(F.col("l_extendedprice"), "total_price"),
    )


@query(
    "range_clustered_layout",
    oracle=f"""
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(month(l_shipdate) AS INT) AS ship_month,
           count(*) AS n_lines,
           {_dec_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY 1, 2
    """,
)
def q_range_clustered_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered layout (sources/io.write_range_clustered):
    lineitem rewritten with repartitionByRange(l_shipdate) +
    sortWithinPartitions, so each parquet file owns a disjoint
    l_shipdate interval (pinned in tests/test_plans.py by reading the
    footers). The three-month scan below then skips all but the
    matching files via min/max statistics — the pay-once layout that
    makes every later time-windowed query read ~1/N of the data."""
    dst = ensure_range_clustered_lineitem(spark, sf_dir)
    back = spark.read.parquet(dst)
    return (
        back.where(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-06-01").cast("timestamp"))
        )
        .groupBy(
            F.year("l_shipdate").cast("int").alias("ship_year"),
            F.month("l_shipdate").cast("int").alias("ship_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
    )



