"""Product quantization (PQ) approximate nearest-neighbor — the
memory-compression scale path next to IVF (cells) and hyperplane LSH
(bits).

PQ attacks a different bottleneck than IVF: vector BYTES. Splitting
each (L2-normalized) vector into ``m`` subvectors and snapping each to
one of ``k`` learned codes stores a 64-float embedding as ``m`` bytes
(here 8 codes of 4 bits' worth each, 32x smaller), and scoring a query
against the whole compressed corpus becomes table lookups: per query,
one tiny LUT of query-subvector x codebook dot products, then
``score ~= sum_j LUT[j][code_j]`` — no float vector is ever touched
during the scan. Production stores combine both (IVF-PQ: cells prune
WHICH vectors, PQ compresses WHAT remains); the pieces compose here
the same way.

Codebooks are trained FAISS-style like the IVF quantizer: a bounded
deterministic hash-top-k sample, per-subspace numpy Lloyd with a fixed
seed (m independent small k-means, one corpus pass total). Encoding is
one Arrow-batched pandas-UDF GEMM per subspace; ADC scoring runs in
``mapInPandas`` over the compressed corpus with the (tiny) query set
in the closure; survivors are exactly reranked on their true vectors —
so precision of the final top-k is exact and only recall depends on
the quantization (bounded by tests/test_sketches.py).

Scale shape: the corpus is scanned once as codes (m bytes/vector), the
only shuffle is the final per-query top-k window over
candidates x queries rows, and rerank joins true vectors for
candidates only. Estimator-specific output -> rows-only registry
check, recall-tested against exact brute force.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pyspark_spark.sources.io import literal_frame

_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ]
)

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("approx_sim", T.DoubleType()),
    ]
)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    topk: int = 10,
    rerank: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 29,
) -> DataFrame:
    """Approximate per-query cosine top-k via PQ codes + exact rerank."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    vecs = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )

    train_rows = max(2048, 64 * k_codes)
    sample_rows = [
        r["vec"]
        for r in vecs.orderBy(F.xxhash64(F.col("vid")))
        .limit(train_rows)
        .collect()
    ]
    if not sample_rows:
        return literal_frame(corpus.sparkSession, [], _TOPK_SCHEMA)
    sample = np.stack(sample_rows)
    sample = sample / (
        np.sqrt((sample * sample).sum(axis=1, keepdims=True)) + 1e-12
    )
    dim = sample.shape[1]
    if dim % m != 0:  # fall back to fewer, even subspaces
        m = max(1, [d for d in range(m, 0, -1) if dim % d == 0][0])
    dsub = dim // m
    k_codes = min(k_codes, len(sample))
    rng = np.random.default_rng(seed)
    codebooks = np.empty((m, k_codes, dsub))
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        cb = sub[rng.choice(len(sub), size=k_codes, replace=False)].copy()
        for _ in range(8):  # Lloyd per subspace, on the sample only
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            lab = d2.argmin(axis=1)
            for c in range(k_codes):
                msk = lab == c
                if msk.any():
                    cb[c] = sub[msk].mean(axis=0)
        codebooks[j] = cb

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vec):
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(vec.values)
        X = X / (np.sqrt((X * X).sum(axis=1, keepdims=True)) + 1e-12)
        codes = np.empty((len(X), m), dtype="int32")
        for j in range(m):
            sub = X[:, j * dsub : (j + 1) * dsub]
            cb = codebooks[j]
            # argmin ||s-c||^2 == argmax (2 s.c - |c|^2): GEMM per batch
            codes[:, j] = (
                2.0 * (sub @ cb.T) - (cb * cb).sum(axis=1)
            ).argmax(axis=1)
        return pd.Series([r.tolist() for r in codes])

    encoded = vecs.select("vid", encode("vec").alias("codes"))

    q_rows = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    if not q_rows:
        return literal_frame(corpus.sparkSession, [], _TOPK_SCHEMA)
    q_ids = np.array([r["query_id"] for r in q_rows])
    Q = np.stack([r["qv"] for r in q_rows])
    Q = Q / (np.sqrt((Q * Q).sum(axis=1, keepdims=True)) + 1e-12)
    # LUT[q, j, c] = <q_sub_j, codebook_j[c]>: all ADC state, built once
    luts = np.einsum(
        "qjd,jcd->qjc", Q.reshape(len(Q), m, dsub), codebooks
    )

    def adc_scan(batches):
        # per corpus batch: gather LUT entries by code — the float
        # vectors never appear; per-partition top-`rerank` per query
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.stack(pdf["codes"].values).astype("int64")  # [n, m]
            vids = pdf["vid"].values
            for qi in range(len(q_ids)):
                scores = luts[qi][np.arange(m)[None, :], C].sum(axis=1)
                take = min(rerank, len(scores))
                part = np.argpartition(-scores, take - 1)[:take]
                yield pd.DataFrame(
                    {
                        "query_id": q_ids[qi],
                        "neighbor_id": vids[part],
                        "approx_sim": scores[part],
                    }
                )

    candidates = encoded.mapInPandas(adc_scan, schema=_CAND_SCHEMA)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        candidates.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= rerank)
        .select("query_id", "neighbor_id")
    )
    # exact rerank on true vectors — precision is exact, PQ only
    # affected which candidates made the shortlist
    from etl_pyspark_spark.similarity.cosine import as_double, cosine

    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    cand_vec = shortlist.join(
        vecs.select(F.col("vid").alias("neighbor_id"), "vec"),
        "neighbor_id",
    ).join(F.broadcast(qdf), "query_id")
    from etl_pyspark_spark.functions.compat import pround

    scored = cand_vec.select(
        "query_id",
        "neighbor_id",
        pround(cosine(F.col("qv"), F.col("vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= topk)
        .drop("rk")
    )
