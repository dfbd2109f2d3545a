"""SemDeDup-style semantic deduplication (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication").

The two halves both existed separately in this engine and are
composed here exactly as the paper prescribes:

1. CLUSTER: every embedding is assigned to its nearest centroid by
   cosine (the k-means assignment step; the registry pins FIXED
   centroids — the first 8 vectors — so the whole pipeline stays
   oracle-checkable, the engine's established trick from
   ``embedding_assign_nearest_centroid``);
2. PRUNE WITHIN CLUSTERS ONLY: near-duplicate pairs are generated by
   the block-partitioned BLAS GEMM (similarity/blockpairs.py) scoped
   with ``cluster_col`` — candidate cost drops from O(n²) to
   Σ|cluster|², the entire point of semantic dedup at 100 TB;
3. CANONICAL SELECTION: within each near-dup pair the LOWER vec_id
   survives; a vector is a semantic duplicate iff some lower-id
   vector in ITS cluster is within the cosine threshold (ids are
   deterministic; the paper keeps a random exemplar — any fixed rule
   gives the paper's data reduction).

Plan shape: one broadcast of the centroid set (8 rows) against the
corpus scan, one window shuffle for the argmax, then the blocked GEMM
(each vector replicated ~num_blocks+1 times within its cluster, GEMM
per (cluster, block-pair) group, constant per-task memory), one
semi-join to flag survivors. No cross join, no all-pairs — candidate
generation is provably intra-cluster."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pyspark_spark.functions.compat import pround
from etl_pyspark_spark.similarity.blockpairs import block_cosine_pairs
from etl_pyspark_spark.similarity.cosine import as_double, cosine


#: max centroid count for the inline-literal argmax path; above it the
#: crossJoin + window shape takes over (a 100k-centroid codebook does
#: not belong in a plan literal). 1024 centroids x 64 dims is ~0.5 MB
#: of literals — well under any plan-size concern.
_CENTROID_INLINE_MAX = 1024


def assign_nearest_centroid(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, centroid_id, cos_sim, *extra_cols): nearest fixed centroid
    by cosine, ties broken toward the lowest centroid id.

    r12 shape: the centroid set is k vectors BY CONTRACT of every
    caller (a fitted/fixed codebook, not data-scale), so it is
    collected once (bounded driver traffic, same rule as the quantile
    operator's 1-row collects) and inlined as a literal array — the
    argmax is then a pure per-row ``array_max`` over (sim, -id)
    structs: ZERO exchanges and no k-fold row expansion, where the old
    crossJoin(broadcast) + row_number window shuffled and sorted k·n
    rows. Tie/NULL semantics are preserved exactly: struct ordering
    puts NULL sims below any value (the window's DESC NULLS LAST) and
    the negated id breaks ties toward the LOWEST centroid id.
    ``extra_cols`` passes input columns through (a caller that needs
    the vector alongside the label skips a join back). Past
    ``_CENTROID_INLINE_MAX`` centroids, for an empty codebook and for
    non-integral centroid ids the crossJoin + window shape takes over
    unchanged."""
    # ONE bounded action decides the gate AND fetches the codebook:
    # collect at most MAX+1 centroids — an overflowing row means "too
    # many to inline" and the window arm takes over. So does an empty
    # codebook (an array of zero structs has no type) and a
    # non-integral id, which the inline arm cannot negate.
    cid_type = dict(centroids.dtypes)[id_col]
    rows = []
    if cid_type in ("tinyint", "smallint", "int", "bigint"):
        rows = (
            centroids.select(
                F.col(id_col).alias("_cid"),
                as_double(F.col(vec_col)).alias("_cv"),
            )
            .limit(_CENTROID_INLINE_MAX + 1)
            .collect()
        )
    if 0 < len(rows) <= _CENTROID_INLINE_MAX:
        rows = sorted(rows, key=lambda r: r["_cid"])
        # UNROLLED per-centroid sim columns (k is known at plan time),
        # not a transform() over an array of centroids: an outer HOF
        # lambda would re-enter interpreted evaluation per element,
        # measurably slower than k plain expression columns.
        vv = as_double(F.col(vec_col))
        # Centroid norms are computed DRIVER-side (same IEEE doubles,
        # same left-to-right sum, same sqrt — bit-identical to the JVM
        # expression they replace) and the row norm ONCE per row, so
        # each centroid costs one dot product instead of a full
        # cosine: ~2.5x less per-row arithmetic than the old
        # per-(row, centroid) cosine AND a 3x smaller expression tree
        # than a fully inlined cosine per centroid. One lit() per
        # centroid vector keeps plan construction O(k).
        import math as _math

        nv = F.sqrt(
            F.aggregate(
                F.zip_with(vv, vv, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

        def _dot(r):
            cv = [float(x) for x in r["_cv"]]
            return F.aggregate(
                F.zip_with(vv, F.lit(cv), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        def _norm(r):
            acc = 0.0
            for x in r["_cv"]:
                acc += float(x) * float(x)
            return _math.sqrt(acc)

        sims = F.array(
            *[
                F.struct(
                    pround(
                        F.when(
                            (F.col("_nv") > 0) & (F.lit(_norm(r)) > 0),
                            _dot(r) / (F.col("_nv") * F.lit(_norm(r))),
                        ),
                        6,
                    ).alias("s"),
                    F.lit(-int(r["_cid"])).alias("nid"),
                )
                for r in rows
            ]
        )
        return (
            emb.withColumn("_nv", nv)
            .withColumn("_best", F.array_max(sims))
            .select(
                F.col(id_col),
                (-F.col("_best.nid")).cast(cid_type).alias(centroid_id_col),
                F.col("_best.s").alias("cos_sim"),
                *extra_cols,
            )
        )
    v = emb.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_vv"), *extra_cols
    )
    c = centroids.select(
        F.col(id_col).alias(centroid_id_col),
        as_double(F.col(vec_col)).alias("_cv"),
    )
    sim = pround(cosine(F.col("_vv"), F.col("_cv")), 6)
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos_sim").desc(), F.col(centroid_id_col).asc()
    )
    return (
        v.crossJoin(F.broadcast(c))
        .select(id_col, centroid_id_col, sim.alias("cos_sim"), *extra_cols)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id, is_dup): SemDeDup verdict per vector — dup
    iff a lower-id vector in the same cluster has cosine ≥ threshold."""
    # the assignment is a pure projection over the embedding scan (no
    # exchange), so the vector rides along instead of joining back
    clustered = assign_nearest_centroid(
        emb, centroids, id_col=id_col, vec_col=vec_col,
        extra_cols=(vec_col,),
    ).select(id_col, "centroid_id", vec_col)
    assigned = clustered.select(id_col, "centroid_id")
    pairs = block_cosine_pairs(
        clustered,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        cluster_col="centroid_id",
    )
    # the higher id of every qualifying pair is the duplicate
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        assigned.join(
            dups.withColumn("_d", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            "centroid_id",
            F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup"),
        )
    )
