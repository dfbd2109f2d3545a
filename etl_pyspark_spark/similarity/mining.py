"""Hard-negative mining over embeddings — exact, block-partitioned.

The standard contrastive-training data op (the reference — a linear
taxi ETL, nyc_taxi_etl.py:50-103 — has no vector surface at all;
SURVEY.md §2.9 growth plan): for every anchor vector, find the single
most-similar vector carrying a DIFFERENT label. Those "hardest
negatives" are what contrastive/triplet fine-tuning mines from a
corpus before each epoch; random negatives are too easy and stall the
loss (Robinson et al., ICLR'21 "Contrastive Learning with Hard
Negative Samples").

Physical shape — the same block-partitioned BLAS as
:mod:`similarity.blockpairs`, with the reduction FUSED into the GEMM
tasks: each (block_i, block_j) rectangle emits at most ONE candidate
per anchor (its within-rectangle argmax over different-label columns),
so the shuffle after the GEMM stage carries O(n * num_blocks) rows —
never the O(n^2) pair matrix. A final ``max_by`` per anchor merges the
per-rectangle winners. Per-task memory is two blocks of vectors plus
one (rows x cols) float64 sims matrix, constant by block sizing; at
100 TB you raise ``num_blocks`` so blocks stay ~4096 rows and the
shuffle stays linear in the corpus.

Determinism: cosines are pround(6)-floored BEFORE ranking and the
argmax key is the exact-in-int64 composite ``round(cos*1e6)*2^42 -
cand_id`` (cos DESC, id ASC — the house tiebreak; 0 <= id < 2^42
guarded), so BLAS summation order cannot flip a winner and the DuckDB
oracle replays the selection bit-exactly. Zero-norm vectors take
cosine 0.0 on both sides (engine: guarded norm; oracle: COALESCE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pyspark_spark.similarity.blockpairs import _BLOCK_ROWS
from etl_pyspark_spark.sources.io import literal_frame

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("anchor_id", T.LongType()),
        T.StructField("anchor_label", T.LongType()),
        T.StructField("comp", T.LongType()),
    ]
)


def hard_negative_mine(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    num_blocks: int | None = None,
) -> DataFrame:
    """(vec_id, label, hard_neg_id, cos_sim): per anchor, the highest-
    cosine vector with a different label; ties break to the smaller
    candidate id. Anchors with no different-label vector in the corpus
    are absent (matches the oracle's rank-over-empty-set)."""
    import math

    import numpy as np

    if num_blocks is None:
        n = emb.count()
        size_blocks = -(-n // _BLOCK_ROWS)
        p = emb.sparkSession.sparkContext.defaultParallelism
        par_blocks = math.ceil((math.sqrt(8 * p + 1) - 1) / 2)
        num_blocks = max(1, size_blocks, par_blocks)
    spark = emb.sparkSession
    blocked = emb.select(
        F.col(id_col).cast("bigint").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.col(label_col).cast("bigint").alias("lab"),
        # pmod, not %: Spark's remainder is negative for negative ids,
        # and a negative blk matches no (bi, bj) pair row — the row
        # would vanish BEFORE the in-task [0, 2^42) guard could raise.
        # pmod keeps every row flowing into a task where the guard
        # upholds the raise-over-silent-degrade contract.
        F.pmod(F.col(id_col), F.lit(num_blocks)).cast("int").alias("blk"),
    )
    pairs = literal_frame(
        spark,
        [(i, j) for i in range(num_blocks) for j in range(num_blocks) if i <= j],
        "bi int, bj int",
    ).withColumn("pair_id", F.col("bi") * num_blocks + F.col("bj"))
    left = blocked.join(F.broadcast(pairs), blocked.blk == pairs.bi).select(
        "pair_id", F.lit("L").alias("role"), "vid", "vec", "lab", "bi", "bj"
    )
    # R-side copies only for OFF-diagonal rectangles: a diagonal
    # rectangle (bi == bj) uses its L rows as both sides in-task, so
    # shipping an R copy would shuffle every block twice for nothing
    offdiag = pairs.where(F.col("bi") < F.col("bj"))
    right = blocked.join(F.broadcast(offdiag), blocked.blk == offdiag.bj).select(
        "pair_id", F.lit("R").alias("role"), "vid", "vec", "lab", "bi", "bj"
    )
    both = left.unionByName(right)

    def _best(anchors_ids, anchors_lab, sims, cand_ids, cand_lab, self_mask):
        """Per-anchor argmax over different-label columns; yields the
        (anchor rows, winning col) index pairs that have a candidate."""
        import numpy as np

        imin = -(1 << 62)  # below every real key; negation-safe
        comp = (
            np.floor(sims * 1e6 + 0.5).astype(np.int64) * (1 << 42)
            - cand_ids[None, :]
        )
        comp[anchors_lab[:, None] == cand_lab[None, :]] = imin
        if self_mask:
            eq = anchors_ids[:, None] == cand_ids[None, :]
            comp[eq] = imin
        best = comp.argmax(axis=1)
        rows = np.arange(len(anchors_ids))
        ok = comp[rows, best] > imin
        return rows[ok], best[ok], comp[rows[ok], best[ok]]

    def gemm(pdf):
        import numpy as np
        import pandas as pd

        same_block = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        lpdf = pdf[pdf["role"] == "L"]
        rpdf = lpdf if same_block else pdf[pdf["role"] == "R"]
        cols = ["anchor_id", "anchor_label", "comp"]
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(columns=cols)
        lx = np.stack(lpdf["vec"].values)
        rx = np.stack(rpdf["vec"].values)
        lids = lpdf["vid"].to_numpy()
        rids = rpdf["vid"].to_numpy()
        llab = lpdf["lab"].to_numpy()
        rlab = rpdf["lab"].to_numpy()
        # 0 <= id < 2^42 keeps the composite key exact in int64 AND
        # decodable by the driver-side pmod — same guard as
        # similarity_mutual_knn / ivf_topk
        if (
            min(lids.min(), rids.min()) < 0
            or max(lids.max(), rids.max()) >= 2**42
        ):
            raise ValueError(
                "hard_negative_mine: vec_id outside [0, 2^42) breaks "
                "the exact int64 composite rank key; remap ids first"
            )
        ln = np.sqrt((lx * lx).sum(axis=1))
        rn = np.sqrt((rx * rx).sum(axis=1))
        ln[ln == 0.0] = 1.0  # zero-norm -> cosine 0.0 (oracle COALESCE)
        rn[rn == 0.0] = 1.0
        sims = (lx @ rx.T) / np.outer(ln, rn)
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        frames = []
        ra, ca, comp_a = _best(lids, llab, sims, rids, rlab, same_block)
        frames.append(
            pd.DataFrame(
                {
                    "anchor_id": lids[ra],
                    "anchor_label": llab[ra],
                    "comp": comp_a.astype("int64"),
                }
            )
        )
        if not same_block:  # R-side anchors against L-side candidates
            rb, cb, comp_b = _best(rids, rlab, sims.T, lids, llab, False)
            frames.append(
                pd.DataFrame(
                    {
                        "anchor_id": rids[rb],
                        "anchor_label": rlab[rb],
                        "comp": comp_b.astype("int64"),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    cand = both.groupBy("pair_id").applyInPandas(gemm, schema=_CAND_SCHEMA)
    # merge per-rectangle winners with ONE hash-aggregable max: the
    # composite key losslessly encodes (cos DESC, id ASC), so the
    # winner decodes back out of the max — id via pmod (0 <= id <
    # 2^42, guarded in-task), the pround(6) cosine via an EXACT
    # power-of-two double division (rc*2^42 has only ~20 significant
    # mantissa bits — the trailing 42 are zeros — so the double holds
    # it exactly even though its magnitude exceeds 2^53) then the same
    # /1e6 the oracle's pround performs on its side
    _b = 1 << 42
    best = cand.groupBy("anchor_id", "anchor_label").agg(
        F.max("comp").alias("comp")
    )
    hid = F.pmod(-F.col("comp"), F.lit(_b))
    rc = ((F.col("comp") + hid) / F.lit(float(_b))).cast("bigint")
    return best.select(
        F.col("anchor_id").alias("vec_id"),
        F.col("anchor_label").alias("label"),
        hid.alias("hard_neg_id"),
        (rc.cast("double") / F.lit(1e6)).alias("cos_sim"),
    )


def hard_negative_mine_ann(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k_cells: int | None = None,
    nprobe: int = 24,
    cand_k: int = 4,
    seed: int = 13,
) -> DataFrame:
    """Approximate hard-negative mining — the scale twin of
    :func:`hard_negative_mine` (same output contract: one row per
    anchor, its highest-cosine DIFFERENT-label neighbor, house
    tiebreak cos DESC / id ASC via the shared int64 composite key).

    Candidates come from the IVF coarse quantizer
    (:func:`etl_pyspark_spark.similarity.ivf.ivf_topk` with
    ``label_col`` masking same-label candidates INSIDE the per-cell
    GEMM, so every emitted slot is a valid negative): the corpus
    shuffles ONCE on cell id, each anchor probes its ``nprobe``
    nearest cells, per-cell GEMMs emit per-anchor top-``cand_k``
    different-label candidates in-task, and symmetric candidate
    generation lets either endpoint's probes rescue a pair the other
    missed. Compute is O(n * probed-fraction * n / k_cells) instead
    of the exact miner's n^2 — at 100 TB this is the declared path
    (SURVEY §4.3 rule 5: O(n^2) candidate generation goes through
    bucketing above a size threshold); the exact block-GEMM stays as
    the recall-reference twin, the same split as
    similarity_mutual_knn / similarity_mutual_knn_ivf.

    At fixture scale the defaults probe every cell, so the result
    EQUALS the exact miner's (tests/test_round11.py pins recall);
    at 200k vectors the probed fraction is ~11% and falls with n.
    """
    n = emb.count()
    if k_cells is None:
        # same sizing as the mutual-kNN twin: coarse cells + many
        # probes, because top-1 misses are unrecoverable downstream
        k_cells = max(16, min(512, int(n**0.5) // 2))
    from etl_pyspark_spark.similarity.ivf import ivf_topk

    cands = ivf_topk(
        emb,
        emb,
        k_cells=k_cells,
        nprobe=nprobe,
        topk=cand_k,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        symmetric_candidates=True,
        label_col=label_col,
    )
    best = cands.where(F.col("rk") == 1)
    labels = emb.select(
        F.col(id_col).cast("bigint").alias("query_id"),
        F.col(label_col).cast("bigint").alias("label"),
    )
    return best.join(labels, "query_id").select(
        F.col("query_id").alias("vec_id"),
        "label",
        F.col("neighbor_id").alias("hard_neg_id"),
        F.col("cos_sim"),
    )
