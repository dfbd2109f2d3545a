"""IVF (inverted-file) approximate nearest-neighbor search.

The second scale path next to hyperplane LSH (similarity/lsh.py),
matching how production vector stores shard: a coarse k-means
quantizer partitions the corpus into ``k`` cells; a query searches
only its ``nprobe`` nearest cells. Recall/cost is tuned by
``k`` x ``nprobe`` instead of bands x bits.

The quantizer is trained FAISS-style: a deterministic hash-top-k
sample of the corpus (bounded driver memory) fits a numpy Lloyd loop
with a fixed seed — deterministic within an engine run, but
estimator-specific, so the registry entry is a rows-only check;
tests/test_sketches.py bounds recall against the exact brute-force
result instead of a SQL oracle. Cell assignment is one Arrow-batched
pandas-UDF GEMM; cell search runs as one GEMM per (cell, query-batch)
via ``applyInPandas`` — the same vectorized pattern as
similarity/blockpairs.py.

Scale shape: corpus shuffles once on cell id (k cells ~ k partitions);
queries broadcast to their probed cells; no cross join, no driver
materialization of the corpus. At 100 TB you raise ``k`` so cells fit
executors (k ~= sqrt(n) is the classic rule) and store cell id as a
partition column so probes prune at the scan.
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


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_cells: int = 16,
    nprobe: int = 4,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
    symmetric_candidates: bool = False,
    label_col: str | None = None,
) -> DataFrame:
    """Approximate per-query top-k by cosine over probed IVF cells.

    The coarse quantizer is trained FAISS-style on a bounded sample,
    not the full corpus: a deterministic hash-top-k draw (global
    TakeOrderedAndProject — no full sort, no extra shuffle) feeds a
    driver-side numpy Lloyd loop, so quantizer training costs ONE
    corpus pass regardless of scale instead of ``maxIter`` full passes
    of an ML pipeline. Cell boundaries only gate which cells a query
    probes — nprobe covers boundary error (recall bounded by
    tests/test_sketches.py) — so sample-trained centroids lose nothing
    that matters. Assignment is one Arrow-batched pandas UDF GEMM.

    With ``label_col`` (a column present on BOTH corpus and queries),
    candidates sharing the query's label are masked INSIDE the
    per-cell GEMM — the hard-negative-mining contract (only
    different-label neighbors count), applied before the in-task
    top-k so every emitted slot is a valid negative rather than
    post-filtering away most of the top-k."""
    import pandas as pd
    import numpy as np

    from pyspark.sql.window import Window

    lab_cols = (
        [F.col(label_col).cast("bigint").alias("lab")] if label_col else []
    )
    vecs = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        *lab_cols,
    )

    # --- train the coarse quantizer on a deterministic sample ---
    train_rows = max(2048, 64 * k_cells)
    sample_rows = [
        r["vec"]
        for r in vecs.orderBy(F.xxhash64(F.col("vid")))
        .limit(train_rows)
        .collect()
    ]
    if not sample_rows:
        # empty corpus: no cells to probe, result is structurally empty
        return literal_frame(corpus.sparkSession, [], _TOPK_SCHEMA)
    sample = np.stack(sample_rows)
    # tiny corpora can have fewer rows than requested cells; clamp so
    # the no-replacement seed draw (and Lloyd) stay well-defined —
    # with n cells for n points IVF degrades to exact search, which is
    # the right behavior at that size
    k_cells = min(k_cells, len(sample))
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=k_cells, replace=False)]
    for _ in range(8):
        # Lloyd assignment as ONE GEMM: argmin ||x-c||^2 ==
        # argmax (2 x.c - |c|^2). The broadcast-difference form
        # ((sample[:,None,:]-centroids[None,:,:])**2) materializes a
        # (|sample| x k x dim) array — 2.1 GB at k=256/16k sample —
        # while the GEMM peaks at (|sample| x k) doubles (~34 MB)
        cn2_it = (centroids * centroids).sum(axis=1)
        labels = (2.0 * (sample @ centroids.T) - cn2_it).argmax(axis=1)
        for c in range(k_cells):
            m = labels == c
            if m.any():
                centroids[c] = sample[m].mean(axis=0)

    cn2 = (centroids * centroids).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def assign_cell(vec):
        if len(vec) == 0:
            return pd.Series([], dtype="int32")
        X = np.stack(vec.values)
        # argmin ||x-c||^2 == argmax (2 x.c - |c|^2): one GEMM per batch
        cell = (2.0 * (X @ centroids.T) - cn2).argmax(axis=1)
        return pd.Series(cell.astype("int32"))

    assigned = vecs.select(
        "vid", "vec", *(["lab"] if label_col else []),
        assign_cell("vec").alias("cell"),
    )
    q_rows = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        *lab_cols,
    )
    cnorm = np.sqrt((centroids * centroids).sum(axis=1))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_udf(qv):
        # one GEMM over the whole Arrow batch of queries (n x d @ d x k)
        # instead of a per-row Python call — ArrowEvalPython, not
        # BatchEvalPython (pinned by tests/test_plans.py)
        import pandas as pd

        if len(qv) == 0:
            return pd.Series([], dtype=object)
        Q = np.stack(qv.values)
        qn = np.sqrt((Q * Q).sum(axis=1))
        sims = (Q @ centroids.T) / (np.outer(qn, cnorm) + 1e-12)
        idx = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([r.astype("int32").tolist() for r in idx])
    probed = q_rows.select(
        "query_id", "qv", *(["lab"] if label_col else []),
        F.explode(probe_udf("qv")).alias("cell"),
    )

    # one GEMM per cell: corpus rows of the cell x queries probing it
    _lab = (["lab"] if label_col else [])
    tagged = assigned.select(
        "cell", F.lit("C").alias("role"), F.col("vid").alias("rid"), "vec",
        *_lab,
    ).unionByName(
        probed.select(
            "cell",
            F.lit("Q").alias("role"),
            F.col("query_id").alias("rid"),
            F.col("qv").alias("vec"),
            *_lab,
        )
    )

    def cell_topk(pdf):
        import pandas as pd

        c = pdf[pdf["role"] == "C"].sort_values("rid")
        q = pdf[pdf["role"] == "Q"]
        if c.empty or q.empty:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "cos_sim"])
        cx = np.stack(c["vec"].values)
        qx = np.stack(q["vec"].values)
        cn = np.sqrt((cx * cx).sum(axis=1))
        qn = np.sqrt((qx * qx).sum(axis=1))
        cn[cn == 0.0] = 1.0  # zero-norm -> cosine 0.0, not inf/nan
        qn[qn == 0.0] = 1.0
        sims = (qx @ cx.T) / np.outer(qn, cn)
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        rid_c = c["rid"].to_numpy()
        rid_q = q["rid"].to_numpy()
        # emit only each query's top-k WITHIN the cell instead of the
        # full (queries x cell) cross product: the global window keeps
        # at most topk per query, and every globally-kept row is by
        # definition inside its own cell's top-k, so the pruning is
        # LOSSLESS — while candidate volume drops from |q|x|cell| rows
        # to |q| x topk. The r8 version shuffled the full product into
        # the window (624M rows at 200k x 4 probes); worse, an
        # unpruned cell emits one multi-hundred-MB Arrow batch, which
        # exhausted the JVM's 20 GB direct-memory pool at 32
        # concurrent tasks on the 100x fixture (measured:
        # OutOfDirectMemoryError at 21.4/21.5 GB). Tiebreak matches
        # the window's (cos DESC, id ASC) via the composite int64 key
        # round(cos*1e6)*2^42 - id, exact for 0 <= id < 2^42 — ~4e12,
        # past any fixture; raise beyond rather than degrade.
        if (
            min(rid_c.min(), rid_q.min()) < 0
            or max(rid_c.max(), rid_q.max()) >= 2**42
        ):
            raise ValueError(
                "ivf_topk: ids outside [0, 2^42) break the exact int64 "
                "composite rank key; remap ids first"
            )
        comp = (
            np.floor(sims * 1e6 + 0.5).astype(np.int64) * (1 << 42)
            - rid_c[None, :]
        )
        pos = np.searchsorted(rid_c, rid_q)
        rows = np.arange(len(rid_q))
        hit = rows[rid_c[np.clip(pos, 0, len(rid_c) - 1)] == rid_q]
        # -(2^62): strictly below every real key and safe under the
        # argpartition negation (-int64_min overflows to itself)
        imin = -(1 << 62)
        comp[hit, pos[hit]] = imin  # self-match never a neighbor
        if "lab" in pdf.columns:
            # hard-negative contract: a candidate sharing the query's
            # label is NOT a neighbor — masked before the in-task
            # top-k so every emitted slot is a valid negative
            lab_c = c["lab"].to_numpy()
            lab_q = q["lab"].to_numpy()
            comp[lab_q[:, None] == lab_c[None, :]] = imin
        # topk+1 slots: one may be the masked self, so every query
        # still carries its full topk VALID candidates out of the
        # cell (k = topk would drop one real candidate for queries
        # whose self sits in another cell)
        k = min(topk + 1, sims.shape[1])
        part = np.argpartition(-comp, kth=k - 1, axis=1)[:, :k]
        pc = np.take_along_axis(comp, part, axis=1)
        order = np.argsort(-pc, axis=1, kind="stable")
        sel = np.take_along_axis(part, order, axis=1)
        keep = np.take_along_axis(comp, sel, axis=1) > imin
        qi = np.repeat(rows, k)[keep.ravel()]
        ci = sel.ravel()[keep.ravel()]
        return pd.DataFrame(
            {
                "query_id": rid_q[qi],
                "neighbor_id": rid_c[ci],
                "cos_sim": sims[qi, ci],
            }
        )

    candidates = tagged.groupBy("cell").applyInPandas(
        cell_topk, schema=_TOPK_SCHEMA
    )
    if symmetric_candidates:
        # self-kNN corpora only (queries == corpus id space): cosine
        # is symmetric, so a pair discovered in EITHER direction's
        # probes is a candidate for BOTH — roughly doubling discovery
        # probability at low probed fractions for the cost of one
        # union before the (already tiny) rank stage. Ranking over a
        # candidate SUPERSET can only move approximate ranks toward
        # the exact ones.
        candidates = candidates.unionByName(
            candidates.select(
                F.col("neighbor_id").alias("query_id"),
                F.col("query_id").alias("neighbor_id"),
                "cos_sim",
            )
        )
    # a (query, neighbor) pair can surface from several probed cells
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.dropDuplicates(["query_id", "neighbor_id"])
        .select("*", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= topk)
    )
