"""Random-hyperplane LSH for cosine similarity (Charikar 2002).

The scale path for similarity over a large corpus: each vector gets a
small bit signature (sign of its dot product with fixed pseudo-random
hyperplanes); vectors agreeing on a whole band of bits become
candidate pairs. P[bit match] = 1 - theta/pi, so near-parallel vectors
collide with high probability while the O(n^2) comparison space
collapses to per-bucket joins.

Hyperplane components are generated by the same fixed LCG used for
MinHash permutations (dedup/minhash.py) and embedded as literals in
both the Spark expressions and the DuckDB oracle SQL — the bucketing
is therefore bit-deterministic across engines, cluster sizes, and
runs (no ``Math.random``, no seed drift).

Shuffle shape at 100 TB: one explode to (vector, band, bucket_key)
rows, one shuffle keyed by (band, bucket_key) for the self-join —
skew-prone only if many vectors share a bucket, which AQE skew-join
splitting handles; the exact-cosine verify touches candidate pairs
only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pyspark_spark.dedup.minhash import _lcg_constants
from etl_pyspark_spark.similarity.cosine import as_double, dot, sql_dot

#: 8 hyperplanes split into 2 bands of 4 bits. For cosine 0.95
#: (theta ~= 18deg) each bit matches with p ~= 0.9, a 4-bit band with
#: ~0.66, either of 2 bands with ~0.88.
NUM_PLANES = 8
BANDS = 2
PLANES_PER_BAND = NUM_PLANES // BANDS
DIM = 64


def hyperplanes(
    num: int = NUM_PLANES, dim: int = DIM, seed: int = 7
) -> list[list[float]]:
    """Deterministic hyperplane matrix with components in [-1, 1]
    (uniform box directions are fine for sign tests; exact literals
    are what both engines embed)."""
    flat = _lcg_constants(num * dim, seed=seed)
    vals = [((a % 2001) - 1000) / 1000.0 for a, _ in flat]
    return [vals[i * dim : (i + 1) * dim] for i in range(num)]


PLANES: list[list[float]] = hyperplanes()


def _plane_lit(plane: list[float]) -> Column:
    return F.array(*[F.lit(v) for v in plane])


def plane_bits(vec: Column, planes: list[list[float]] | None = None) -> list[Column]:
    """One 0/1 column per hyperplane: sign of <vec, plane>."""
    return [
        F.when(dot(vec, _plane_lit(p)) > 0, F.lit(1)).otherwise(F.lit(0))
        for p in (PLANES if planes is None else planes)
    ]


def band_keys(
    vec: Column,
    planes: list[list[float]] | None = None,
    bands: int = BANDS,
) -> list[Column]:
    """One small-int bucket key per band (bits packed little-endian)."""
    bits = plane_bits(vec, planes)
    per_band = len(bits) // bands
    keys = []
    for band in range(bands):
        expr = F.lit(0)
        for j in range(per_band):
            expr = expr + bits[band * per_band + j] * F.lit(1 << j)
        keys.append(expr)
    return keys


def planes_per_band_for(n: int, target_bucket: int = 4096) -> int:
    """Bit width that holds the EXPECTED bucket size near
    ``target_bucket`` as the corpus grows — the knob every production
    LSH store tunes (the IVF twin of k_cells ~ sqrt(n)). With the
    historical fixed 4 bits, buckets grow linearly with n and the
    per-bucket triangle GEMM is quadratic in n (measured: 2.5e9 pair
    evals / ~360 s warm at 200k vectors, sf10.0grow); holding bucket
    size constant makes compute ~O(n * target_bucket). Never below
    the historical 4 bits, so every corpus <= 16 * target_bucket
    (all driver/native fixtures) buckets IDENTICALLY to the
    pre-adaptive behavior and the baked DuckDB oracle replays it;
    capped at 16 bits. More bits trade recall at LOW thresholds
    (P[collide] = prod of per-bit (1 - theta/pi)); the exact twin
    (dedup_embedding_cosine) and dedup_lsh_curve_audit are the
    standing recall auditors."""
    import math

    if n <= target_bucket:
        return 4
    return max(4, min(16, math.ceil(math.log2(n / target_bucket))))


def bucket_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adaptive: bool = True,
) -> DataFrame:
    """LSH-bucketed similarity end-to-end in two shuffles: explode to
    (band, bucket) keys, then one ``applyInPandas`` triangle GEMM per
    bucket, then a distinct over pair results (a pair colliding in both
    bands computes the identical rounded cosine twice). Compared to
    candidate-join + verify this never shuffles a vector more than
    ``BANDS`` times and never materializes the candidate pair list.

    ``adaptive`` sizes the per-band bit width from the corpus count
    (:func:`planes_per_band_for`) so expected bucket size stays
    ~constant as n grows — below 16x the target bucket size (every
    driver fixture) this is EXACTLY the historical 2x4-bit scheme."""
    import numpy as np  # noqa: F401  (worker-side import below)

    from pyspark.sql import types as T

    vec = as_double(F.col(vec_col))
    if adaptive:
        ppb = planes_per_band_for(df.count())
        dim = len(PLANES[0])
        planes = (
            PLANES
            if ppb == PLANES_PER_BAND
            else hyperplanes(num=BANDS * ppb, dim=dim)
        )
    else:
        planes = PLANES
    keys = band_keys(vec, planes)
    banded = [
        df.select(
            F.col(id_col).alias("vid"),
            vec.alias("vec"),
            F.lit(band).alias("band"),
            keys[band].alias("bucket"),
        )
        for band in range(BANDS)
    ]
    exploded = reduce(lambda a, b: a.unionByName(b), banded)

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def triangle(pdf):
        import numpy as np
        import pandas as pd

        x = np.stack(pdf["vec"].values).astype("float64")
        ids = pdf["vid"].values
        n = np.sqrt((x * x).sum(axis=1))
        sims = (x @ x.T) / np.outer(n, n)
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        ia, ib = np.nonzero(sims >= threshold)
        keep = ids[ia] < ids[ib]
        return pd.DataFrame(
            {
                "id_a": ids[ia][keep],
                "id_b": ids[ib][keep],
                "cos_sim": sims[ia, ib][keep],
            }
        )

    return (
        exploded.groupBy("band", "bucket")
        .applyInPandas(triangle, schema=schema)
        .distinct()
    )


# --- DuckDB oracle twins (same literals, same sum order) -------------


def _sql_plane_lit(plane: list[float]) -> str:
    return "CAST([" + ", ".join(repr(v) for v in plane) + "] AS DOUBLE[])"


def sql_band_key(vec: str, band: int) -> str:
    terms = []
    for j in range(PLANES_PER_BAND):
        p = _sql_plane_lit(PLANES[band * PLANES_PER_BAND + j])
        terms.append(
            f"(CASE WHEN {sql_dot(vec, p)} > 0 THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


def sql_banded_cte(table: str, id_col: str, vec_col: str) -> str:
    """UNION ALL of one (vid, band, bucket) select per band."""
    parts = [
        f"SELECT {id_col} AS vid, {band} AS band, "
        f"{sql_band_key(vec_col, band)} AS bucket FROM {table}"
        for band in range(BANDS)
    ]
    return " UNION ALL ".join(parts)
