"""Window-function operators (SURVEY.md §2.9 "Windows" row).

Generic, key-parameterized helpers over Spark's window machinery. All
of these shuffle once on the partition key and sort within partitions
— the scalable shape for per-entity analytics (no driver loops, no
UDFs). Skewed partition keys are the main 100 TB hazard; AQE handles
moderate skew, and `top_k_per_group` uses Spark's window-group-limit
pushdown (rank filter is applied during the sort, not after).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ranked(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    rank_col: str = "rk",
    method: str = "row_number",
) -> DataFrame:
    """Attach row_number/rank/dense_rank/percent_rank/ntile ranking."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    fns = {
        "row_number": F.row_number,
        "rank": F.rank,
        "dense_rank": F.dense_rank,
        "percent_rank": F.percent_rank,
    }
    return df.withColumn(rank_col, fns[method]().over(w))


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Deterministic top-k rows per group (order_by must be a total
    order — include a unique tiebreaker)."""
    return ranked(df, partition_by, order_by).where(F.col("rk") <= k)


def dedup_latest(
    df: DataFrame, key_cols: Sequence[str], order_by: Sequence[Column]
) -> DataFrame:
    """Keep exactly one row per key — the first under ``order_by``
    (e.g. latest-by-timestamp dedup, a training-pipeline staple)."""
    return (
        ranked(df, key_cols, order_by)
        .where(F.col("rk") == 1)
        .drop("rk")
    )
