"""Distributed exact order statistics: global rank / ntile / cumsum
without a single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` ships the ENTIRE input
to one task — the classic scale-killer for per-row global ranks (ntile
over a corpus, corpus-wide row numbers). The distributed form below is
what a global sort already does under the hood, made explicit so the
per-row labeling never serializes:

1. ``repartitionByRange`` on the order key — the same range exchange a
   ``Sort`` uses (sampled boundaries, equal keys co-located), then an
   in-partition sort, persisted so every pass observes one physical
   layout;
2. per-partition (row count, min row-id) → exclusive prefix offsets —
   one bounded collect of ``|partitions|`` tuples to the driver (never
   row data);
3. the in-partition position comes from ``monotonically_increasing_id``
   MINUS the partition's min id (consecutive within a partition by
   construction), so the global rank is ``offset + position + 1`` — a
   projection that reads the partition's offset and min id from
   literal arrays indexed by partition id (``literal_at``): no join, no
   broadcast, no Window operator, no second exchange.
   (``with_global_cumsum`` does need a per-partition running sum, so it
   windows BY PARTITION ID — parallel across partitions, never
   SinglePartition.)

Callers must pass a TOTAL order (tie-break with a unique key, e.g.
``(n_chars, doc_id)``) — with ties left ambiguous, in-partition order
is arbitrary, exactly as in the single-node form.

No reference counterpart (the reference has no ranking at all —
SURVEY.md §2.9); this implements the documented-but-missing scale path
flagged by the round-3 review for ``length_bucket_batching``,
``curriculum_difficulty_buckets`` and ``winsorize_values``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from etl_pyspark_spark.checkpoint import scoped_family_persist


def _range_partitioned(
    df: DataFrame, order_cols: list[str], num_partitions: int | None
) -> DataFrame:
    """Range-partition + in-partition sort on the order key; returns
    the persisted frame tagged with partition id and physical row id."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    cols = [F.col(c) for c in order_cols]
    return (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
        .transform(scoped_family_persist)
    )


def _partition_stats(part: DataFrame, *aggs) -> dict[int, tuple]:
    """One job over the persisted layout: ``pid -> (min physical row
    id, *aggs)`` for every non-empty partition. Ascending pid ==
    ascending key range for repartitionByRange, so pid order IS key
    order. The collect is |partitions| tuples, never row data."""
    rows = part.groupBy("_pid").agg(F.min("_mid"), *aggs).collect()
    return {int(r[0]): tuple(r[1:]) for r in rows}


def literal_at(values: dict[int, object], index: str = "_pid") -> Column:
    """``values[index]`` read per row from a literal bigint array: a
    driver-collected constant goes into the plan, not into a table to
    join. O(1) per row at any size (a ``create_map`` lookup scans its
    keys). Missing indexes (empty partitions) hold NULL; no row reads
    them."""
    size = max(values, default=-1) + 1
    arr = F.array(*[F.lit(values.get(i)) for i in range(size)])
    return arr.cast("array<bigint>")[F.col(index)]


def _running_in_partition(order_cols: list[str]):
    """Running frame over one range partition in ``order_cols`` order."""
    return (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _exclusive_prefix(stats: dict[int, tuple], i: int = 1) -> dict:
    """pid -> sum of column ``i`` over all earlier partitions."""
    out, acc = {}, 0
    for pid in sorted(stats):
        out[pid] = acc
        acc += int(stats[pid][i] or 0)
    return out


def _with_rank_col(part: DataFrame, stats: dict, rank_col: str) -> DataFrame:
    """offset + (row id − partition min row id) + 1: exact global rank
    from pure projections over the persisted sorted layout."""
    offset = literal_at(_exclusive_prefix(stats))
    minmid = literal_at({p: int(s[0]) for p, s in stats.items()})
    return part.withColumn(
        rank_col, offset + (F.col("_mid") - minmid) + 1
    ).drop("_pid", "_mid")


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global rank of every row under ``order_cols``
    (a total order; ties must be broken by the caller's key)."""
    part = _range_partitioned(df, order_cols, num_partitions)
    stats = _partition_stats(part, F.count(F.lit(1)))
    return _with_rank_col(part, stats, rank_col)


def with_global_ntile(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    tile_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(k) OVER (ORDER BY order_cols)`` without a
    single-partition window: ntile is a pure function of the global
    rank once n is known — the first ``n % k`` tiles take
    ``n // k + 1`` rows, the rest ``n // k`` (ANSI ntile, identical in
    Spark and DuckDB)."""
    part = _range_partitioned(df, order_cols, num_partitions)
    stats = _partition_stats(part, F.count(F.lit(1)))
    n = sum(int(c) for _, c in stats.values())
    ranked = _with_rank_col(part, stats, "_grank")
    base, rem = n // k, n % k
    head = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    if base == 0:
        tile = F.col("_grank")  # n < k: row i is tile i
    else:
        tile = F.when(
            F.col("_grank") <= head,
            ((F.col("_grank") - 1) - ((F.col("_grank") - 1) % (base + 1)))
            / (base + 1)
            + 1,
        ).otherwise(
            ((F.col("_grank") - 1 - head)
             - ((F.col("_grank") - 1 - head) % base)) / base
            + 1
            + rem
        )
    return ranked.withColumn(
        tile_col, tile.cast("int")
    ).drop("_grank")


def with_global_cumsum_multi(
    df: DataFrame,
    order_cols: list[str],
    weight_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running totals of SEVERAL integer weight columns in one
    pass (one range exchange, one per-partition-id window computing k
    running sums) — the two-sample-CDF accumulator: comparing k
    empirical distributions needs k cumulative counts over the SAME
    sorted distinct-value axis, and running ``with_global_cumsum`` k
    times would repeat the exchange k times. Emits ``cum_<w>`` per
    weight column. Same contract as the single-weight form: integer
    weights, total order, never SinglePartition."""
    part = _range_partitioned(df, order_cols, num_partitions)
    stats = _partition_stats(part, *[F.sum(w) for w in weight_cols])
    w = _running_in_partition(order_cols)
    out = part
    for i, wc in enumerate(weight_cols):
        out = out.withColumn(
            f"cum_{wc}",
            F.sum(wc).over(w).cast("bigint")
            + literal_at(_exclusive_prefix(stats, i + 1)),
        )
    return out.drop("_pid", "_mid")


def with_global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str,
    cumsum_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running total of ``weight_col`` in ``order_cols`` order —
    the rank-mass accumulator behind exact quantiles. The running sum
    windows BY PARTITION ID (parallel across range partitions, one
    keyed exchange, never SinglePartition) and adds the partition's
    exclusive prefix total."""
    part = _range_partitioned(df, order_cols, num_partitions)
    stats = _partition_stats(part, F.sum(weight_col))
    w = _running_in_partition(order_cols)
    return part.withColumn(
        cumsum_col,
        F.sum(weight_col).over(w).cast("bigint")
        + literal_at(_exclusive_prefix(stats)),
    ).drop("_pid", "_mid")


def with_global_cummax(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    cummax_col: str = "cummax",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running MAX of ``value_col`` (bigint) in ``order_cols``
    order — the watermark accumulator: Structured Streaming's
    event-time watermark IS a running max over arrival order minus a
    delay. Same distributed shape as ``with_global_cumsum``: range
    exchange on the order key, per-partition running max windowed BY
    PARTITION ID, and each partition folds in the exclusive prefix
    max of all earlier partitions (a |partitions|-entry driver fold
    read back as literals — never row data, never SinglePartition).
    ``F.greatest`` skips the NULL prefix of the first partition."""
    part = _range_partitioned(df, order_cols, num_partitions)
    stats = _partition_stats(part, F.max(value_col))
    premax, run = {}, None
    for pid in sorted(stats):
        premax[pid] = run
        v = stats[pid][1]
        run = v if run is None or (v is not None and v > run) else run
    w = _running_in_partition(order_cols)
    return part.withColumn(
        cummax_col,
        F.greatest(
            F.max(value_col).over(w).cast("bigint"), literal_at(premax)
        ),
    ).drop("_pid", "_mid")
