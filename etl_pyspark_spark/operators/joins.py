"""Join operators (SURVEY.md §2.9 "Joins" row).

The reference has no joins; this module provides the full join surface
a user of a query engine expects, each expressed so Catalyst picks the
right physical strategy at any scale:

- equi joins: plain ``df.join`` — Spark chooses broadcast-hash vs
  shuffled-hash vs sort-merge from statistics + AQE; small dimension
  tables get an explicit ``F.broadcast`` hint so a 100 TB fact scan
  never shuffles for a kilobyte dimension.
- point-in-interval range joins where both sides are large:
  ``range_join_binned`` rewrites the range predicate as a bin
  equi-join plus residual filter, never a nested loop.
- as-of join (the time-series staple Spark lacks as a builtin):
  implemented with a union + window trick — O(n log n) with a single
  shuffle on (key, time), no per-row Python, no merge_asof on the
  driver — scales to arbitrarily large both-sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
    salt: int | None = None,
) -> DataFrame:
    """Point-in-interval join where BOTH sides are large (neither
    broadcastable): rewrite the pure range predicate as a bin
    equi-join plus residual filter.

    Each interval explodes to the integer bins it overlaps; each point
    maps to exactly one bin; the join is then a plain hash shuffle on
    the bin key with the exact containment check evaluated residually.
    With ``bin_width`` >= the max interval length, each interval lands
    in at most 2 bins, so the blow-up is bounded at 2x — versus the
    O(|P| x |I|) nested loop a naive theta join degenerates to when no
    side fits in memory. A point lives in exactly one bin, so no
    dedup pass is needed. (Same rewrite DuckDB/Trino apply internally
    as "IEJoin/binned range join"; Spark has no native one.)

    ``point_col``/``start_col``/``end_col`` must be integer-like
    (cast dates to epoch days first). Interval is half-open
    [start, end).

    ``salt`` splits each bin's work ``salt`` ways: points carry a
    deterministic hash-derived salt, intervals replicate across all
    salt values (the small side — intervals blow up ``salt``x, pairs
    enumerated are UNCHANGED). This matters because the join's
    *output* can be orders of magnitude larger than its inputs (dense
    calendars: every point x every overlapping window), and AQE sizes
    post-shuffle partitions from input BYTES — a 16 MB input that
    explodes to billions of pairs gets coalesced onto ~1 task and
    single-threads the whole stage (measured: a 30x-density fixture
    ground one core for 17+ min; salt=32 spread it back across the
    cluster). Bin count alone can't provide parallelism when the
    calendar span is short. Default: the session's default
    parallelism, so each bin's enumeration spreads across every core
    regardless of AQE's input-byte view."""
    if salt is None:
        salt = max(1, points.sparkSession.sparkContext.defaultParallelism)
    iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bin_width).cast("long"),
                # end is exclusive: last covered value is end-1
                F.floor((F.col(end_col) - 1) / bin_width).cast("long"),
            )
        ),
    )
    pt = points.withColumn(
        "_bin", F.floor(F.col(point_col) / bin_width).cast("long")
    )
    if salt > 1:
        iv = iv.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        # Salt per ROW, not per value (r07 advice #2, closed fully in
        # r9): round-robin on monotonically_increasing_id spreads even
        # FULLY-IDENTICAL duplicate rows of one hot point value across
        # all salt buckets — the residual case a whole-row hash left
        # single-bucket. The salt never reaches the output (dropped
        # after the join) and the interval side replicates across ALL
        # salt values, so the enumerated pairs are identical for any
        # salt assignment; mono_id's partitioning-dependence therefore
        # cannot leak into results, only into load balance.
        pt = pt.withColumn(
            "_salt",
            F.pmod(F.monotonically_increasing_id(), F.lit(salt)),
        )
        join_keys = ["_bin", "_salt"]
    else:
        join_keys = ["_bin"]
    # shuffle_hash, never broadcast: the planner costs the interval
    # side from its SCAN estimate, but two Generates later it is
    # bins x salt bigger (22M rows at the 30x fixture) — statically
    # "small enough to broadcast", actually a single-threaded
    # driver-side hash build that took longer than the whole join.
    # Explode never updates size estimates; any operator that explodes
    # its build side must pin the join strategy itself.
    return (
        pt.join(iv.hint("shuffle_hash"), join_keys)
        .where(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) < F.col(end_col))
        )
        .drop("_bin", "_salt")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "backward",
    tolerance=None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` (direction='backward') for the same key.

    Strategy (scales where pandas ``merge_asof`` cannot): tag both
    sides, union by a common schema, then a single window sorted by
    (key, ts, side) carries the most recent right-side ROW — one
    struct of all right value columns plus the match timestamp — with
    ``last(..., ignorenulls=True)``. Carrying the whole row as ONE
    struct (not per-column picks) is what keeps the semantics exactly
    pandas ``merge_asof``: a NULL in a right value column stays NULL
    (a per-column ignorenulls pick would skip it back to an OLDER
    row's value), and the tolerance check always sees the timestamp
    of the same row the values came from (advice r04). One shuffle
    total, no collect, no UDF; skew on ``key`` is handled by AQE.

    ``direction='forward'`` mirrors it: the EARLIEST right row with
    ``right_ts >= left_ts`` — same union, the window frame flips to
    (current row, unbounded following) with ``first(...,
    ignorenulls)``, and the side tiebreak flips so an equal-ts right
    row is visible to the left row (>= semantics). Identical cost.

    ``tolerance`` (optional Column, e.g. ``F.expr("INTERVAL 7
    DAYS")``): pandas merge_asof's staleness bound — a match farther
    from ``left_ts`` than ``tolerance`` (older for backward, later
    for forward) is nulled out in a post-projection (the matched
    right timestamp rides the same window, so the bound costs one
    more carried expression, no extra shuffle).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    forward = direction == "forward"

    from pyspark.sql import types as T

    # one struct per right row: all carried value columns + the match
    # timestamp, so the ignorenulls pick is atomic per right ROW
    r_row_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in right_cols]
        + [T.StructField("_rts", right.schema[right_ts].dataType)]
    )
    l_tagged = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(r_row_type).alias("_rrow"),
    )
    r_tagged = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None)
        .cast(l_tagged.schema["_lrow"].dataType)
        .alias("_lrow"),
        F.struct(
            *[F.col(c) for c in right_cols],
            F.col(right_ts).alias("_rts"),
        ).alias("_rrow"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    # backward: right rows (side=0) sort BEFORE left rows at equal ts
    # and the frame looks back => "<=" semantics. forward: the side
    # order flips (right after left at equal ts) and the frame looks
    # ahead with first() => ">=" semantics.  The trailing _rrow key
    # pins the pick when the right side carries DUPLICATE (key, ts)
    # rows: without it the carried struct would be whichever row the
    # shuffle happened to order last, varying across runs.  With it
    # the winner is the greatest (backward) / least (forward) carried
    # right-row struct — deterministic across runs and layouts (left
    # rows all carry a NULL _rrow, so the extra key never reorders
    # across sides).
    if forward:
        w = (
            Window.partitionBy("_k")
            .orderBy("_ts", F.col("_side").desc(), "_rrow")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        pick = lambda c: F.first(c, ignorenulls=True)  # noqa: E731
    else:
        w = (
            Window.partitionBy("_k")
            .orderBy("_ts", "_side", "_rrow")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pick = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    filled = unioned.select(
        "*", pick("_rrow").over(w).alias("_asof_row")
    ).where(F.col("_side") == 1)
    if tolerance is None:
        out_cols = [
            F.col(f"_asof_row.{c}").alias(f"asof_{c}")
            for c in right_cols
        ]
    else:
        if forward:
            fresh = F.col("_asof_row._rts") <= F.col("_ts") + tolerance
        else:
            fresh = F.col("_asof_row._rts") >= F.col("_ts") - tolerance
        out_cols = [
            F.when(fresh, F.col(f"_asof_row.{c}")).alias(f"asof_{c}")
            for c in right_cols
        ]
    return filled.select(F.col("_lrow.*"), *out_cols)


def asof_join_cogroup(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of join via cogrouped ``applyInPandas`` + ``merge_asof``.

    The alternative implementation of :func:`asof_join` for when the
    per-key history fits a worker (the common case — keys partition
    the data): both sides shuffle once on the key, each cogroup runs
    pandas ``merge_asof`` locally. Same semantics (latest right row
    with ``right_ts <= left_ts``), verified against the same oracle in
    the registry. Prefer :func:`asof_join` when single keys can exceed
    executor memory; prefer this one when per-row Python columns are
    already in play and the window trick's union would double-scan.
    """
    import pandas as pd

    from pyspark.sql import types as T

    out_fields = [f for f in left.schema.fields] + [
        T.StructField(f"asof_{c}", right.schema[c].dataType)
        for c in right_cols
    ]
    out_schema = T.StructType(out_fields)
    left_cols = list(left.columns)

    # project both sides to unambiguous column names BEFORE the
    # cogroup: when the two sides share a column name whose value is
    # also derivable from another selected expression, the planner can
    # collapse projections and the pandas frame arrives without it
    # (observed: right 'ts' vanished when both sides also selected
    # unix_timestamp(ts)). Fresh aliases make every column load-bearing.
    #
    # Cogroup on a COARSE hash bucket of the key, not the key itself:
    # one pandas call per key costs ~10 ms of slicing overhead each
    # (1500 keys -> ~15 s); bucketing gives ~#partitions calls and
    # merge_asof's `by=` does the per-key alignment vectorized.
    buckets = 64
    bucket = F.pmod(F.hash(F.col(key)), F.lit(buckets))
    l_in = left.select(
        *left_cols,
        F.col(left_ts).alias("_asof_lts"),
        bucket.alias("_asof_bucket"),
    )
    r_in = right.select(
        F.col(key).alias("_asof_rkey"),
        F.col(right_ts).alias("_asof_rts"),
        bucket.alias("_asof_bucket"),
        *[F.col(c).alias(f"_asof_in_{c}") for c in right_cols],
    )

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        out_cols = [*left_cols, *[f"asof_{c}" for c in right_cols]]
        # a side with no rows for this bucket arrives as a 0-column frame
        if lpdf.empty:
            return pd.DataFrame(columns=out_cols)
        lpdf = lpdf.sort_values("_asof_lts", kind="mergesort")
        if rpdf.empty:
            out = lpdf.copy()
            for c in right_cols:
                out[f"asof_{c}"] = None
            return out[out_cols]
        rpdf = rpdf[
            ["_asof_rkey", "_asof_rts", *[f"_asof_in_{c}" for c in right_cols]]
        ]
        rpdf = rpdf.sort_values("_asof_rts", kind="mergesort").rename(
            columns={f"_asof_in_{c}": f"asof_{c}" for c in right_cols}
        )
        merged = pd.merge_asof(
            lpdf,
            rpdf,
            left_on="_asof_lts",
            right_on="_asof_rts",
            left_by=key,
            right_by="_asof_rkey",
            direction="backward",
        )
        return merged[out_cols]

    return (
        l_in.groupBy("_asof_bucket")
        .cogroup(r_in.groupBy("_asof_bucket"))
        .applyInPandas(merge, schema=out_schema)
    )
