"""Event-time streaming over the events fixture.

Each operator builds a ``readStream`` plan over the same parquet the
batch engine reads (file source + ``pathGlobFilter``), applies a
watermark, and aggregates with event-time windows; results land in a
memory sink via ``Trigger.AvailableNow`` so a registry query can
return them as a plain DataFrame. Because every input is replayed,
the final state equals the batch aggregation — which is exactly what
the DuckDB oracles compute (registry entries ``stream_*``).

Semantics pinned here:

- Event time is the parquet ``ts`` truncated to microseconds (same as
  the batch reader and DuckDB's nanos->micros read).
- Tumbling/sliding windows are epoch-aligned (Spark's ``window()``
  default, start ``% slide == 0``).
- Session windows use a 30-minute inactivity gap; a gap of *exactly*
  the timeout starts a new session (Spark's half-open
  ``[start, last + gap)``), mirrored in the oracle's ``>=`` lag test.
- ``complete`` output mode for window aggregates (all state retained;
  the watermark still bounds state in ``append``/``update``
  production runs), ``append`` for stateful dedup (rows emitted on
  first sight).

Scale notes: state for windowed aggregation is keyed by (window, group
key) and partitioned by Spark's streaming state store — the same
shuffle keys as the batch group-by. At 100 TB/day the knobs that
matter are watermark delay (state size) and
``spark.sql.shuffle.partitions`` for state-store parallelism; the
operator code is unchanged.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pyspark_spark.session import ensure_compat
from etl_pyspark_spark.sources.io import normalize_event_ts

_MEM_IDS = itertools.count()

# State-store metrics of the most recent run_to_memory_table stream,
# one dict per stateful operator of the FINAL progress event:
# {"operatorName", "numRowsTotal", "numRowsUpdated", ...}. Populated
# after awaitTermination so the state-size audit
# (tests/test_state_size.py, BASELINE.md round-6 table) can pin
# per-key-bounded state empirically without changing any query's
# surface.
LAST_STATE_METRICS: list[dict] = []

_STREAM_PARTITIONS = 8  # see stream_shuffle_partitions


@contextmanager
def stream_shuffle_partitions(spark: SparkSession):
    """Pin ``shuffle.partitions`` for the duration of a streaming query
    start. Stateful operators create one state-store instance (with
    its own checkpoint files and Python worker) per shuffle partition;
    local runs want few (8), a cluster sizes this to executor count x
    key cardinality. The conf is read at query start, so restoring it
    after ``awaitTermination`` cannot affect the running query."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STREAM_PARTITIONS)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events fixture (schema from the batch
    reader's parquet footer — metadata only, no data job).

    ``normalize_event_ts`` maps every reader surface of the nano-parquet
    ``ts`` (bigint from nanosAsLong sessions, TIMESTAMP_NTZ from
    default-built Spark 4 sessions, TIMESTAMP) to a microsecond
    TIMESTAMP — ``withWatermark`` requires TIMESTAMP and rejects NTZ."""
    ensure_compat(spark)
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # directory-shaped table (the real lake layout, and the
        # grow-mode scale fixtures): stream the directory itself —
        # pathGlobFilter would silently match ZERO leaf files and
        # replay an empty stream (bit the 30x smoke)
        sdf = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file fixture layout: several tables share sf_dir, so
        # scope the file source to this table's one file
        sdf = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_event_ts(sdf, "ts")


def run_to_memory_table(
    result: DataFrame,
    spark: SparkSession,
    mode: str = "complete",
    final_flush: bool = True,
) -> DataFrame:
    """Execute a streaming plan to completion (AvailableNow) into a
    memory sink; return the sink table. Bounded-input replay, so the
    returned data is the full-history result.

    ``final_flush=False`` skips the trailing NO-DATA micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``), which exists
    only to advance the watermark once more so eviction-driven output
    can emit (outer-join null rows, append-mode window finalization,
    event-time timeouts). Operators whose every output row is emitted
    on ARRIVAL — inner stream-stream joins, streaming dedup,
    complete/update-mode aggregations, NoTimeout custom state — pay a
    full state-store load/commit cycle in that empty batch (measured
    ~0.9-1.1 s per query at 8 state partitions) for zero rows. Callers
    assert their operator is in that class when passing False; the
    default stays True (the always-correct arm).

    CONCURRENCY ASSUMPTION (r11 advice #2): the skip is implemented by
    toggling the SESSION-global ``noDataMicroBatches`` conf around the
    bounded run (set → start → awaitTermination → finally-restore),
    because AvailableNow reads the conf at trigger planning, not from
    a per-query writeStream option. That is correct for the engine's
    sequential callers (every registry stream runs start-to-finish on
    the driver thread before the next), but two streams started
    CONCURRENTLY on one session could leak ``final_flush=False`` into
    a flush-dependent stream (outer join, append-mode finalization)
    and silently drop its eviction-driven rows. A concurrent caller
    must serialize calls with final_flush=False, or leave the flush
    on."""
    name = f"stream_result_{next(_MEM_IDS)}"
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    with stream_shuffle_partitions(spark):
        old_nodata = spark.conf.get(nodata_key)
        if not final_flush:
            spark.conf.set(nodata_key, "false")
        try:
            q = (
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set(nodata_key, old_nodata)
    LAST_STATE_METRICS.clear()
    try:
        for p in reversed(q.recentProgress):
            ops = p.get("stateOperators") or []
            if ops:
                LAST_STATE_METRICS.extend(ops)
                break
    except Exception:
        pass
    return spark.table(name)


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type: count + exact value sum."""
    sdf = stream_events(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    # complete-mode aggregation: every row re-emitted per data batch,
    # nothing emits on eviction — the no-data flush buys zero rows
    out = run_to_memory_table(agg, spark, final_flush=False)
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start_s"),
        "event_type",
        "n_events",
        "sum_value",
    )


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in
    exactly two windows)."""
    sdf = stream_events(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # complete mode: no eviction-driven output (see tumbling_counts)
    out = run_to_memory_table(agg, spark, final_flush=False)
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start_s"),
        "n_events",
    )


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    sdf = stream_events(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # complete mode: no eviction-driven output (see tumbling_counts)
    out = run_to_memory_table(agg, spark, final_flush=False)
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events",
    )


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first sighting of each
    (user_id, event_type) pair is emitted, later ones dropped.
    (``dropDuplicatesWithinWatermark`` is the state-bounded variant for
    unbounded key spaces; unconditional state is fine on this fixture.)
    """
    sdf = stream_events(spark, sf_dir)
    dd = sdf.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    # dropDuplicates emits each key on FIRST SIGHT; the watermark
    # only evicts state, never emits — skip the empty flush batch
    return run_to_memory_table(dd, spark, mode="append", final_flush=False)


def static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a broadcast
    dimension (nation, keyed by ``user_id % 25``), then count into
    1-day event-time tumbling windows per nation.

    The static side is re-read per micro-batch by Spark (picking up
    dim updates between batches); with a broadcast hint the join adds
    ZERO shuffle to the stream — each task probes the dim hash map in
    place, which is the production shape for slowly-changing
    dimension enrichment at firehose rates. State exists only for the
    windowed count downstream, never for the join itself."""
    from etl_pyspark_spark.sources.io import read_table

    sdf = stream_events(spark, sf_dir)
    dim = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    joined = sdf.withColumn(
        "nkey", (F.col("user_id") % 25).cast("int")
    ).join(
        F.broadcast(dim), F.col("nkey") == F.col("n_nationkey"), "inner"
    )
    agg = (
        joined.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    # complete mode: no eviction-driven output (see tumbling_counts)
    out = run_to_memory_table(agg, spark, final_flush=False)
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("day_start_s"),
        "n_name",
        "n_events",
        "sum_value",
    )


def session_windows_custom_timeout(
    spark: SparkSession, sf_dir: str, gap_us: int = 1800 * 1000000
) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMEOUTS — the
    applyInPandasWithState surface ``session_window`` hides: state is
    an explicit (start, last, n) record per user, a session closed by
    a later event emits immediately, and an IDLE session emits from
    the timeout callback once the watermark passes ``last + gap`` —
    no new event required. That callback is the piece every custom
    stateful operator with eviction needs (TTL caches, abandoned-cart
    timers, device-offline detection); built-in session_window gives
    the same result for plain counting but no hook to run logic at
    eviction time.

    Under bounded replay the final no-data micro-batch fires timeouts
    for every session whose ``last + gap`` fell below the terminal
    watermark; each user's still-open tail session (watermark never
    passed it) stays buffered — the registry oracle applies the same
    cutoff to its last-session branch, mirroring
    stream_stream_left_outer's eviction-aware oracle."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def sessionize(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            s, l, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [s],
                    "n_events": [n],
                }
            )
            return
        s, l, n = state.get if state.exists else (None, None, 0)
        closed = []
        # A group spanning several Arrow chunks arrives in arbitrary
        # chunk order — concatenate and sort ONCE so session assignment
        # is independent of arrow.maxRecordsPerBatch. The buffered
        # frame is one user's one-micro-batch slice (bounded), not the
        # stream.
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("tus")
        for t in pdf["tus"]:
            t = int(t)
            if s is None:
                s, l, n = t, t, 1
            elif t - l >= gap_us:
                closed.append((s, n))
                s, l, n = t, t, 1
            else:
                l, n = t, n + 1
        state.update((s, l, n))
        # ms precision: the state store's timeout clock is epoch-ms
        state.setTimeoutTimestamp((l + gap_us) // 1000)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start_us": [c[0] for c in closed],
                "n_events": [c[1] for c in closed],
            }
        )

    sdf = stream_events(spark, sf_dir)
    keyed = sdf.withWatermark("ts", "1 hour").select(
        "user_id", F.unix_micros("ts").alias("tus"), "ts"
    )
    res = keyed.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory_table(res, spark, mode="append")
