"""Invariants for streaming operators whose exact output is
batching-dependent (no SQL oracle possible)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pyspark_spark.registry import QUERIES
from etl_pyspark_spark.sources.io import read_table


def test_dedup_within_watermark_bounds(spark, oracle_sf_dir):
    out = QUERIES["stream_dedup_within_watermark"](spark, oracle_sf_dir)
    got = out.count()
    ev = read_table(spark, oracle_sf_dir, "events")
    n_distinct = ev.select("user_id", "event_type").distinct().count()
    n_total = ev.count()
    # bounded-state dedup can keep a re-arriving key, never lose one
    assert n_distinct <= got <= n_total
    # every emitted key exists in the input
    extra = out.distinct().join(
        ev.select("user_id", "event_type").distinct(),
        ["user_id", "event_type"],
        "left_anti",
    )
    assert extra.count() == 0


def test_streaming_tumbling_equals_batch(spark, oracle_sf_dir):
    """Replay-to-completion == batch aggregation, computed in-engine
    (the DuckDB oracle checks the same thing cross-engine)."""
    stream = QUERIES["stream_tumbling_agg"](spark, oracle_sf_dir)
    ev = read_table(spark, oracle_sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start_s"),
            "event_type",
            "n_events",
        )
    )
    assert (
        stream.select("window_start_s", "event_type", "n_events")
        .exceptAll(batch)
        .count()
        == 0
    )
    assert batch.exceptAll(
        stream.select("window_start_s", "event_type", "n_events")
    ).count() == 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark correctness at the boundary: a row arriving AFTER the
    watermark passed its window must be dropped, not re-aggregated.
    The fixture replays never exercise this (no late data), so this
    test injects it: input files consumed one per micro-batch
    (maxFilesPerTrigger=1); file 1 advances the watermark past the
    10:00 window's end, a later file contains a late row inside that
    window. Append-mode output must show the window finalized WITHOUT
    the late row.

    Spark's two-watermark nuance (verified empirically on 4.1, visible
    in StateStoreSave's plan): batch N filters LATE ROWS with the
    watermark from the end of batch N-2 but EVICTS/emits state with the
    one from batch N-1. So the late row must arrive two batches after
    the watermark-advancing row to see a drop — hence three files, with
    file 2 a filler batch that promotes the advanced watermark into the
    late-row filter."""
    import os
    import shutil
    from datetime import datetime, timezone

    indir = tmp_path / "late_in"
    indir.mkdir()

    def write_file(rows, name, mtime):
        staged = str(tmp_path / f"_stage_{name}")
        df = spark.createDataFrame(rows, "id long, ts timestamp")
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(
            p for p in os.listdir(staged)
            if p.endswith(".parquet") and not p.startswith("_")
        )
        dst = str(indir / name)
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (mtime, mtime))  # file source picks oldest first

    t = lambda h, m: datetime(2024, 1, 1, h, m, tzinfo=timezone.utc)
    # batch 0: two rows in the 10:00 window + one at 12:00 that pushes
    # the watermark to 11:50 (> the 10:00 window's 11:00 end)
    write_file([(1, t(10, 5)), (2, t(10, 10)), (3, t(12, 0))], "b1.parquet", 1_000)
    # batch 1: filler — evicts/emits the 10:00 window (n=2) and rolls
    # the 11:50 watermark into the late-row filter for batch 2
    write_file([(4, t(12, 30))], "b2.parquet", 2_000)
    # batch 2: a LATE row back inside the finalized 10:00 window, plus
    # a fresh row to drive the batch
    write_file([(5, t(10, 20)), (6, t(12, 40))], "b3.parquet", 3_000)

    sdf = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "late_data_check"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    rows = {
        (r["window"]["start"].hour, r["n"])
        for r in spark.table(name).collect()
    }
    # the 10:00 window finalized with the two on-time rows only — the
    # late id=5 was discarded at the watermark (observable in metrics),
    # and no second emission of the window appears
    assert dropped == 1
    assert rows == {(10, 2)}


def test_event_ts_ntz_surface_end_to_end():
    """Exactly the round-1 driver scenario: a session built with Spark 4
    DEFAULTS (events.ts, TIMESTAMP(MICROS) without UTC adjustment,
    surfaces as TIMESTAMP_NTZ) must still run event-time queries, both
    streaming (withWatermark rejects NTZ) and batch, with stream and
    batch agreeing. Runs in its own JVM so no conf the engine's own
    session was built with can leak in — hence a subprocess."""
    import json
    import subprocess
    import sys

    code = r"""
import json
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[4]")
         .appName("ntz-e2e")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.001"
surface = dict(spark.read.parquet(f"{sf}/events.parquet").dtypes)["ts"]
from etl_pyspark_spark.registry import QUERIES
stream = QUERIES["stream_tumbling_agg"](spark, sf)
sess = QUERIES["sessionize_events"](spark, sf)
from etl_pyspark_spark.sources.io import read_table
ev = read_table(spark, sf, "events")
batch = (ev.groupBy(F.window("ts", "1 hour"), "event_type")
         .agg(F.count(F.lit(1)).alias("n_events"))
         .select(F.unix_timestamp(F.col("window.start")).alias("window_start_s"),
                 "event_type", "n_events"))
cols = ["window_start_s", "event_type", "n_events"]
diff = (stream.select(*cols).exceptAll(batch).count()
        + batch.exceptAll(stream.select(*cols)).count())
print(json.dumps({"surface": surface, "stream_rows": stream.count(),
                  "session_rows": sess.count(), "stream_vs_batch_diff": diff}))
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    # the whole point: the default-built session really does surface NTZ
    assert res["surface"] == "timestamp_ntz", res
    assert res["stream_rows"] > 0 and res["session_rows"] > 0, res
    assert res["stream_vs_batch_diff"] == 0, res


def test_transform_with_state_gated(spark, oracle_sf_dir):
    """Spark 4 Arbitrary State API v2: runs (and equals the batch
    GROUP BY) where google.protobuf exists; cleanly gated where not."""
    import pytest

    from etl_pyspark_spark.streaming.stateful import (
        per_user_type_counts,
        v2_state_available,
    )

    if not v2_state_available():
        pytest.skip("google.protobuf not installed: v2 state API unavailable")
    out = per_user_type_counts(spark, oracle_sf_dir)
    batch = (
        spark.read.parquet(f"{oracle_sf_dir}/events.parquet")
        .groupBy("user_id", "event_type")
        .count()
    )
    assert out.count() == batch.count()


def test_checkpoint_restart_exactly_once(spark, oracle_sf_dir, tmp_path):
    """Kill-and-restart recovery: a checkpointed file-source -> parquet
    sink stream processes batch 1, stops, new input arrives, the SAME
    checkpoint restarts — and the sink holds exactly the full input
    (no loss, no duplicates). This is the end-to-end exactly-once
    contract that makes foreachBatch/file sinks production-safe."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    ev = spark.read.parquet(f"{oracle_sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    part1 = ev.where(F.col("event_id") % 2 == 0)
    part2 = ev.where(F.col("event_id") % 2 == 1)
    part1.write.mode("overwrite").parquet(src)

    def run_once():
        sdf = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == part1.count()

    # new files arrive while the stream is down; restart from checkpoint
    part2.write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(sink)
    assert got.count() == ev.count()  # nothing lost, nothing doubled
    assert got.select("event_id").distinct().count() == ev.count()


def test_python_datasource_stream_drains_exactly(spark, tmp_path):
    """Custom Python streaming source (sources/pyds.py): the docgen
    feed consumed through a checkpointed parquet sink across REPEATED
    availableNow runs must drain the feed exactly once — the committed
    offset persists in the checkpoint, each restart resumes where the
    last run stopped, and no doc is lost or doubled."""
    from etl_pyspark_spark.sources.pyds import register_docgen

    assert register_docgen(spark)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        sdf = (
            spark.readStream.format("docgen")
            .option("n", 1000)
            .option("batchrows", 250)
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    seen = 0
    for _ in range(10):
        run_once()
        now = spark.read.parquet(sink).count()
        if now == seen:  # offset stopped advancing: feed drained
            break
        assert now > seen  # each run makes progress, none regresses
        seen = now
    got = spark.read.parquet(sink)
    batch = spark.read.format("docgen").option("n", 1000).load()
    assert got.count() == 1000
    assert got.select("doc_id").distinct().count() == 1000
    assert got.exceptAll(batch).count() == 0


def test_rocksdb_state_store_provider(spark, oracle_sf_dir):
    """The production state backend at scale: HDFSBackedStateStore
    holds every key in executor heap (fine for thousands of keys,
    fatal for the billions a 100 TB stream accumulates); RocksDB
    spills state to local disk with incremental checkpointing. The
    provider is pluggable config, not code — this pins that every
    stateful operator produces IDENTICAL results under RocksDB, so
    flipping the backend in production is a config change with no
    semantic risk. (Conf is read at stream start; scoped set+restore
    is safe, same pattern as stream_shuffle_partitions.)"""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key)
    spark.conf.set(key, rocks)
    try:
        # windowed aggregation state + custom GroupState, both on RocksDB
        agg = QUERIES["stream_tumbling_agg"](spark, oracle_sf_dir)
        quota = QUERIES["stream_quota_drop"](spark, oracle_sf_dir)
        ev = read_table(spark, oracle_sf_dir, "events")
        batch_groups = ev.groupBy(
            F.window("ts", "1 hour"), "event_type"
        ).count()
        assert agg.count() == batch_groups.count()
        from pyspark.sql.window import Window

        w = Window.partitionBy(
            "user_id", F.floor(F.unix_timestamp("ts") / 3600)
        ).orderBy("ts", "event_id")
        batch_admitted = (
            ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 2)
            .count()
        )
        assert quota.count() == batch_admitted
    finally:
        spark.conf.set(key, old)


def test_stateful_groups_spanning_arrow_chunks(spark, oracle_sf_dir):
    """A group larger than arrow.maxRecordsPerBatch reaches the
    applyInPandasWithState callback as SEVERAL chunks in arbitrary
    shuffle order. The operators concatenate-then-sort (one frame per
    key per micro-batch) so admission/session assignment must be
    chunk-boundary-independent; with per-chunk sorting this test fails
    (the regression it pins, ADVICE round 3)."""
    from tests.oracle_utils import compare, duckdb_connect

    from etl_pyspark_spark.registry import ORACLES

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    # sf0.01 events: ~60k rows over ~1.5k users — 7-row batches force
    # every multi-event user across chunk boundaries
    spark.conf.set(key, "7")
    try:
        con = duckdb_connect(oracle_sf_dir)
        for name in ("stream_quota_drop", "stream_session_timeout_custom"):
            problems = compare(
                QUERIES[name](spark, oracle_sf_dir), con, ORACLES[name]
            )
            assert not problems, (name, problems)
    finally:
        spark.conf.set(key, old)
