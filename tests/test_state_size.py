"""Streaming state-size audit (r05 verdict #5).

The stateful operators are correctness-verified (incl. RocksDB
parity), but until this round no NUMBER existed for state growth.
These tests read ``stateOperators.numRowsTotal`` from the final
progress event (captured by ``run_to_memory_table``) and pin the
scaling claims empirically:

- the quota limiter's state is O(active users) BY COUNT — exactly one
  state row per user, **independent of event volume** (the synthetic
  test feeds 10x the events over the same users and the state row
  count does not move);
- custom-timeout sessionization holds at most one open session per
  user;
- the stream-stream left-outer join buffers rows bounded by the
  watermark horizon, never more than the input.

The measured fixture numbers are recorded in BASELINE.md (round-6
state-size table).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pyspark_spark.registry import QUERIES
from etl_pyspark_spark.sources.layouts import _SCRATCH


def _state_rows() -> int:
    from etl_pyspark_spark.streaming.windows import LAST_STATE_METRICS

    assert LAST_STATE_METRICS, "no state metrics captured"
    return sum(int(op["numRowsTotal"]) for op in LAST_STATE_METRICS)


def _write_events_file(spark, tmp_path, n_events: int, n_users: int) -> str:
    """Synthetic events fixture dir: one FILE named events.parquet
    (the streaming reader's pathGlobFilter matches leaf file names)."""
    import shutil

    # events interleave across users at a 7 s cadence, so every user
    # accumulates a long multi-hour history
    df = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        (F.col("id") % n_users).alias("user_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("id") * 7)
        ).alias("ts"),
        F.lit("click").alias("event_type"),
    )
    d = tmp_path / f"sf_synth_{n_events}"
    staged = str(d / "_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staged)
    part = next(
        p
        for p in os.listdir(staged)
        if p.endswith(".parquet") and not p.startswith("_")
    )
    shutil.copyfile(os.path.join(staged, part), str(d / "events.parquet"))
    shutil.rmtree(staged)
    return str(d)


@pytest.mark.slow
def test_quota_state_rows_track_users_not_events(spark, tmp_path):
    """10x the events over the SAME user population: admitted rows
    grow (more user-hours pass the quota) but state rows stay exactly
    |users| — the O(active keys) pin."""
    n_users = 40
    sizes = {}
    for n_events in (2_000, 20_000):
        sf = _write_events_file(spark, tmp_path, n_events, n_users)
        QUERIES["stream_quota_drop"](spark, sf).count()
        sizes[n_events] = _state_rows()
    assert sizes[2_000] == n_users
    assert sizes[20_000] == n_users  # 10x events, identical state


@pytest.mark.slow
def test_grow_fixture_state_sizes_scale_with_keys(spark):
    """30x catalog-growing fixture (r06 verdict #3): the USER
    population itself grows 30x, so this pins state ∝ keys in the
    regime where keys (not just events) scale — quota state must be
    exactly |users| at 30x, sessionization at most one open session
    per user, and the join buffer bounded by its input. Skips when
    the grow fixture has not been generated (it is scratch-only;
    build with SPARK_GRAFT_SMOKE_MODE=grow scripts/scale_smoke_gen.py)."""
    grow = os.path.join(_SCRATCH, "sf3.0grow")
    if not os.path.exists(os.path.join(grow, "events.parquet")):
        pytest.skip("30x grow fixture not built")
    from etl_pyspark_spark.sources.io import read_table

    ev = read_table(spark, grow, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()

    QUERIES["stream_quota_drop"](spark, grow).count()
    quota_state = _state_rows()
    assert quota_state == n_users

    QUERIES["stream_session_timeout_custom"](spark, grow).count()
    session_state = _state_rows()
    assert session_state <= n_users

    QUERIES["stream_stream_left_outer"](spark, grow).count()
    join_state = _state_rows()
    n_join_input = ev.where(
        F.col("event_type").isin("click", "purchase")
    ).count()
    assert join_state <= n_join_input

    # full outer buffers BOTH sides, but never more than its input
    # either — the purchase side's shorter eviction horizon (r8,
    # streaming/joins.click_purchase_full_outer) keeps it below the
    # naive 2x-left-outer bound
    QUERIES["stream_stream_full_outer"](spark, grow).count()
    fo_state = _state_rows()
    assert fo_state <= n_join_input

    print(
        f"\nstate-size audit (30x grow): events={n_events} "
        f"users={n_users} quota_state={quota_state} "
        f"session_state={session_state} join_state={join_state} "
        f"join_input={n_join_input}"
    )


@pytest.mark.slow
def test_fixture_state_sizes_are_key_bounded(spark, oracle_sf_dir):
    """The three heaviest stateful queries on the real fixture: state
    rows bounded by key cardinality (quota/sessions) or input size
    (join buffer), recorded for BASELINE.md."""
    from etl_pyspark_spark.sources.io import read_table

    ev = read_table(spark, oracle_sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()

    QUERIES["stream_quota_drop"](spark, oracle_sf_dir).count()
    quota_state = _state_rows()
    assert quota_state == n_users

    QUERIES["stream_session_timeout_custom"](spark, oracle_sf_dir).count()
    session_state = _state_rows()
    assert session_state <= n_users

    QUERIES["stream_stream_left_outer"](spark, oracle_sf_dir).count()
    join_state = _state_rows()
    n_join_input = ev.where(
        F.col("event_type").isin("click", "purchase")
    ).count()
    assert join_state <= n_join_input

    print(
        f"\nstate-size audit sf_dir={oracle_sf_dir}: events={n_events} "
        f"users={n_users} quota_state={quota_state} "
        f"session_state={session_state} join_state={join_state} "
        f"join_input={n_join_input}"
    )
