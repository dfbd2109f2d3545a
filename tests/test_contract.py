"""Guards on the driver contract (__spark_entry__.py) and bench.py.

The driver imports these surfaces blind; a refactor that renames a
function or breaks a signature fails the round even if every operator
is correct. These tests pin the contract shape."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_contract_shapes(spark):
    mod = _entry_module()
    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert callable(mod.entry)
    assert isinstance(qs, dict) and len(qs) >= 80
    assert isinstance(os_, dict)
    assert set(os_) <= set(qs)  # every oracle has a query
    # rows-only queries are a CLOSED, justified set (estimator- or
    # batching-specific outputs; each has an invariant/error-bound/
    # recall test instead of a SQL oracle) — growing it is a deliberate
    # decision, not drift
    assert set(qs) - set(os_) == {
        "approx_count_distinct",      # HLL estimate, engine-specific
        "hll_sketch_rollup",          # Datasketches estimate, error-bound-tested
        "hll_intersection_estimate",  # sketch inclusion-exclusion, estimate
        "similarity_ivf_topk",        # k-means quantizer, recall-tested
        "similarity_mutual_knn_ivf",  # same quantizer; recall + degree
                                      # + symmetry pinned (test_round10)
        "mining_hardest_negative_ann",  # same quantizer; exact-equality
                                        # at fixture scale + native
                                        # recall pinned (test_round11)
        "similarity_pq_topk",         # PQ codebooks, recall-tested
        "stream_dedup_within_watermark",  # batching-dependent state bound
        "embedding_pca_whiten",       # eigendecomposition, invariant-
                                      # tested (test_pca)
        "tokenizer_bpe_learn",        # iterative argmax+merge; exact
                                      # parity with a pure-Python BPE
                                      # pinned in test_tokenizer
    }
    df = mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_bench_emits_one_json_line(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        # keep the driver's sf0.1 bench_last.json intact
        SPARK_GRAFT_BENCH_OUT=str(tmp_path / "bench_last.json"),
    )
    # The timeout must scale with the registry: 540s was sized for the
    # round-1 registry (136 queries) and the round-11 registry (403)
    # tipped past it on a loaded host. ~1.5 s/query at sf0.001 plus
    # session/layout warm-up slack.
    n_registered = len(_entry_module().queries())
    out = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=240 + int(1.5 * n_registered),
        env=env,
        cwd=_REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # the JSON line must be the LAST thing on stdout (the r10 driver
    # capture lost the whole round-over-round comparison to a parse
    # gap; r11 verdict #9 hardens the contract): nothing may follow
    # the line, and the belt-and-braces file record must be the SAME
    # bytes, so either survives alone.
    last = out.stdout.strip().splitlines()[-1]
    assert out.stdout.rstrip("\n").endswith(last)
    payload = json.loads(last)
    on_disk = (tmp_path / "bench_last.json").read_text().strip()
    assert on_disk == last
    assert payload["unit"] == "sec"
    assert payload["n_failed"] == 0
    assert payload["sf"] == 0.001
    assert len(payload["queries"]) == payload["n_queries"]
    assert abs(
        sum(t for t in payload["queries"].values() if t >= 0)
        - payload["value"]
    ) < 0.01 * max(1, payload["n_queries"])


def test_observe_metrics_without_extra_pass(spark, oracle_sf_dir):
    """df.observe: pipeline health metrics (row count, null count,
    sum) collected as a side effect of the SAME action — at 100 TB an
    extra validation count() is a second full scan, observe is free."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_pyspark_spark.sources.io import read_table

    obs = Observation("health")
    li = read_table(spark, oracle_sf_dir, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
    )
    n = observed.where(F.col("l_quantity") > 0).count()  # one action
    m = obs.get
    assert m["rows"] >= n and m["null_qty"] == 0


def test_driver_memory_default_covers_long_sessions(spark):
    """The 200-query bench session thrashes an 8g heap (measured 2-3x
    session-wide GC slowdown, round 3); the 20g default is
    load-bearing. Env override still wins for constrained hosts."""
    import os

    expected = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g")
    assert spark.conf.get("spark.driver.memory") == expected


def test_bench_round_phase_key_derivation(tmp_path):
    """r08 verdict #7: the bench archive's (round, phase) key. The
    round-1/no-CORRECTNESS edge must label 'midround' and round 1 —
    never claiming the clean bench_r1 name the driver's closing run
    owns; a fresh CORRECTNESS_r{max} with a free clean name is the
    closing run; a stale or already-archived round is midround of
    max+1; the env override wins for manual adjudication."""
    import time as _time

    import bench

    here = str(tmp_path)
    scratch = tmp_path / "scratch"
    now = _time.time()
    sf = "/x/sf0.1"

    # no CORRECTNESS at all: round 1, midround, clean name refused
    assert bench._round_phase(here, str(scratch), sf, now) == (1, "midround")

    # fresh CORRECTNESS_r3 + free clean name: the closing run of r3
    c3 = tmp_path / "CORRECTNESS_r3.json"
    c3.write_text("{}")
    os.utime(c3, (now - 10, now - 10))
    assert bench._round_phase(here, str(scratch), sf, now) == (3, "closing")

    # clean archive already claimed: later re-runs are r4 midround
    scratch.mkdir()
    (scratch / "bench_r3_sf0.1.json").write_text("{}")
    assert bench._round_phase(here, str(scratch), sf, now) == (4, "midround")

    # stale CORRECTNESS (>15 min before run start): midround of r4
    (scratch / "bench_r3_sf0.1.json").unlink()
    os.utime(c3, (now - 3600, now - 3600))
    assert bench._round_phase(here, str(scratch), sf, now) == (4, "midround")

    # env override pins closing to the max recorded round
    assert bench._round_phase(here, str(scratch), sf, now, "closing") == (3, "closing")
    assert bench._round_phase(here, str(scratch), sf, now, "midround")[1] == "midround"
