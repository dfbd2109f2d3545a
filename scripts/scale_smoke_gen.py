#!/usr/bin/env python3
"""Generate a 10x-of-bench-scale fixture set for the empirical scale smoke.

Replicates the sf0.1 tables REP times under ``.scratch/sf1.0smoke/`` with
key shifts chosen so the data GROWS the way a real corpus grows instead of
becoming one giant duplicate group:

- fact keys are remapped ``key' = key*REP + r`` so every replica is a
  disjoint key range with consistent intra-replica foreign keys
  (orders<->lineitem on orderkey, orders->customer on custkey);
- document text gets a per-replica word suffix (replica 0 is the original
  corpus verbatim), so the driver-seeded near-duplicate structure is
  preserved WITHIN each replica (dup pairs scale ~linearly, ~REP x) but
  replicas are not near-duplicates of each other — a 10x corpus with the
  same duplicate RATE, which is the honest scaling for the dedup family;
- customer names get the same per-replica suffix so entity-resolution
  blocks scale in count, not in block size;
- events get disjoint user_id ranges per replica (user COUNT grows 10x,
  per-user history stays constant — the realistic direction for
  user-keyed state);
- dimension tables (region/nation/part/supplier) are copied verbatim:
  dims grow far slower than facts at real scale, and keeping them fixed
  preserves every broadcast-join decision the plans were pinned on.

Deterministic (no RNG, no clock); writing twice produces identical data.
Run solo: ``python scripts/scale_smoke_gen.py`` (~1 min), then
``SPARK_GRAFT_SF_DIR=$PWD/.scratch/sf1.0smoke SPARK_GRAFT_BENCH_ONLY=...
python bench.py`` for the smoke itself (see BASELINE.md round-5 records).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from etl_pyspark_spark.session import get_session  # noqa: E402
from etl_pyspark_spark.sources.io import read_table  # noqa: E402
from etl_pyspark_spark.sources.layouts import _SCRATCH  # noqa: E402

# MODE=replicate (default): the round-5 10x smoke, byte-identical to
# its original output (REP x REP + r key interleave, fixed part/supp
# catalogs). MODE=grow: the round-6 catalog-growing smoke — the
# *intended* 100 TB regime, where catalogs and name spaces grow WITH
# the facts so graph degrees and ER block sizes stay realistic:
#
# - keys shift by r * 10^9 (disjoint BLOCKS, not interleaved): every
#   ``key % k`` shard filter in the engine (k | 10^9: the %10
#   co-purchase shard, %50 user sample) keeps its source selectivity
#   inside every replica, killing the replicate-mode artifact where
#   replica 0's keys all pass the %10 shard and densify the graph;
# - l_partkey / l_suppkey shift too, and part/supplier are emitted
#   grown, so co-purchase degrees stay at source level (30 disjoint
#   source-shaped graphs) instead of multiplying;
# - customer names get their first two characters retagged per
#   replica (same-length substitution, identical within a replica, so
#   every in-replica levenshtein distance is preserved) — the
#   (nation, 16-char-prefix) ER block SPACE grows ~REP x while block
#   sizes stay at source level.
MODE = os.environ.get("SPARK_GRAFT_SMOKE_MODE", "replicate")
GROW = MODE == "grow"
REP = int(os.environ.get("SPARK_GRAFT_SMOKE_REP", "30" if GROW else "10"))
_BLOCK = 10**9
SRC = os.environ.get("SPARK_GRAFT_SMOKE_SRC", "/root/testdata/sf0.1")
DST = os.environ.get(
    "SPARK_GRAFT_SMOKE_DST",
    os.path.join(_SCRATCH, f"sf{REP / 10:.1f}grow" if GROW else "sf1.0smoke"),
)


def _with_rep(df):
    """Cross the table with the replica spine (broadcast, no shuffle)."""
    reps = F.broadcast(
        df.sparkSession.range(REP).select(F.col("id").alias("_r"))
    )
    return df.crossJoin(reps)


def _suffix_words(col: str):
    """Per-replica word suffix; replica 0 keeps the original text."""
    tagged = F.concat_ws(
        " ",
        F.transform(
            F.split(F.col(col), " "),
            lambda w: F.concat(w, F.lit("x"), F.col("_r").cast("string")),
        ),
    )
    return F.when(F.col("_r") == 0, F.col(col)).otherwise(tagged)


def main() -> None:
    spark = get_session(
        app_name="scale-smoke-gen",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(DST, exist_ok=True)

    def shift(col: str):
        if GROW:
            return (F.col(col) + F.col("_r") * _BLOCK).alias(col)
        return (F.col(col) * REP + F.col("_r")).alias(col)

    # grow mode only: dimension keys shift with the facts so the
    # catalog grows and per-part degrees stay at source level
    def dimshift(col: str):
        return shift(col) if GROW else F.col(col)

    def retag_name(col: str):
        """Replace the first two characters with a per-replica tag
        (replica 0 verbatim): same-length substitution applied
        uniformly within a replica preserves every in-replica pairwise
        levenshtein distance while making the 16-char blocking prefix
        replica-disjoint."""
        tag = F.concat(
            F.char(F.lit(65) + (F.col("_r") / 26).cast("int")),
            F.char(F.lit(65) + F.col("_r") % 26),
        )
        return F.when(F.col("_r") == 0, F.col(col)).otherwise(
            F.concat(tag, F.substring(F.col(col), 3, 2**30))
        )

    out = {}
    o = _with_rep(read_table(spark, SRC, "orders"))
    out["orders"] = o.select(
        shift("o_orderkey"),
        shift("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    li = _with_rep(read_table(spark, SRC, "lineitem"))
    out["lineitem"] = li.select(
        shift("l_orderkey"),
        dimshift("l_partkey"),
        dimshift("l_suppkey"),
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )
    d = _with_rep(read_table(spark, SRC, "documents"))
    out["documents"] = d.select(
        shift("doc_id"),
        _suffix_words("text").alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    c = _with_rep(read_table(spark, SRC, "customer"))
    out["customer"] = c.select(
        shift("c_custkey"),
        (
            retag_name("c_name")
            if GROW
            else F.when(F.col("_r") == 0, F.col("c_name")).otherwise(
                F.concat(
                    F.col("c_name"), F.lit(" x"), F.col("_r").cast("string")
                )
            )
        ).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    ev = _with_rep(read_table(spark, SRC, "events"))
    out["events"] = ev.select(
        shift("event_id"),
        "ts",
        shift("user_id"),
        "event_type",
        "value",
        "props",
    )
    emb = _with_rep(read_table(spark, SRC, "embeddings"))
    out["embeddings"] = emb.select(
        shift("vec_id"),
        # nudge one coordinate per replica so replicas are near but not
        # identical in embedding space (identical vectors would make
        # cosine ties nondeterministic to rank)
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.col("_r") * F.lit(0.001))
            .otherwise(x)
            .cast("float"),
        ).alias("embedding"),
        "label",
    )
    # region/nation stay fixed in BOTH modes (25 nations is the real
    # world); part/supplier grow with the facts in grow mode so
    # degrees stay realistic, stay fixed in replicate mode to preserve
    # round-5 comparability.
    for t in ("region", "nation"):
        out[t] = read_table(spark, SRC, t)
    if GROW:
        p = _with_rep(read_table(spark, SRC, "part"))
        out["part"] = p.select(
            shift("p_partkey"),
            retag_name("p_name").alias("p_name"),
            "p_brand",
            "p_type",
            "p_size",
            "p_retailprice",
        )
        s = _with_rep(read_table(spark, SRC, "supplier"))
        out["supplier"] = s.select(
            shift("s_suppkey"),
            retag_name("s_name").alias("s_name"),
            "s_nationkey",
            "s_acctbal",
        )
    else:
        for t in ("part", "supplier"):
            out[t] = read_table(spark, SRC, t)

    import shutil

    for t, df in out.items():
        final = os.path.join(DST, f"{t}.parquet")
        if GROW:
            # directory-shaped table (read_table's spark.read.parquet
            # accepts it): parallel write, no single-task coalesce of
            # a 30x fact table
            if os.path.isfile(final):
                os.remove(final)
            df.write.mode("overwrite").parquet(final)
            print(t, "rows:", spark.read.parquet(final).count(), flush=True)
            continue
        # single file per table, matching the fixture layout contract
        # (read_table globs <dir>/<t>.parquet); parallelism at read time
        # comes from maxPartitionBytes row-group splitting, as it does
        # for the driver fixtures themselves
        tmp = os.path.join(DST, f"_tmp_{t}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        if os.path.exists(final):
            os.remove(final)
        os.rename(os.path.join(tmp, part), final)
        shutil.rmtree(tmp)
        print(t, "rows:", spark.read.parquet(final).count(), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
