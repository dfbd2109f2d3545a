#!/usr/bin/env python3
"""Generate a NATIVE (non-replicated) fixture set at an arbitrary scale
factor with natural key distributions.

Every prior scale record (BASELINE.md rounds 5-7) is replicate/grow
synthetic: sf0.1 crossed with a replica spine. Those fixtures prove
sublinearity but inherit sf0.1's key geometry inside every replica.
This generator is the second fixed point the round-7 verdict asked for
(#6): an honest single-population sf1.0 whose distributions are the
NATURAL ones —

- **skewed fact keys**: order counts per customer follow a power-law-ish
  map (``custkey = floor(N * u^1.6)``), so some customers carry many
  orders — measured max/mean = 16.7x at sf0.01 — and the tail carries
  few; events are user-skewed the same way with
  exponent 2.2 (heavy users dominate, the regime AQE skew handling and
  the engine's salted operators exist for);
- **TPC-H-shaped dimensions** at true sf ratios (sf1.0: 150k customers,
  1.5M orders, ~6M lineitem, 200k parts, 10k suppliers — the classic
  sf1 sizes the driver's sf0.1 fixture is a 1/10th of);
- **documents with the driver's duplicate GRAMMAR** (observed on
  /root/testdata: 30-word vocab, 10-99 words/doc, ~5% near-dup docs =
  copy of an earlier doc with a ``dup`` token spliced in, lang mix
  en .44 / others ~.14) but a fresh population at 10x count;
- **embeddings with the driver's cluster tightness** (unit-norm 64-dim,
  10 labels, mean cosine-to-own-centroid ~=0.15 — weakly separable, so
  ANN recall numbers are earned, not given).

Deterministic and RNG-free: every draw is ``xxhash64(key, tag)``
mapped to [0,1) — generating twice produces identical bytes, and the
generation itself is a distributed Spark job (``spark.range`` →
column expressions; only the dup-text splice is a self-join), so the
same script generates sf100 on a real cluster.

Run: ``python scripts/native_datagen.py`` (~1-2 min at sf1.0), then
``SPARK_GRAFT_SF_DIR=$PWD/.scratch/sf1.0native python bench.py``.
Env: SPARK_GRAFT_NATIVE_SF (default 1.0), SPARK_GRAFT_NATIVE_DST.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_pyspark_spark.session import get_session  # noqa: E402
from etl_pyspark_spark.sources.layouts import _SCRATCH  # noqa: E402

SF = float(os.environ.get("SPARK_GRAFT_NATIVE_SF", "1.0"))
DST = os.environ.get(
    "SPARK_GRAFT_NATIVE_DST", os.path.join(_SCRATCH, f"sf{SF:g}native")
)

N_CUSTOMER = int(150_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_PART = int(200_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_EVENTS = int(1_000_000 * SF)
N_USERS = int(15_000 * SF)
N_DOCS = int(50_000 * SF)
N_EMB = int(20_000 * SF)

# value domains observed on the driver fixtures (sf0.01/sf0.1) — kept
# identical so every hardcoded membership/range predicate in the
# registry stays selective on native data.
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
RETFLAGS = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "es", "fr"]  # weights .44/.14/.14/.14/.14
VOCAB = [
    "join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a",
    "spark", "part", "group", "big", "sort", "query", "fast", "the",
]

_MASK = (1 << 40) - 1


def u(tag: str, *cols):
    """Deterministic uniform [0,1) from (tag, cols) — the only 'RNG'."""
    return (
        F.pmod(F.xxhash64(F.lit(tag), *cols), F.lit(_MASK)).cast("double")
        / float(_MASK)
    )


def pick(tag: str, key, values: list[str]):
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (u(tag, key) * len(values)).cast("int") + 1)


def skewed_key(tag: str, key, n: int, exponent: float):
    """Power-law-ish foreign key: floor(n * u^exponent). exponent>1
    concentrates mass near 0 — a natural heavy-head distribution with a
    long tail of keys that never appear."""
    return F.floor(F.pow(u(tag, key), F.lit(exponent)) * n).cast("long")


def main() -> None:
    spark = get_session(app_name="native-datagen")
    spark.sparkContext.setLogLevel("ERROR")

    def write(df, name, parts):
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(DST, f"{name}.parquet")
        )
        print(f"{name}: done", flush=True)

    # ---- dimensions -------------------------------------------------
    region = spark.createDataFrame(
        [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
         (4, "MIDDLE EAST")],
        "r_regionkey int, r_name string",
    )
    write(region, "region", 1)

    nation = spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
        F.pmod(F.col("id"), F.lit(5)).cast("int").alias("n_regionkey"),
    )
    write(nation, "nation", 1)

    customer = spark.range(N_CUSTOMER).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        (u("c_nat", F.col("id")) * 25).cast("int").alias("c_nationkey"),
        F.round(u("c_bal", F.col("id")) * 10999.98 - 999.99, 2).alias(
            "c_acctbal"
        ),
        pick("c_seg", F.col("id"), SEGMENTS).alias("c_mktsegment"),
    )
    write(customer, "customer", max(1, N_CUSTOMER // 200_000 + 1))

    supplier = spark.range(N_SUPPLIER).select(
        F.col("id").alias("s_suppkey"),
        F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
        (u("s_nat", F.col("id")) * 25).cast("int").alias("s_nationkey"),
        F.round(u("s_bal", F.col("id")) * 10999.98 - 999.99, 2).alias(
            "s_acctbal"
        ),
    )
    write(supplier, "supplier", 1)

    part = spark.range(N_PART).select(
        F.col("id").alias("p_partkey"),
        F.concat(
            pick("p_adj", F.col("id"), ADJS),
            F.lit(" "),
            pick("p_noun", F.col("id"), NOUNS),
        ).alias("p_name"),
        F.concat(
            F.lit("Brand#"), ((u("p_brand", F.col("id")) * 25).cast("int") + 1)
        ).alias("p_brand"),
        pick("p_type", F.col("id"), PTYPES).alias("p_type"),
        ((u("p_size", F.col("id")) * 50).cast("int") + 1).alias("p_size"),
        # driver formula: 900 + key/10, bounded to the driver's range so
        # price-band predicates keep their selectivity at any SF
        F.round(900.0 + F.pmod(F.col("id"), F.lit(2000)) / 10.0, 1).alias(
            "p_retailprice"
        ),
    )
    write(part, "part", max(1, N_PART // 500_000 + 1))

    # ---- orders: skewed custkey, uniform dates ---------------------
    orders = spark.range(N_ORDERS).select(
        F.col("id").alias("o_orderkey"),
        skewed_key("o_cust", F.col("id"), N_CUSTOMER, 1.6).alias("o_custkey"),
        pick("o_status", F.col("id"), STATUSES).alias("o_orderstatus"),
        F.round(u("o_total", F.col("id")) * 498000.0 + 1000.0, 2).alias(
            "o_totalprice"
        ),
        F.timestamp_seconds(
            F.lit(788918400)  # 1995-01-01 UTC
            + (u("o_date", F.col("id")) * 2404).cast("long") * 86400
        ).alias("o_orderdate"),
        pick("o_prio", F.col("id"), PRIORITIES).alias("o_orderpriority"),
    )
    write(orders, "orders", max(1, N_ORDERS // 500_000 + 1))

    # ---- lineitem: 1-7 lines per order (binomial-ish, mode 4) ------
    oc = F.col("o_orderkey")
    nlines = (
        sum(
            (u(f"l_n{i}", oc) < 0.5).cast("int") for i in range(6)
        ) + 1
    ).alias("n_lines")
    li_base = (
        orders.select("o_orderkey", "o_orderdate")
        .withColumn("n_lines", nlines)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.explode(F.sequence(F.lit(1), F.col("n_lines"))).alias(
                "l_linenumber"
            ),
        )
    )
    ln = F.col("l_linenumber")
    partkey = (u("l_part", oc, ln) * N_PART).cast("long")
    qty = F.floor(u("l_qty", oc, ln) * 50 + 1).cast("double")
    lineitem = li_base.select(
        F.col("o_orderkey").alias("l_orderkey"),
        partkey.alias("l_partkey"),
        (u("l_supp", oc, ln) * N_SUPPLIER).cast("long").alias("l_suppkey"),
        ln.cast("int").alias("l_linenumber"),
        qty.alias("l_quantity"),
        # extendedprice = qty * retailprice(partkey), the driver identity
        F.round(
            qty * (900.0 + F.pmod(partkey, F.lit(2000)) / 10.0), 2
        ).alias("l_extendedprice"),
        F.round((u("l_disc", oc, ln) * 11).cast("int") / 100.0, 2).alias(
            "l_discount"
        ),
        F.round((u("l_tax", oc, ln) * 9).cast("int") / 100.0, 2).alias(
            "l_tax"
        ),
        pick("l_rf", oc + ln, RETFLAGS).alias("l_returnflag"),
        pick("l_ls", oc + ln, LINESTATUS).alias("l_linestatus"),
        (
            F.col("o_orderdate")
            + F.make_dt_interval(
                days=(u("l_ship", oc, ln) * 95).cast("int") + 1
            )
        ).alias("l_shipdate"),
    )
    write(lineitem, "lineitem", max(1, int(N_ORDERS * 4) // 400_000 + 1))

    # ---- events: user-skewed, 30 days of 2024-01, exp(50) values ---
    eid = F.col("id")
    events = spark.range(N_EVENTS).select(
        eid.alias("event_id"),
        F.timestamp_micros(
            F.lit(1704067200_000000)  # 2024-01-01 UTC, micros
            + (u("e_ts", eid) * 2591999.0 * 1e6).cast("long")
        ).alias("ts"),
        skewed_key("e_user", eid, N_USERS, 2.2).alias("user_id"),
        pick("e_type", eid, EVENT_TYPES).alias("event_type"),
        F.round(
            F.greatest(F.lit(0.01), -F.log(u("e_val", eid) + 1e-12) * 50.0),
            2,
        ).alias("value"),
        F.concat(
            F.lit('{"k": '), (u("e_k", eid) * 100).cast("int"), F.lit("}")
        ).alias("props"),
    )
    write(events, "events", max(1, N_EVENTS // 400_000 + 1))

    # ---- documents: driver grammar, fresh population ----------------
    did = F.col("id")
    n_words = ((u("d_len", did) * 90).cast("int") + 10).alias("n_words")
    vocab_arr = F.array(*[F.lit(w) for w in VOCAB])
    base_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.col("n_words")),
            lambda i: F.element_at(
                vocab_arr,
                F.pmod(F.xxhash64(F.lit("d_w"), did, i), F.lit(30)).cast(
                    "int"
                )
                + 1,
            ),
        ),
    )
    docs_base = (
        spark.range(N_DOCS)
        .withColumn("n_words", n_words)
        .select(
            did.alias("doc_id"),
            base_text.alias("base_text"),
            pick(
                "d_lang",
                did,
                # .44 en via doubled entries, then .14 each
                ["en", "en", "en", "zh", "de", "es", "fr"],
            ).alias("lang"),
            pick("d_src", did, [f"src{i}" for i in range(20)]).alias(
                "source"
            ),
            (u("d_dup", did) < 0.05).alias("is_dup"),
            # source doc for dup rows: any earlier id (hash-uniform)
            F.least(
                (u("d_dupsrc", did) * did).cast("long"),
                did - 1,
            ).alias("dup_src"),
        )
    )
    srcs = docs_base.select(
        F.col("doc_id").alias("dup_src"),
        F.col("base_text").alias("src_text"),
    )
    docs = (
        docs_base.join(
            srcs.hint("shuffle_hash"),
            on="dup_src",
            how="left",
        )
        .select(
            "doc_id",
            F.when(
                F.col("is_dup") & (F.col("doc_id") > 0),
                # splice a 'dup' token at a hash position, like the
                # driver's seeded near-duplicates
                F.concat_ws(
                    " ",
                    F.slice(
                        F.split(F.col("src_text"), " "),
                        1,
                        (
                            u("d_dpos", F.col("doc_id"))
                            * F.size(F.split(F.col("src_text"), " "))
                        ).cast("int")
                        + 1,
                    ),
                    F.array(F.lit("dup")),
                    F.slice(
                        F.split(F.col("src_text"), " "),
                        (
                            u("d_dpos", F.col("doc_id"))
                            * F.size(F.split(F.col("src_text"), " "))
                        ).cast("int")
                        + 2,
                        F.lit(200),
                    ),
                ),
            )
            .otherwise(F.col("base_text"))
            .alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text"))
    )
    write(docs, "documents", max(1, N_DOCS // 100_000 + 1))

    # ---- embeddings: unit-norm, weak 10-label clusters --------------
    vid = F.col("id")
    label = F.pmod(F.xxhash64(F.lit("v_lab"), vid), F.lit(10)).cast("int")
    # raw[d] = gaussian-ish noise (Irwin-Hall 4) + 0.15 * centroid[d],
    # centroid[d] = gaussian-ish from (label, d); then L2-normalize.
    dim = F.sequence(F.lit(0), F.lit(63))

    def gauss(tag, k, d):
        # sum of 4 uniforms - 2: mean 0, var 1/3; scale to ~N(0,1)
        s = None
        for j in range(4):
            t = (
                F.pmod(
                    F.xxhash64(F.lit(f"{tag}{j}"), k, d), F.lit(_MASK)
                ).cast("double")
                / float(_MASK)
            )
            s = t if s is None else s + t
        return (s - F.lit(2.0)) * F.lit(1.7320508)

    # signal weight 0.15: vec = noise + w*centroid gives expected
    # cos(vec, centroid) ~= w/sqrt(1+w^2) ~= 0.149, the driver's
    # measured tightness (0.146)
    raw = F.transform(
        dim, lambda d: gauss("v_n", vid, d) + 0.15 * gauss("v_c", label, d)
    )
    # normalize in a second select so `raw` evaluates once per row
    embeddings = spark.range(N_EMB).select(
        vid.alias("vec_id"),
        raw.alias("_raw"),
        label.alias("label"),
    ).select(
        "vec_id",
        F.transform(
            F.col("_raw"),
            lambda x: (
                x
                / F.sqrt(
                    F.aggregate(
                        F.col("_raw"), F.lit(0.0), lambda a, y: a + y * y
                    )
                )
            ).cast("float"),
        ).alias("embedding"),
        "label",
    )
    write(embeddings, "embeddings", max(1, N_EMB // 100_000 + 1))

    print(f"native fixture written to {DST}")


if __name__ == "__main__":
    main()
