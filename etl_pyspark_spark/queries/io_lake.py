"""Query family: io_lake (mechanically split from registry.py — see core)."""

from __future__ import annotations

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    ORACLES,
    QUERIES,
    SparkSession,
    _dec_sum_sql,
    dec_sum,
    os,
    query,
    read_table,
)
from etl_pyspark_spark.queries._shared import _register_views
from etl_pyspark_spark.sources.layouts import _SCRATCH, ensure_orders_by_year

# ---------------------------------------------------------------------------
# IO round-trips: the reference's scatter/process/gather file pipeline
# (SURVEY §2.1 S1-S8, §2.5) re-expressed as distributed sinks/scans —
# typed parquet end-to-end, no pandas text hop (S6/S7 anti-pattern).
# ---------------------------------------------------------------------------

@query(
    "pipeline_roundtrip",
    oracle=ORACLES["reference_pipeline"],
)
def q_pipeline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full lifecycle — transform, chunked zstd parquet
    sink (slicer's fixed-row chunking as a write option,
    reference parquet_slicer.py:53-58), distributed re-scan (assembler
    gather, parquet_assembler.py:29-37) — with zero fidelity loss: the
    oracle is the same SQL as reference_pipeline because a parquet
    round trip preserves every type and value (the reference's text
    hop, nyc_taxi_etl.py:110-115, preserved neither)."""
    from etl_pyspark_spark.sources.io import read_parquet, write_parquet

    out = f"{_SCRATCH}/pipeline_roundtrip"
    df = QUERIES["reference_pipeline"](spark, sf_dir)
    write_parquet(df, out, max_records_per_file=5000)
    return read_parquet(spark, out)


@query(
    "xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    """,
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source/sink (new in Spark 4 — previously the
    external spark-xml package): write the nation dim as row-tagged
    XML, read it back with an explicit schema. Rounds out the text-
    format surface (CSV/JSON/text/XML) the ingest edge of a lake
    needs; like the CSV path, the pinned read schema makes the round
    trip lossless."""
    out = f"{_SCRATCH}/xml_roundtrip"
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    (
        n.write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .mode("overwrite")
        .save(out)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .load(out)
    )


@query(
    "csv_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(year(o_orderdate) AS INT) AS order_year
    FROM orders WHERE o_orderkey % 10 = 3
    """,
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed CSV sink + schema'd CSV scan (replaces the
    reference's pandas text round trip, parquet_assembler.py:17-28,
    which re-inferred every dtype; here the explicit read schema
    pins the types so the round trip is lossless)."""
    from etl_pyspark_spark.sources.io import read_csv

    out = f"{_SCRATCH}/csv_roundtrip"
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 3)
    sel = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.year("o_orderdate").alias("order_year"),
    )
    sel.write.mode("overwrite").option("header", "true").csv(out)
    return read_csv(
        spark,
        out,
        schema="o_orderkey bigint, o_orderstatus string, "
        "o_totalprice double, order_year int",
    )


@query(
    "orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS l_quantity, l_returnflag
    FROM lineitem WHERE l_orderkey % 40 = 7
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan (zlib): the second columnar format Spark ships
    natively — same vectorized reader, predicate pushdown and column
    pruning as parquet, so lakes standardized on ORC plug in with a
    one-word format switch."""
    out = f"{_SCRATCH}/orc_roundtrip"
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 40 == 7
    )
    sel = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_quantity"),
        "l_returnflag",
    )
    sel.write.mode("overwrite").option("compression", "zlib").orc(out)
    return spark.read.orc(out)


@query(
    "json_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 = 2
    """,
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed JSON-lines sink + schema'd scan (the third
    interchange format next to parquet/csv)."""
    from etl_pyspark_spark.sources.io import read_json

    out = f"{_SCRATCH}/json_roundtrip"
    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 2)
    d.select("doc_id", "lang", "n_chars").write.mode("overwrite").json(out)
    return read_json(
        spark, out, schema="doc_id bigint, lang string, n_chars bigint"
    )


@query("stream_dedup_within_watermark")  # no oracle: batching-dependent
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: streaming dedup whose state is
    *bounded* by the watermark delay — the production choice for
    unbounded key spaces (plain dropDuplicates state grows forever).
    Keys recurring further apart than the delay may legitimately both
    survive, so the exact result depends on micro-batch boundaries:
    registered rows-only; tests/test_streaming.py checks the
    invariants (no within-batch dups, count between distinct-count and
    input-count)."""
    from etl_pyspark_spark.streaming.windows import run_to_memory_table, stream_events

    sdf = stream_events(spark, sf_dir)
    dd = sdf.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    # dropDuplicatesWithinWatermark emits survivors on arrival; the
    # watermark only expires state — skip the empty flush batch
    return run_to_memory_table(
        dd.select("user_id", "event_type"),
        spark,
        mode="append",
        final_flush=False,
    )


@query(
    "stream_cdc_upsert",
    oracle="""
    SELECT user_id, event_id AS latest_event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS latest_epoch_s, value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (MERGE without a table format): each
    micro-batch upserts into a keyed lake table via foreachBatch —
    current-state read + union + keep-latest-per-key window + a
    versioned-directory commit. Bounded replay converges to exactly
    the batch latest-per-key result (the oracle). On a real lake this
    becomes ``MERGE INTO`` on Delta/Iceberg; the plan shape per batch
    — keyed window over current ∪ delta, rewrite only the table — is
    what foreachBatch exists for. Commit protocol (the one-file
    miniature of a Delta/Iceberg snapshot log): each batch writes a
    NEW version dir ``v{batch_id}``, then flips a ``CURRENT`` manifest
    with one atomic rename — readers resolve through the manifest, so
    the table is never observed missing or half-written, and a crash
    between write and flip simply leaves the previous version current.
    Per-key partitioning would bound the rewrite to touched partitions
    at scale."""
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    from etl_pyspark_spark.streaming.windows import (
        stream_events,
        stream_shuffle_partitions,
    )

    out = f"{_SCRATCH}/stream_cdc_upsert"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    manifest = os.path.join(out, "CURRENT")

    def current_version_dir() -> str | None:
        try:
            with open(manifest) as fh:
                p = os.path.join(out, fh.read().strip())
            return p if os.path.isdir(p) else None
        except OSError:
            return None

    sdf = stream_events(spark, sf_dir)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df
        cur_dir = current_version_dir()
        if cur_dir is not None:
            cur = spark.read.parquet(cur_dir)
            new = cur.unionByName(batch_df)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            new.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        vname = f"v{batch_id}"
        latest.write.mode("overwrite").parquet(os.path.join(out, vname))
        # atomic flip: the only mutation readers can observe
        fd, tmp = tempfile.mkstemp(dir=out, prefix=".manifest.")
        with os.fdopen(fd, "w") as fh:
            fh.write(vname)
        os.replace(tmp, manifest)
        # retire superseded versions (best-effort vacuum)
        for d in os.listdir(out):
            if d.startswith("v") and d != vname:
                shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    with stream_shuffle_partitions(spark):
        q = (
            sdf.writeStream.foreachBatch(upsert)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(current_version_dir()).select(
        "user_id",
        F.col("event_id").alias("latest_event_id"),
        F.unix_timestamp("ts").alias("latest_epoch_s"),
        "value",
    )


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           value
    FROM events WHERE event_type = 'purchase' AND value > 50.0
    """,
)
def q_stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands as zstd parquet via
    the same distributed writer the batch engine uses (idempotent by
    batch-id partition dir); the query returns the re-scanned sink.
    This is the streaming->lake shape (what the reference's
    chunk-text-files wanted to be, nyc_taxi_etl.py:105-119)."""
    from etl_pyspark_spark.sources.io import read_parquet
    from etl_pyspark_spark.streaming.windows import stream_events

    out = f"{_SCRATCH}/stream_foreach_batch"
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    sdf = stream_events(spark, sf_dir)
    filtered = sdf.where(
        (F.col("event_type") == "purchase") & (F.col("value") > 50.0)
    ).select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("epoch_s"), "value"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").option("compression", "zstd").parquet(
            f"{out}/batch_id={batch_id}"
        )

    from etl_pyspark_spark.streaming.windows import stream_shuffle_partitions

    with stream_shuffle_partitions(spark):
        q = (
            filtered.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out}_ckpt")
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(f"{out}_ckpt", ignore_errors=True)
    return read_parquet(spark, out).drop("batch_id")


# ---------------------------------------------------------------------------
# Skew handling + HAVING + custom stateful streaming
# ---------------------------------------------------------------------------


@query(
    "agg_salted_hot_keys",
    oracle=f"""
    SELECT l_returnflag,
           {_dec_sum_sql('l_extendedprice', 'sum_price')},
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation over a 3-value hot key
    (operators/skew.py): identical result to the plain group-by —
    which is exactly what the oracle asserts — but no single reducer
    ever sees a whole hot key's rows."""
    from etl_pyspark_spark.operators.skew import salted_agg

    li = read_table(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        keys=["l_returnflag"],
        salt_cols=["l_orderkey", "l_linenumber"],
        partial_aggs=[
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("_ps"),
            F.count(F.lit(1)).alias("_pn"),
        ],
        merge_aggs=[
            F.sum("_ps").cast("double").alias("sum_price"),
            F.sum("_pn").alias("n"),
        ],
    )


@query(
    "having_filter",
    oracle="""
    SELECT c_custkey, c_name, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_spent
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    HAVING count(*) >= 15
    """,
)
def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: post-aggregation HAVING filter (big spenders by
    order count)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_spent"),
        )
        .where(F.col("n_orders") >= 15)
    )


@query(
    "stream_stateful_counter",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-user running (count, sum) GroupState, emitted at end of
    replay. This is the escape hatch for stateful logic that built-in
    streaming aggregation can't express (custom eviction, nested
    state machines); here it intentionally reimplements a groupBy so
    the oracle can verify the state machinery exactly."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    from etl_pyspark_spark.streaming.windows import run_to_memory_table, stream_events

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s_micro", T.LongType()),  # decimal(18,6) as int
        ]
    )

    def count_events(key, pdfs, state: GroupState):
        n, s_micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # accumulate in integer micros: exact, order-independent,
            # matches the oracle's DECIMAL(18,6) sum
            s_micro += int(
                round(sum(round(float(v) * 1e6) for v in pdf["value"]))
            )
        state.update((n, s_micro))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s_micro / 1e6]}
        )

    sdf = stream_events(spark, sf_dir)
    counted = (
        sdf.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            count_events,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # update mode + NoTimeout: every emission rides a data batch —
    # skip the empty flush batch
    mem = run_to_memory_table(
        counted, spark, mode="update", final_flush=False
    )
    # update mode re-emits a user on every batch; the last emission per
    # user is the final state (single-batch replay emits exactly once)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        mem.select("*", F.row_number().over(w).alias("_rk"))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


@query(
    "dedup_latest_per_key",
    oracle="""
    SELECT user_id, event_id AS latest_event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS latest_epoch_s, value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def q_dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key dedup (operators/windows.dedup_latest) —
    the CDC/training-snapshot staple: one window shuffle on the key,
    rank filter pushed into the sort as a group-limit."""
    from etl_pyspark_spark.operators.windows import dedup_latest

    ev = read_table(spark, sf_dir, "events")
    return dedup_latest(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select(
        "user_id",
        F.col("event_id").alias("latest_event_id"),
        F.unix_timestamp("ts").alias("latest_epoch_s"),
        "value",
    )


# ---------------------------------------------------------------------------
# Partitioned lake layout + partition pruning, range frames, Q2/Q22
# shapes, higher-order functions
# ---------------------------------------------------------------------------


@query(
    "partitioned_layout_pruning",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def q_partitioned_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake layout: write orders partitioned by
    order_year, read back with a partition filter. The year predicate
    is resolved from directory names (PartitionFilters in the scan,
    asserted in tests/test_plans.py) — at 100 TB this is the
    difference between scanning one partition and scanning the lake."""
    from etl_pyspark_spark.sources.io import read_parquet

    out = ensure_orders_by_year(spark, sf_dir)
    return (
        read_parquet(spark, out)
        .where(F.col("order_year") == 1996)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )


@query(
    "dpp_join_pruning",
    oracle=f"""
    WITH cal AS (
      SELECT DISTINCT year(o_orderdate) AS order_year FROM orders
    )
    SELECT o.order_year, count(*) AS n_orders,
           {_dec_sum_sql("o_totalprice", "total_price")}
    FROM (SELECT *, year(o_orderdate) AS order_year FROM orders) o
    JOIN cal ON o.order_year = cal.order_year
    WHERE cal.order_year IN (1996, 1997)
    GROUP BY o.order_year
    """,
)
def q_dpp_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the hive-partitioned
    orders layout, the filter lives on the DIM side only — Spark turns
    the dim's filtered build set into a runtime partition filter on the
    fact scan (``dynamicpruningexpression`` in the plan, pinned in
    tests/test_plans.py). At 100 TB this is star-schema 101: the fact
    table never materializes partitions the dim filter excludes, even
    though no literal predicate mentions them."""
    from etl_pyspark_spark.sources.io import read_parquet

    out = ensure_orders_by_year(spark, sf_dir)
    facts = read_parquet(spark, out)
    # dim built from parquet (not a local relation, which would
    # constant-fold): distinct years, filtered AFTER the join is
    # declared — exactly the shape DPP exists for
    cal = (
        read_table(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("order_year"))
        .distinct()
        .where(F.col("order_year").isin(1996, 1997))
    )
    return (
        facts.join(cal, "order_year")
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum(F.col("o_totalprice"), "total_price"),
        )
    )


@query(
    "bucketed_join_colocated",
    oracle=f"""
    SELECT c_mktsegment, count(*) AS n_orders,
           {_dec_sum_sql("o_totalprice", "total_price")}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: orders and customer bucketed on
    custkey via saveAsTable, then sort-merge joined with ZERO Exchange
    on either side (pinned in tests/test_plans.py). The per-query
    shuffle is pre-paid once at ingest (sources/bucketed.py)."""
    from etl_pyspark_spark.sources.bucketed import (
        colocated_join,
        ensure_bucketed_fixtures,
    )

    ensure_bucketed_fixtures(spark, sf_dir)
    j = colocated_join(
        spark,
        "orders_bkt",
        "customer_bkt",
        lambda l, r: l.o_custkey == r.c_custkey,
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum(F.col("o_totalprice"), "total_price"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                          RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING)
             AS n_price_neighbors
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based window): rows within +-1000 of each
    order's price — value neighborhoods, not row offsets."""
    o = read_table(spark, sf_dir, "orders")
    # the python Window API only takes integer offsets; fractional
    # RANGE frames go through the SQL expression form
    frame = F.expr(
        "count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice "
        "RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING)"
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        frame.alias("n_price_neighbors"),
    )


@query(
    "min_per_group_join_back",
    oracle="""
    SELECT s.s_nationkey AS nationkey, s.s_suppkey, s.s_name,
           CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN (SELECT s_nationkey, min(s_acctbal) AS min_bal
          FROM supplier GROUP BY s_nationkey) m
      ON s.s_nationkey = m.s_nationkey AND s.s_acctbal = m.min_bal
    """,
)
def q_min_per_group_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: aggregate-then-join-back (rows attaining the
    per-group minimum). The agg side is tiny after reduction, so it
    broadcasts; no window sort needed."""
    s = read_table(spark, sf_dir, "supplier")
    m = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        s.join(
            F.broadcast(m),
            (s.s_nationkey == m.nk) & (s.s_acctbal == m.min_bal),
        )
        .select(
            F.col("s_nationkey").alias("nationkey"),
            "s_suppkey",
            "s_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
        )
    )


@query(
    "global_avg_filter_anti",
    oracle="""
    SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND year(o_orderdate) >= 1998)
    """,
)
def q_global_avg_filter_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (global average,
    computed once and broadcast as a literal-like join) + anti join
    (customers with positive balance above average and no orders)."""
    _register_views(spark, sf_dir, "customer", "orders")
    return spark.sql("""
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND year(o_orderdate) >= 1998)
    """)


@query(
    "higher_order_functions",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents)
    SELECT doc_id,
           list_transform(toks[1:3], x -> upper(x)) AS head_upper,
           len(list_filter(toks, x -> length(x) > 5)) AS n_long,
           list_has_any(toks, ['spark', 'sql']) AS mentions_engine,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
             AS total_chars,
           list_reduce(list_prepend('', toks[1:2]),
                       (acc, x) -> acc || '|' || x) AS piped_head
    FROM t
    """,
)
def q_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform, filter, exists,
    aggregate (fold) — lambda expressions compiled into codegen, the
    JVM-side alternative to exploding + re-grouping."""
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents")
    # split once, reference five times (CollapseProject keeps
    # multiply-referenced non-trivial exprs un-inlined; 3.7x faster)
    docs = docs.select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    return docs.select(
        "doc_id",
        F.transform(F.slice(toks, 1, 3), lambda x: F.upper(x)).alias(
            "head_upper"
        ),
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).alias("n_long"),
        F.exists(
            toks, lambda x: (x == "spark") | (x == "sql")
        ).alias("mentions_engine"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("total_chars"),
        F.aggregate(
            F.slice(toks, 1, 2),
            F.lit(""),
            lambda acc, x: F.concat(acc, F.lit("|"), x),
        ).alias("piped_head"),
    )


# ---------------------------------------------------------------------------
# Calendar spine, schema evolution, null semantics
# ---------------------------------------------------------------------------


@query(
    "date_spine_join",
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1998-12-01',
                                         INTERVAL 1 MONTH)) AS DATE) AS month_start),
    m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                 count(*) AS n_orders
          FROM orders GROUP BY 1)
    SELECT spine.month_start, coalesce(m.n_orders, 0) AS n_orders
    FROM spine LEFT JOIN m ON spine.month_start = m.month_start
    """,
)
def q_date_spine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar spine: generate a complete month sequence with
    ``sequence()`` + explode, left-join actuals, zero-fill gaps — the
    standard fix for time series that must not silently skip empty
    periods. The spine is generated in-engine (one row -> explode),
    never collected or hand-built on the driver."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1998-12-01").cast("date"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_start")
    )
    o = read_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month_start")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    return spine.join(m, "month_start", "left").select(
        "month_start", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )


@query(
    "schema_evolution_merge",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CASE WHEN year(o_orderdate) >= 1997
                THEN upper(o_orderpriority) END AS priority_tag
    FROM orders
    """,
)
def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution in a parquet lake: an old batch (2 columns) and
    a new batch (3 columns) coexist in one dataset; ``mergeSchema``
    reconciles the footers and old rows surface NULL for the added
    column — append-only evolution with no rewrite of history."""
    from etl_pyspark_spark.sources.io import write_parquet

    out = f"{_SCRATCH}/orders_evolving"
    o = read_table(spark, sf_dir, "orders")
    old_batch = o.where(F.year("o_orderdate") < 1997).select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    new_batch = o.where(F.year("o_orderdate") >= 1997).select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.upper("o_orderpriority").alias("priority_tag"),
    )
    write_parquet(old_batch, f"{out}/batch=old")
    write_parquet(new_batch, f"{out}/batch=new")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .select("o_orderkey", "o_totalprice", "priority_tag")
    )


@query(
    "null_semantics",
    oracle="""
    WITH t AS (
      SELECT event_id,
             nullif(user_id % 97, 0) AS maybe_uid,
             value
      FROM events)
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.maybe_uid
    FROM t a JOIN t b
      ON a.maybe_uid IS NOT DISTINCT FROM b.maybe_uid
     AND a.event_id < b.event_id AND a.event_id + 1 = b.event_id
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (`<=>` / IS NOT DISTINCT FROM): NULL keys
    *match each other* in the join — the semantics dedup and CDC diff
    pipelines need (plain `=` silently drops every NULL row)."""
    ev = read_table(spark, sf_dir, "events")
    t = ev.select(
        "event_id",
        F.nullif(F.col("user_id") % 97, F.lit(0)).alias("maybe_uid"),
        "value",
    )
    a = t.select(
        F.col("event_id").alias("id_a"), F.col("maybe_uid").alias("uid_a")
    )
    b = t.select(
        F.col("event_id").alias("id_b"), F.col("maybe_uid").alias("uid_b")
    )
    return (
        a.join(
            b,
            a.uid_a.eqNullSafe(b.uid_b)
            & (a.id_a < b.id_b)
            & (a.id_a + 1 == b.id_b),
        )
        .select("id_a", "id_b", F.col("uid_a").alias("maybe_uid"))
    )


@query("join_asof_cogroup", oracle=ORACLES["join_asof"])
def q_join_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, cogroup implementation: both sides shuffle once on
    user_id, each cogroup runs pandas merge_asof locally
    (operators/joins.asof_join_cogroup). Same oracle as join_asof —
    two independent implementations pinned to one answer."""
    from etl_pyspark_spark.operators.joins import asof_join_cogroup

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.unix_timestamp("ts").alias("purchase_epoch_s"),
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        F.unix_timestamp("ts").alias("signup_epoch_s"),
        F.col("value").alias("signup_value"),
    )
    out = asof_join_cogroup(
        purchases,
        signups,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["signup_epoch_s", "signup_value"],
    )
    return out.select(
        "event_id", "user_id", "purchase_epoch_s",
        "asof_signup_epoch_s", "asof_signup_value",
    )


@query(
    "multimodal_arrow_stats",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) % 251 AS BIGINT) AS shard
    FROM documents
    """,
)
def q_multimodal_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-pandas Arrow path — RecordBatches in,
    RecordBatches out, columnar compute via pyarrow.compute. The
    fastest Python lane (no pandas boxing); right for byte-level
    metadata over huge binary columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from etl_pyspark_spark.multimodal.assets import with_payload

    docs = read_table(spark, sf_dir, "documents")
    assets = with_payload(docs).select("doc_id", "payload")

    def stats(batches):
        for batch in batches:
            n = pc.binary_length(batch.column("payload")).cast(pa.int64())
            shard = pc.subtract(
                n, pc.multiply(pc.divide(n, 251), pa.scalar(251, pa.int64()))
            )  # n % 251 (integer divide truncates; no pc.mod in this pyarrow)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), n, shard],
                names=["doc_id", "n_bytes", "shard"],
            )

    return assets.mapInArrow(
        stats, schema="doc_id bigint, n_bytes bigint, shard bigint"
    )


@query(
    "map_hof_functions",
    oracle="""
    SELECT event_id,
           2 * CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_doubled,
           2 AS n_entries,
           CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50 AS k_high
    FROM events
    """,
)
def q_map_hof_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: transform_values, map_concat,
    map_filter, element access — the MapType manipulation surface over
    the parsed props column."""
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    doubled = F.transform_values(m, lambda _, v: v * 2)
    merged = F.map_concat(
        doubled, F.create_map(F.lit("one"), F.lit(1).cast("bigint"))
    )
    high = F.map_filter(m, lambda _, v: v >= 50)
    return ev.select(
        "event_id",
        F.element_at(doubled, "k").alias("k_doubled"),
        F.size(merged).alias("n_entries"),
        (F.size(high) > 0).alias("k_high"),
    )


@query("similarity_ivf_topk")  # no oracle: k-means quantizer is estimator-specific
def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 for 8 query vectors: k-means coarse
    quantizer (16 cells), 4 probed cells per query, per-cell GEMM
    (similarity/ivf.py). Rows-only check; tests/test_sketches.py
    bounds recall against the exact brute-force top-k."""
    from etl_pyspark_spark.similarity.ivf import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.where(F.col("vec_id") < 8))


@query(
    "multi_exists_correlated",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY),
    allsup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
               AND n_name IN ('NATION_1', 'NATION_3')
    WHERE EXISTS (SELECT 1 FROM allsup l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    """,
)
def q_multi_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (sole-late-supplier-in-multi-supplier-order):
    correlated EXISTS -> left-semi join, NOT EXISTS -> left-anti join,
    both on the order key with a supplier-mismatch residual; dims
    broadcast. (Lateness adapted to this fixture's columns: shipped
    >90 days after o_orderdate.)"""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(
            (F.col("o_orderstatus") == "F")
            & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
        )
        .select("l_orderkey", "l_suppkey")
    )
    allsup = li.select("l_orderkey", "l_suppkey").distinct()
    l1 = late.alias("l1")
    has_other = l1.join(
        allsup.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    sole_late = has_other.alias("lhs").join(
        late.alias("l3"),
        (F.col("lhs.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("lhs.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_3")
    )
    return (
        sole_late.join(
            F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "disjunctive_predicates",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_type = 'PROMO' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_type = 'STANDARD' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_type = 'ECONOMY' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides. Catalyst
    extracts the common join key as the hash condition and keeps the
    disjunction residual, plus pushes the per-side implied filters
    (p_type IN (...), quantity range) below the join."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q, sz, ty = F.col("l_quantity"), F.col("p_size"), F.col("p_type")
    cond = (
        ((ty == "PROMO") & sz.between(1, 15) & q.between(1, 20))
        | ((ty == "STANDARD") & sz.between(10, 30) & q.between(10, 35))
        | ((ty == "ECONOMY") & sz.between(20, 50) & q.between(20, 50))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return j.where(cond).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "explode_outer_nulls",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN []
                  ELSE list_filter(string_split(text, ' '), x -> x <> '')[1:3]
             END AS toks
      FROM documents WHERE doc_id < 50)
    SELECT doc_id, u.token
    FROM t LEFT JOIN (SELECT doc_id AS d2, unnest(toks) AS token FROM t) u
      ON t.doc_id = u.d2
    """,
)
def q_explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive with a NULL
    element (plain explode silently drops them — a classic data-loss
    bug in token pipelines)."""
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = F.when(
        F.col("doc_id") % 5 == 0, F.array().cast("array<string>")
    ).otherwise(F.slice(ws_tokens(F.col("text")), 1, 3))
    return (
        docs.where(F.col("doc_id") < 50)
        .select("doc_id", F.explode_outer(toks).alias("token"))
    )


@query(
    "union_missing_columns",
    oracle="""
    SELECT o_orderkey AS entity_key, 'order' AS kind,
           CAST(o_totalprice AS DOUBLE) AS amount,
           o_orderstatus AS status
    FROM orders WHERE o_orderkey % 100 = 1
    UNION ALL
    SELECT c_custkey, 'customer',
           CAST(c_acctbal AS DOUBLE), NULL
    FROM customer WHERE c_custkey % 20 = 1
    """,
)
def q_union_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): schema-divergent
    entity streams unify with NULL fill — the append-log shape for
    heterogeneous records."""
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 100 == 1
    ).select(
        F.col("o_orderkey").alias("entity_key"),
        F.lit("order").alias("kind"),
        F.col("o_totalprice").cast("double").alias("amount"),
        F.col("o_orderstatus").alias("status"),
    )
    c = read_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 20 == 1
    ).select(
        F.col("c_custkey").alias("entity_key"),
        F.lit("customer").alias("kind"),
        F.col("c_acctbal").cast("double").alias("amount"),
    )
    return o.unionByName(c, allowMissingColumns=True)


