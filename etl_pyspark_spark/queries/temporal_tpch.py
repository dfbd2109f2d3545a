"""Query family: temporal_tpch (mechanically split from registry.py — see core)."""

from __future__ import annotations

import pandas as pd

from etl_pyspark_spark.checkpoint import scoped_persist

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    QUERIES,
    SparkSession,
    _dec_sum_sql,
    dec_sum,
    pround,
    query,
    read_table,
    sql_pround,
)
from etl_pyspark_spark.sources.layouts import _SCRATCH

# ---------------------------------------------------------------------------
# Temporal operators (operators/temporal.py): sessionization, SCD2,
# CDC merge — plus remaining TPC-H decision-support shapes.
# ---------------------------------------------------------------------------


@query(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged)
    SELECT user_id, session_seq, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events
    FROM sess GROUP BY user_id, session_seq
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands, 30-min inactivity): the
    window shuffle partitions by user_id and the session groupBy reuses
    that partitioning — one partition-by-user pass end-to-end. Gap
    arithmetic in integer microseconds (operators/temporal.py)."""
    from etl_pyspark_spark.operators.temporal import sessionize

    ev = read_table(spark, sf_dir, "events")
    return sessionize(ev, gap_seconds=1800)


@query(
    "scd2_intervals",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderstatus,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w AS valid_to,
           lead(o_orderdate) OVER w IS NULL AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (type-2 slowly-changing dimension): each customer's order
    history becomes [valid_from, valid_to) validity intervals via
    lead(); NULL valid_to = current row. One window shuffle on the
    dimension key."""
    from etl_pyspark_spark.operators.temporal import scd2_intervals

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    out = scd2_intervals(
        o, key_col="o_custkey", ts_col="o_orderdate", tiebreak_col="o_orderkey"
    )
    return out.select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        "valid_from", "valid_to", "is_current",
    )


@query(
    "merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 0),
    upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             CAST(o_totalprice * CAST(1.1 AS DOUBLE) AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0)
    SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
           COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice
    FROM base b FULL JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge/upsert (batch MERGE INTO): an update batch replaces
    matching base rows, inserts the rest, base passes through — full
    outer join + coalesce (operators/temporal.py). With a bucketed
    base table the base-side exchange disappears entirely."""
    from etl_pyspark_spark.operators.temporal import merge_upsert

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    base = o.where(F.col("o_orderkey") % 3 != 0)
    upd = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    return merge_upsert(base, upd, "o_orderkey")


_STRATA_THRESH = {  # floor(rate * 2^60), exact integer literals
    "F": (2**60) // 2,        # 50%
    "O": (2**60) // 5,        # 20%
    "P": (4 * 2**60) // 5,    # 80%
}


@query(
    "sample_stratified",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE ('0x' || substr(md5('strat:' || CAST(o_orderkey AS VARCHAR)),
                          1, 15))::BIGINT
          < CASE o_orderstatus
              WHEN 'F' THEN {_STRATA_THRESH['F']}
              WHEN 'O' THEN {_STRATA_THRESH['O']}
              ELSE {_STRATA_THRESH['P']} END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: a different rate per stratum
    (50% F / 20% O / 80% P) by comparing the portable 60-bit key hash
    against floor(rate*2^60) — the engine-stable version of
    ``df.sampleBy``, reproducible at any parallelism."""
    from etl_pyspark_spark.functions.text import portable_hash60

    o = read_table(spark, sf_dir, "orders")
    h = portable_hash60(
        F.concat(F.lit("strat:"), F.col("o_orderkey").cast("string"))
    )
    thresh = (
        F.when(F.col("o_orderstatus") == "F", F.lit(_STRATA_THRESH["F"]))
        .when(F.col("o_orderstatus") == "O", F.lit(_STRATA_THRESH["O"]))
        .otherwise(F.lit(_STRATA_THRESH["P"]))
    )
    return o.where(h < thresh).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@query(
    "custdist_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q_custdist_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join
    with the filter in the ON clause (zero-order customers must
    survive), count per customer, then histogram the counts. The
    per-customer groupBy reuses the join's c_custkey partitioning —
    no extra Exchange before the (tiny) second aggregation."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "small_qty_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa USING (l_partkey)
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND l_quantity < CAST(0.2 AS DOUBLE) * avg_qty
    """,
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar subquery avg(l_quantity) per part decorrelates into one
    per-part aggregate joined back to lineitem; the part dimension
    filter broadcasts. Per-part averages go through decimal sums so
    the 0.2*avg threshold is bit-identical across engines."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    pa = li.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, "l_partkey")
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


@query(
    "top_supplier_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): max-over-aggregate via a 1-row
    broadcast join against the revenue aggregate — no global sort, no
    single-partition window; ties all survive, as in the spec. Exact
    decimal revenue sums make the max comparison engine-stable."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "total_revenue",
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = read_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "priority_line_counts",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    """,
)
def q_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (priority line counts): conditional CASE
    aggregation over a fact-fact join — one shuffle join on the order
    key, then a tiny two-group aggregate with both counts computed in
    a single pass (no second scan per CASE branch)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Binary-file source, lake compaction, hypertable rollup, UDAF/UDTF
# surfaces.
# ---------------------------------------------------------------------------


@query(
    "binary_file_source",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum
    FROM documents WHERE doc_id < 200
    """,
)
def q_binary_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` DataSource round-trip: payloads materialized as
    one file per asset (task-side foreachPartition, nothing through
    the driver), re-ingested with pathGlobFilter + per-file splits,
    metadata (length/md5) computed JVM-side on the content column.
    This is the real on-disk shape of an image/audio lake."""
    from etl_pyspark_spark.multimodal.assets import (
        read_binary_assets,
        with_payload,
        write_binary_files,
    )

    out = f"{_SCRATCH}/binfiles"
    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    write_binary_files(with_payload(docs), out)
    return read_binary_assets(spark, out)


@query(
    "compact_small_files",
    oracle="""
    SELECT event_id, user_id, event_type, ts,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 4 = 1
    """,
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented sink (48 tiny part files,
    the classic foreachBatch residue) compacted to 4 with ``coalesce``
    — a narrow, zero-shuffle rewrite — then re-scanned losslessly."""
    from etl_pyspark_spark.sources.io import compact_small_files

    frag = f"{_SCRATCH}/compact_src"
    dst = f"{_SCRATCH}/compact_dst"
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_id") % 4 == 1
    ).select(
        "event_id", "user_id", "event_type", "ts",
        F.col("value").cast("double").alias("value"),
    )
    ev.repartition(48).write.mode("overwrite").parquet(frag)
    return compact_small_files(spark, frag, dst, target_files=4)


@query(
    "time_rollup_multigrain",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2),
    daily AS (
      SELECT date_trunc('day', bucket_start) AS bucket_start, event_type,
             CAST(sum(n_events) AS BIGINT) AS n_events,
             CAST(sum(CAST(sum_value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM hourly GROUP BY 1, 2),
    weekly AS (
      SELECT date_trunc('week', bucket_start) AS bucket_start, event_type,
             CAST(sum(n_events) AS BIGINT) AS n_events,
             CAST(sum(CAST(sum_value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM daily GROUP BY 1, 2)
    SELECT 'hour' AS grain, * FROM hourly
    UNION ALL SELECT 'day', * FROM daily
    UNION ALL SELECT 'week', * FROM weekly
    """,
)
def q_time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate (hour -> day -> week):
    each coarser grain re-aggregates the FINER aggregate, not the raw
    events — at 100 TB the day/week rollups read thousands of rows
    instead of billions. Re-aggregation stays exact because sums pass
    through decimals at every level (a double re-sum would drift with
    partitioning). Spark caches the hourly aggregate; day and week
    reuse it."""
    ev = read_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value"), "sum_value"),
        )
        .transform(scoped_persist)
    )

    def roll_up(df: DataFrame, grain: str) -> DataFrame:
        return df.groupBy(
            F.date_trunc(grain, F.col("bucket_start")).alias("bucket_start"),
            "event_type",
        ).agg(
            F.sum("n_events").alias("n_events"),
            dec_sum(F.col("sum_value"), "sum_value"),
        )

    daily = roll_up(hourly, "day").transform(scoped_persist)
    weekly = roll_up(daily, "week")
    tag = lambda df, g: df.select(  # noqa: E731
        F.lit(g).alias("grain"), "bucket_start", "event_type",
        "n_events", "sum_value",
    )
    return (
        tag(hourly, "hour")
        .unionByName(tag(daily, "day"))
        .unionByName(tag(weekly, "week"))
    )


@query(
    "grouped_median_udaf",
    oracle="""
    WITH s AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events)
    SELECT event_type, value AS median_value
    FROM s WHERE rn = (n + 1) // 2
    """,
)
def q_grouped_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: lower median per group via a grouped-agg
    pandas UDF (Series -> scalar, Arrow-batched — Spark has no exact
    distributed median aggregate; percentile_approx is a sketch).
    Selecting an ELEMENT (not interpolating) keeps the result
    engine-exact. Scale note: a grouped-agg pandas UDF materializes
    each group in one worker — fine for bounded group counts like
    event types; use approx sketches when groups can be huge."""
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar hints infer GROUPED_AGG; they resolve against
    # this module's globals, hence the module-level pandas import
    @pandas_udf("double")
    def lower_median(v: pd.Series) -> float:
        s = v.sort_values().reset_index(drop=True)
        return float(s.iloc[(len(s) - 1) // 2])

    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        lower_median(F.col("value")).alias("median_value")
    )


@query(
    "udtf_numbered_tokens",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ts
               FROM documents WHERE doc_id < 30)
    SELECT doc_id, CAST(g.i - 1 AS INT) AS pos, ts[g.i] AS token
    FROM t, UNNEST(generate_series(1, len(ts))) AS g(i)
    """,
)
def q_udtf_numbered_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4): a table function emitting
    (pos, token) rows per input document, applied with LATERAL.
    Coverage of the UDTF API — row-at-a-time Python is the slow path;
    the production equivalent is posexplode(ws_tokens(...)), which the
    explode_tokens query already pins."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class NumberedTokens:
        def eval(self, text: str):
            if text is None:
                return
            pos = 0
            for tok in text.split(" "):
                if tok != "":
                    yield pos, tok
                    pos += 1

    spark.udtf.register("numbered_tokens", NumberedTokens)
    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    docs.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, f.pos, f.token
        FROM udtf_docs d, LATERAL numbered_tokens(d.text) f
        """
    )


# ---------------------------------------------------------------------------
# Skew-salted join, iterative PageRank, fuzzy matching, text source,
# unpivot.
# ---------------------------------------------------------------------------


@query(
    "salted_join",
    oracle="""
    SELECT e.event_id, e.event_type,
           CAST(e.value AS DOUBLE) AS value,
           d.type_code
    FROM events e
    JOIN (SELECT event_type,
                 CAST(('0x' || substr(md5(event_type), 1, 15))::BIGINT % 1000
                      AS BIGINT) AS type_code
          FROM (SELECT DISTINCT event_type FROM events)) d
      ON e.event_type = d.event_type
    WHERE e.event_id % 10 = 0
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi join (operators/skew.salted_join): event_type
    has ~5 hot values, so a plain shuffle join lands each on ONE
    reducer; salting splits every hot key across 8 buckets (fact salt
    = event_id % 8, dim replicated x8). Broadcast is disabled via hint
    to exercise the shuffle path — the result is identical to the
    plain join, which is what the oracle checks."""
    from etl_pyspark_spark.functions.text import portable_hash60
    from etl_pyspark_spark.operators.skew import salted_join

    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_id") % 10 == 0
    ).select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    dim = (
        read_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("type_code", portable_hash60(F.col("event_type")) % 1000)
        .hint("shuffle_hash")  # forbid broadcast: exercise salted shuffle
    )
    return salted_join(
        ev, dim, key="event_type", salt_from="event_id", buckets=8
    ).select("event_id", "event_type", "value", "type_code")


def _pagerank_oracle() -> str:
    from etl_pyspark_spark.operators.graph import sql_pagerank_int

    nodes_sql = "SELECT DISTINCT user_id AS node FROM events WHERE user_id < 150"
    edges_sql = """
      SELECT DISTINCT node AS src, (node * 13 + 7) % 150 AS dst FROM nodes
      UNION
      SELECT DISTINCT node, (node * 29 + 3) % 150 FROM nodes
    """
    return sql_pagerank_int(nodes_sql, edges_sql, iterations=5)


@query("pagerank_iterative", oracle=_pagerank_oracle())
def q_pagerank_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized PageRank, 5 rounds (operators/graph.py): the
    canonical iterative keyed dataflow — join + groupBy per round,
    localCheckpoint lineage truncation, no driver state. Bit-exact
    across engines because every step is bigint arithmetic; the oracle
    unrolls the same 5 rounds as CTEs. Graph: deterministic referral
    edges u -> (13u+7)%150, u -> (29u+3)%150 over the event users."""
    from etl_pyspark_spark.operators.graph import pagerank_int

    nodes = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 150)
        .select(F.col("user_id").alias("node"))
        .distinct()
    )
    edges = (
        nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * 13 + 7) % 150).alias("dst"),
        )
        .union(
            nodes.select(
                F.col("node"), ((F.col("node") * 29 + 3) % 150).alias("dst")
            )
        )
        .distinct()
    )
    return pagerank_int(nodes, edges, iterations=5)


@query(
    "fuzzy_name_match",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           levenshtein(a.c_name, b.c_name) AS edit_dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE a.c_custkey < 150 AND b.c_custkey < 150
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching: near-identical entity names at
    Levenshtein <= 2 (both engines implement the same DP edit
    distance — integer result, engine-exact). The quadratic verify is
    bounded here by a key filter; at corpus scale the candidate set
    comes from blocking (length bands / q-gram prefixes, same
    lossless-filter playbook as dedup/ngram.py) before the O(len^2)
    verify touches any pair."""
    c = read_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") < 150
    ).select("c_custkey", "c_name")
    a = c.select(
        F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a")
    )
    b = c.select(
        F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b")
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .where(dist <= 2)
        .select("key_a", "key_b", dist.alias("edit_dist"))
    )


@query(
    "text_line_parse",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE)
             AS value
    FROM events WHERE event_id % 8 = 3
    """,
)
def q_text_line_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-line source round-trip: pipe-delimited lines written with
    ``df.write.text``, re-read with ``spark.read.text`` and parsed via
    one ``from_csv`` (typed, single pass — not N regexp_extract
    calls). Doubles travel as DECIMAL(18,6) strings so the re-parsed
    value is the same IEEE double on every engine. This is the
    reference's S6/S7 text hop (nyc_taxi_etl.py:105-119) done
    losslessly and distributed."""
    out = f"{_SCRATCH}/text_lines"
    ev = read_table(spark, sf_dir, "events").where(F.col("event_id") % 8 == 3)
    lines = ev.select(
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.col("value").cast("decimal(18,6)").cast("string"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    parsed = spark.read.text(out).select(
        F.from_csv(
            F.col("value"),
            "event_id bigint, user_id bigint, event_type string, value double",
            {"sep": "|"},
        ).alias("r")
    )
    return parsed.select("r.event_id", "r.user_id", "r.event_type", "r.value")


@query(
    "unpivot_long",
    oracle="""
    WITH wide AS (
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             count(*) FILTER (o_orderstatus = 'O') AS status_O,
             count(*) FILTER (o_orderstatus = 'F') AS status_F,
             count(*) FILTER (o_orderstatus = 'P') AS status_P
      FROM orders GROUP BY 1)
    SELECT order_year, 'status_O' AS status, status_O AS n FROM wide
    UNION ALL SELECT order_year, 'status_F', status_F FROM wide
    UNION ALL SELECT order_year, 'status_P', status_P FROM wide
    """,
)
def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long), the inverse of pivot_status_by_year:
    one ``unpivot`` expands columns to rows in a single narrow pass —
    no shuffle, no N-way self-union scan."""
    wide = QUERIES["pivot_status_by_year"](spark, sf_dir)
    return wide.unpivot(
        ids=["order_year"],
        values=["status_O", "status_F", "status_P"],
        variableColumnName="status",
        valueColumnName="n",
    )


@query(
    "stream_chained_agg",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start_s,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events, mx
    WHERE epoch_us(date_trunc('day', ts)) + 86400000000
          <= epoch_us(mx.m) - 3600000000
    GROUP BY 1, 2
    """,
)
def q_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming (Spark >= 3.4 multiple stateful
    operators): daily windows re-aggregate hourly windows inside ONE
    always-on query (streaming/chained.py). Append mode means a day
    emits only once the watermark (max event time - 1h) passes its
    end — the oracle applies the same integer-microsecond cutoff to
    the batch equivalent, and decimal sums make hour->day
    re-aggregation exact."""
    from etl_pyspark_spark.streaming.chained import hourly_then_daily

    return hourly_then_daily(spark, sf_dir)


@query(
    "variant_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) // 25 AS k_bucket,
           count(*) AS n,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS k_min,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS k_max
    FROM events GROUP BY 1
    """,
)
def q_variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: ``parse_json`` once into a binary variant
    column, then typed ``variant_get`` paths — semi-structured data
    without per-access string re-parsing (the scale advantage over
    get_json_object, which re-parses the JSON text per extraction)."""
    ev = read_table(spark, sf_dir, "events")
    v = ev.select(F.parse_json(F.col("props")).alias("pv"))
    k = F.variant_get(F.col("pv"), "$.k", "int")
    return (
        v.select(k.alias("k"))
        .select(F.expr("k div 25").alias("k_bucket"), "k")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@query(
    "range_source_generate",
    oracle="""
    SELECT i AS id, i * i % 97 AS sq_mod,
           CAST(i // 1000 AS BIGINT) AS bucket
    FROM generate_series(0, 99999) AS g(i)
    """,
)
def q_range_source_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range source: ``spark.range`` generates partitioned data with no
    input files at all (each task materializes its own id span) — the
    synthetic-data / backfill-spine source, infinitely scalable because
    there is nothing to read."""
    return spark.range(0, 100_000).select(
        F.col("id"),
        (F.col("id") * F.col("id") % 97).alias("sq_mod"),
        F.expr("id div 1000").alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H decision-support shapes (Q4, Q7-Q11, Q16, Q20), adapted
# to the fixture star schema. The fixtures have no partsupp table, so
# where the original uses ps_supplycost / ps_availqty the lineitem
# relation stands in as the part-supplier bridge (same join topology,
# same operator shapes).
# ---------------------------------------------------------------------------


@query(
    "order_priority_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS with
    an inequality spanning both relations -> left-semi join. The date
    filter prunes orders before the join (quarter of a year reaches
    the shuffle, not the full table) and the semi join short-circuits
    per order key — no lineitem pre-aggregation needed."""
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    qualified = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30)),
        "left_semi",
    )
    return qualified.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "forecast_revenue_change",
    oracle=f"""
    SELECT {_dec_sum_sql("l_extendedprice * l_discount", "revenue_delta")},
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.08
      AND l_quantity < 24.0
    """,
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): pure scan ->
    conjunctive range predicates -> single-row global aggregate. All
    three predicates push into the parquet scan (min/max row-group
    pruning); the aggregate is partial per partition + a 1-row final
    merge — the cheapest possible full-table query at any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.08)
        & (F.col("l_quantity") < 24.0)
    ).agg(
        dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "nation_pair_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           {_dec_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
      JOIN (SELECT s_suppkey, n_name AS supp_nation
            FROM supplier JOIN nation ON s_nationkey = n_nationkey) s
        ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN (SELECT c_custkey, n_name AS cust_nation
            FROM customer JOIN nation ON c_nationkey = n_nationkey) c
        ON c_custkey = o_custkey
    WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
       OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between a nation pair): nation
    joined twice under different roles with a disjunctive pair
    predicate spanning both roles. Both role dims are pre-restricted
    to the two nations the OR implies (2/25 of suppliers/customers)
    BEFORE joining, so the fact join carries only matching rows;
    supplier side broadcasts, and the one residual shuffle is
    lineitem |x| orders on the order key."""
    nat = read_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    pair = (
        (F.col("supp_nation") == "NATION_1")
        & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2")
        & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
    )


@query(
    "market_share_ratio",
    oracle=f"""
    WITH vol AS (
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS v,
             n1.n_name AS supp_nation
      FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO')
    SELECT order_year,
           {sql_pround(
        "CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN v "
        "ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) "
        "/ CAST(sum(v) AS DOUBLE)"
    )} AS mkt_share
    FROM vol GROUP BY order_year
    """,
)
def q_market_share_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): 8-table snowflake join,
    then a ratio of two conditional aggregates in ONE pass (no second
    scan for the numerator). All dims (part filtered to one type,
    supplier+nation, customer-nation+region) broadcast; the fact
    shuffle is lineitem |x| orders only. Both sums are exact decimal
    so the final double division is bit-identical cross-engine."""
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    nat = read_table(spark, sf_dir, "nation")
    reg = read_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        read_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nat.join(
                    F.broadcast(reg),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    v = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    num = (
        F.sum(F.when(F.col("supp_nation") == "NATION_5", v).otherwise(zero))
        .cast("double")
    )
    den = F.sum(v).cast("double")
    return (
        li.join(
            F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(pround(num / den).alias("mkt_share"))
    )


@query(
    "product_profit_by_nation",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS order_year,
           {_dec_sum_sql(
        "l_extendedprice * (1 - l_discount) "
        "- p_retailprice * l_quantity * CAST(0.01 AS DOUBLE)",
        "profit",
    )}
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): substring part filter,
    profit = revenue minus cost as one arithmetic expression summed
    per (nation, year). No partsupp fixture, so cost is modeled as 1%
    of p_retailprice per unit — the operator shape (5-way join,
    expression agg) is Q9's. part and supplier+nation broadcast; the
    only shuffle is the order-key join then the small agg."""
    part = read_table(spark, sf_dir, "part").where(
        F.col("p_name").like("%widget%")
    )
    nat = read_table(spark, sf_dir, "nation")
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.01)
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "nation", F.year("o_orderdate").cast("int").alias("order_year")
        )
        .agg(dec_sum(profit, "profit"))
    )


@query(
    "returned_item_ranking",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {_dec_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM customer
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): date-windowed fact
    join, revenue per customer, global top-20. TakeOrderedAndProject
    keeps the limit per-partition before the single-row-exchange
    merge — no full sort of the aggregate output. Exact decimal
    revenue makes the DESC order (plus custkey tiebreak)
    deterministic cross-engine."""
    c = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "important_part_value",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
               AS pvd
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4',
                       'NATION_5')
      GROUP BY l_partkey)
    SELECT l_partkey, CAST(pvd AS DOUBLE) AS part_value
    FROM pv
    WHERE CAST(pvd AS DOUBLE)
          > (SELECT CAST(sum(pvd) AS DOUBLE) FROM pv) / 1600.0
    """,
)
def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): grouped value per part
    filtered against a FRACTION OF THE GLOBAL TOTAL — an uncorrelated
    scalar aggregate over the same derived relation. The grouped
    relation is computed once and reused for both branches (total is
    a 1-row re-aggregate broadcast back); the threshold compare
    happens on exact decimal sums cast to double, so both engines
    pick the identical row set."""
    nat = read_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(
            "NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5"
        )
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = read_table(spark, sf_dir, "lineitem")
    pv = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("pvd")
        )
    )
    total = pv.agg(F.sum("pvd").cast("double").alias("grand"))
    return (
        pv.crossJoin(F.broadcast(total))
        .where(F.col("pvd").cast("double") > F.col("grand") / 1600.0)
        .select(
            "l_partkey", F.col("pvd").cast("double").alias("part_value")
        )
    )


@query(
    "supplier_cnt_distribution",
    oracle="""
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def q_supplier_cnt_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (part/supplier relationship): NOT IN exclusion
    list -> anti join against a tiny filtered dim, then COUNT DISTINCT
    per (brand, size). The distinct dedupes map-side inside the single
    agg shuffle (partial aggregation on (brand, size, suppkey)) — no
    separate dropDuplicates pass."""
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = read_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query(
    "qualified_promo_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3',
                     'NATION_4', 'NATION_5', 'NATION_6', 'NATION_7',
                     'NATION_8', 'NATION_9')
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%gear%'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 200)
    """,
)
def q_qualified_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): IN over an
    aggregate-HAVING subquery -> group lineitem by supplier with a
    decimal quantity threshold, then left-semi join the (tiny,
    nation-filtered) supplier dim against it. The heavy side is
    aggregated BEFORE the semi join, so the join input is one row per
    supplier, not raw lineitems."""
    nat = read_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(*[f"NATION_{i}" for i in range(10)])
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    part = read_table(spark, sf_dir, "part").where(
        F.col("p_name").like("%gear%")
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    qualified = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty"))
        .where(F.col("qty") > 200)
        .select("l_suppkey")
    )
    return s.join(
        qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    )


