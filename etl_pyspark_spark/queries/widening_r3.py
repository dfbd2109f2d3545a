"""Query family: widening_r3 (mechanically split from registry.py — see core)."""

from __future__ import annotations

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    MAX_BLOCK,
    SparkSession,
    _dec_sum_sql,
    dec_sum,
    pround,
    query,
    read_table,
    sql_pround,
)
from etl_pyspark_spark.queries._shared import _register_views

# ---------------------------------------------------------------------------
# Round-3 widening: grouping sets, pivot/unpivot, exact percentiles,
# histograms, deterministic stratified sampling, time-series gap-fill,
# skyline, fuzzy matching, event sequences, LATERAL, content checksums,
# embedding statistics, mixture quotas
# ---------------------------------------------------------------------------

_GROUPING_SETS_SQL = f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n_orders,
           {_dec_sum_sql("o_totalprice", "total_price")}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
"""


@query("agg_grouping_sets_hier", oracle=_GROUPING_SETS_SQL)
def q_agg_grouping_sets_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube, both
    already registered) with GROUPING() flags to disambiguate real
    NULL keys from subtotal rows. One pass, partial aggregation per
    set — the multi-report-in-one-scan shape. The SQL text is
    dialect-shared: the identical string runs on Spark and DuckDB."""
    _register_views(spark, sf_dir, "orders")
    return spark.sql(_GROUPING_SETS_SQL)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pivot_daily_event_values",
    oracle="SELECT CAST(ts AS DATE) AS day, "
    + ", ".join(
        _dec_sum_sql(f"CASE WHEN event_type = '{t}' THEN value END", t)
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY 1",
)
def q_pivot_daily_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): daily revenue per event type as columns.
    The value list is EXPLICIT (``pivot(col, values)``) — omitting it
    adds a blocking distinct-scan job to discover the domain, which at
    100 TB is a full extra pass before the real aggregation starts.
    Absent (day, type) cells are NULL on both engines."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(dec_sum(F.col("value"), "v"))
    )


@query(
    "unpivot_event_values_long",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day, event_type,
           {_dec_sum_sql("value", "sum_value")}
    FROM events GROUP BY 1, 2
    """,
)
def q_unpivot_event_values_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long): the inverse of
    pivot_daily_event_values via the native ``DataFrame.unpivot``
    (Spark 3.4+ melt), dropping the NULL cells pivot manufactured —
    recovering exactly the direct long-form aggregate (the oracle).
    Narrow, shuffle-free: unpivot is a generate-projection, not an
    exchange."""
    wide = q_pivot_daily_event_values(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["day"],
            values=_EVENT_TYPES,
            variableColumnName="event_type",
            valueColumnName="sum_value",
        )
        .where(F.col("sum_value").isNotNull())
    )


@query(
    "grouped_percentiles",
    oracle=f"""
    SELECT event_type,
           unnest(CAST([0.25, 0.5, 0.9] AS DOUBLE[])) AS q,
           unnest([{sql_pround('quantile_cont(value, 0.25)')},
                   {sql_pround('quantile_cont(value, 0.5)')},
                   {sql_pround('quantile_cont(value, 0.9)')}]) AS value_at_q
    FROM events GROUP BY event_type
    """,
)
def q_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles: ``percentile(value, array(...))``
    computes all three quantiles in ONE aggregation pass (sorted
    per-group state), then posexplode fans the array to rows. Exact
    linear interpolation matches DuckDB's quantile_cont definition;
    pround(6) guards the last-ulp of the interpolation arithmetic.
    At 100 TB prefer approx_percentile (t-digest, already registered
    as part of the analytics family) — this is the exact-answer tier."""
    ev = read_table(spark, sf_dir, "events")
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9))
    pct = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), qs).alias("ps")
    )
    return pct.select(
        "event_type", F.posexplode("ps").alias("pos", "v")
    ).select(
        "event_type",
        F.element_at(qs, F.col("pos") + 1).alias("q"),
        pround(F.col("v"), 6).alias("value_at_q"),
    )


@query(
    "histogram_fixed_bins",
    oracle=f"""
    SELECT CAST(least(floor(value / 25.0), 19) AS INT) AS bin,
           count(*) AS n_events,
           {_dec_sum_sql("value", "sum_value")}
    FROM events GROUP BY 1
    """,
)
def q_histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (20 bins of 25, last bin open-ended):
    binning is a pure projection so the aggregate map-side combines to
    ~20 rows per task before any exchange — the cheapest possible
    distribution profile of a measure column at any scale."""
    ev = read_table(spark, sf_dir, "events")
    bin_ = F.least(F.floor(F.col("value") / 25.0), F.lit(19)).cast("int")
    return (
        ev.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value"), "sum_value"),
        )
    )


_STRATUM_RATE_SQL = """CASE event_type WHEN 'purchase' THEN 500
    WHEN 'signup' THEN 500 WHEN 'click' THEN 200
    WHEN 'view' THEN 100 ELSE 50 END"""


@query(
    "stratified_hash_sample",
    oracle=f"""
    SELECT event_type, count(*) AS n_sampled,
           {_dec_sum_sql("value", "sum_value")}
    FROM events
    WHERE ('0x' || substr(md5('samp:' || CAST(event_id AS VARCHAR)),
                          1, 15))::BIGINT % 1000 < {_STRATUM_RATE_SQL}
    GROUP BY event_type
    """,
)
def q_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates (50%
    purchases/signups, 20% clicks, 10% views, 5% errors) applied as
    a pure hash predicate on the row key — reproducible across engines,
    runs, and cluster sizes, unlike ``sampleBy`` (seeded RNG per task,
    partitioning-dependent). The filter is a narrow projection: no
    shuffle, no state, and the SAME rows are kept when the job re-runs
    on different hardware — the property training-data splits need."""
    from etl_pyspark_spark.functions import text as T

    ev = read_table(spark, sf_dir, "events")
    rate = (
        F.when(F.col("event_type").isin("purchase", "signup"), 500)
        .when(F.col("event_type") == "click", 200)
        .when(F.col("event_type") == "view", 100)
        .otherwise(50)
    )
    h = T.portable_hash60(
        F.concat(F.lit("samp:"), F.col("event_id").cast("string"))
    )
    return (
        ev.where((h % 1000) < rate)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            dec_sum(F.col("value"), "sum_value"),
        )
    )


@query(
    "timeseries_gapfill_locf",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             {_dec_sum_sql("value", "day_value")}
      FROM events WHERE user_id % 100 = 0 GROUP BY 1, 2),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
             FROM daily GROUP BY 1),
    cal AS (SELECT user_id,
                   CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                        AS DATE) AS day
            FROM span),
    j AS (SELECT c.user_id, c.day, d.day_value
          FROM cal c LEFT JOIN daily d USING (user_id, day))
    SELECT user_id, day,
           last_value(day_value IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS value_filled,
           day_value IS NOT NULL AS observed
    FROM j
    """,
)
def q_timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: daily per-user totals, missing
    days materialized from each user's [min, max] span (``sequence`` +
    explode — generated distributed, keyed by user, never on the
    driver), then LOCF (last observation carried forward) via
    ``last(ignorenulls)`` over the per-user day order. The
    hypertable/''time_bucket_gapfill'' shape; every stage partitions
    by user_id so one shuffle serves the join and the window."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").where(F.col("user_id") % 100 == 0)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(dec_sum(F.col("value"), "day_value"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = cal.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        F.last("day_value", ignorenulls=True).over(w).alias("value_filled"),
        F.col("day_value").isNotNull().alias("observed"),
    )


@query(
    "skyline_orders",
    oracle="""
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          max(o_totalprice) AS best_price
                   FROM orders GROUP BY 1),
    frontier AS (
      SELECT day, best_price FROM daily d
      WHERE NOT EXISTS (SELECT 1 FROM daily d2
                        WHERE d2.day > d.day
                          AND d2.best_price >= d.best_price))
    SELECT o_orderkey, f.day, o_totalprice
    FROM orders o JOIN frontier f
      ON CAST(o.o_orderdate AS DATE) = f.day
     AND o.o_totalprice = f.best_price
    """,
)
def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier on (recency, price): orders not
    dominated by any strictly-later order of >= price. Scale shape:
    reduce FIRST (per-day max — one keyed aggregation), run the
    frontier window over the tiny per-day table (|days| rows, so the
    single-partition window is safe at any corpus size), then
    broadcast the frontier back onto orders. The naive NOT EXISTS
    self-join the oracle uses is O(days^2) on the reduced table only."""
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.max("o_totalprice").alias("best_price")
    )
    # max over STRICTLY later days (rows preceding in day-desc order;
    # day is unique per row after the groupBy)
    w = Window.orderBy(F.col("day").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        daily.select(
            "day", "best_price", F.max("best_price").over(w).alias("later_max")
        )
        .where(
            F.col("later_max").isNull()
            | (F.col("best_price") > F.col("later_max"))
        )
        .select("day", "best_price")
    )
    return orders.join(
        F.broadcast(frontier),
        (F.to_date("o_orderdate") == F.col("day"))
        & (F.col("o_totalprice") == F.col("best_price")),
    ).select("o_orderkey", "day", "o_totalprice")


@query(
    "fuzzy_name_match_blocked",
    oracle="""
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           levenshtein(a.c_name, b.c_name) AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_fuzzy_name_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join: edit-distance <= 1 name pairs within a
    (nation, 16-char-prefix) block. Blocking is the scale story — the
    equi-join keys carry the O(n^2) candidate space down to per-block
    grids BEFORE any levenshtein runs (the classic entity-resolution
    blocking pattern; swap the prefix for q-gram or phonetic keys as
    recall demands), and block membership is hard-capped at MAX_BLOCK
    via operators/blocking (WindowGroupLimit hash-rank truncation on
    the same keys the join shuffles on — shared exchange, O(cap^2)
    per-block pair work forever).  The cap never binds on honest
    fixture blocks (max 14 members at sf0.1; er_block_cap_audit
    reports it), so the oracle is cap-free.  Levenshtein evaluates
    JVM-side, codegen'd, only on surviving in-block pairs."""
    from etl_pyspark_spark.operators.blocking import capped_block_members

    cust = read_table(spark, sf_dir, "customer")
    blocked = capped_block_members(
        cust.select(
            "c_custkey",
            "c_name",
            F.col("c_nationkey").alias("nk"),
            F.substring("c_name", 1, 16).alias("blk"),
        ),
        ["nk", "blk"],
        "c_custkey",
    )
    a = blocked.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        "nk",
        "blk",
    )
    b = blocked.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
        "nk",
        "blk",
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, ["nk", "blk"])
        .where(F.col("custkey_a") < F.col("custkey_b"))
        .where(dist <= 1)
        .select("custkey_a", "custkey_b", dist.alias("edit_dist"))
    )


@query(
    "er_block_cap_audit",
    # f-string keeps the oracle's cap literal synchronized with the
    # engine-side operators/blocking.MAX_BLOCK by construction.
    oracle=f"""
    WITH s AS (SELECT c_nationkey, substr(c_name, 1, 16) AS blk,
                      count(*) AS block_size
               FROM customer GROUP BY 1, 2)
    SELECT count(*) AS n_blocks,
           CAST(sum(CASE WHEN block_size > {MAX_BLOCK} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           CAST(sum(CASE WHEN block_size > {MAX_BLOCK}
                         THEN block_size - {MAX_BLOCK} ELSE 0 END)
                AS BIGINT) AS n_members_dropped,
           CAST(max(block_size) AS BIGINT) AS max_block_size
    FROM s
    """,
)
def q_er_block_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mega-block truncation audit — the observability half of the
    MAX_BLOCK cap (operators/blocking) that fuzzy_name_match_blocked
    and entity_resolution_clusters apply before their in-block
    self-joins: one row reporting how many (nation, name-prefix)
    blocks exceed the cap and how many memberships the cap would
    drop. Runs on the UNCAPPED block-size table (a single map-side
    combinable keyed count — linear, no pair expansion), so the
    release card can state the truncation instead of silently eating
    it. On the fixture every count is 0 truncated (blocks peak at 14
    members at sf0.1); the synthetic mega-block regression in
    tests/test_blocking.py exercises the binding case."""
    from etl_pyspark_spark.operators.blocking import (
        block_truncation_audit,
    )

    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    return block_truncation_audit(cust, ["nk", "blk"])


@query(
    "user_event_sequence",
    oracle="""
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id), '>')
             AS seq,
           count(*) AS n_events
    FROM events WHERE user_id % 50 = 0
    GROUP BY user_id
    """,
)
def q_user_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type sequence (the sessionless journey
    string behind funnel/path mining). One groupBy; ordering comes
    from ``array_sort`` over (ts, event_id, type) structs INSIDE each
    group — no window, no secondary shuffle, and the (ts, event_id)
    tiebreak makes the string deterministic on both engines."""
    ev = read_table(spark, sf_dir, "events").where(F.col("user_id") % 50 == 0)
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return ev.groupBy("user_id").agg(
        seq.alias("seq"), F.count(F.lit(1)).alias("n_events")
    )


_LATERAL_SQL = """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 3) AS t
"""


@query("lateral_topn_join", oracle=_LATERAL_SQL)
def q_lateral_topn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 3.4+/4): top-3 customers by
    balance per nation, written as the SQL-standard lateral form the
    DataFrame window/filter idiom compiles to anyway — Spark rewrites
    the correlated limit into a partitioned WindowGroupLimit, so the
    declarative form costs the same as the hand-written window. The
    SQL text is dialect-shared with the oracle."""
    _register_views(spark, sf_dir, "nation", "customer")
    return spark.sql(_LATERAL_SQL)


@query(
    "table_content_checksum",
    oracle="""
    SELECT CAST(doc_id % 16 AS BIGINT) AS segment,
           bit_xor(('0x' || substr(md5('ck:' || CAST(doc_id AS VARCHAR)
                                   || ':' || text), 1, 15))::BIGINT)
             AS checksum,
           count(*) AS n_rows
    FROM documents GROUP BY 1
    """,
)
def q_table_content_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per table segment: XOR of a
    portable row hash (anti-entropy / replica-divergence detection —
    compare segment checksums between two copies of a lake table
    without sorting either side). XOR aggregation is commutative,
    overflow-free, and map-side combines; 16 segments localize any
    mismatch to 1/16 of the table for the repair pass."""
    from etl_pyspark_spark.functions import text as T

    docs = read_table(spark, sf_dir, "documents")
    h = T.portable_hash60(
        F.concat(
            F.lit("ck:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("text"),
        )
    )
    return (
        docs.select((F.col("doc_id") % 16).alias("segment"), h.alias("h"))
        .groupBy("segment")
        .agg(
            F.expr("bit_xor(h)").alias("checksum"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "embedding_dim_stats",
    oracle="""
    SELECT i - 1 AS dim,
           CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0
                               + 0.5) AS BIGINT)) AS BIGINT) AS sum_scaled,
           CAST(min(embedding[i]) AS DOUBLE) AS min_val,
           CAST(max(embedding[i]) AS DOUBLE) AS max_val,
           count(*) AS n
    FROM embeddings,
         UNNEST(generate_series(1, len(embedding))) AS g(i)
    GROUP BY 1
    """,
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (the normalization /
    whitening precursor): posexplode the vector column and aggregate
    by dimension — 64 groups regardless of corpus size, so the
    exchange moves only partial aggregates. Sums go through a
    scale-to-int (floor(x*1e6+0.5)) so float accumulation order can
    never drift between engines; min/max are exact float comparisons."""
    emb = read_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "val"))
    scaled = F.floor(F.col("val").cast("double") * 1000000.0 + 0.5).cast(
        "bigint"
    )
    return (
        ex.groupBy(F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.sum(scaled).alias("sum_scaled"),
            F.min("val").cast("double").alias("min_val"),
            F.max("val").cast("double").alias("max_val"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "mixture_sampling_quota",
    oracle="""
    WITH counts AS (SELECT lang, source, count(*) AS n_docs
                    FROM documents GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM counts)
    SELECT lang, source, n_docs,
           CAST(floor(n_docs * 100000.0 / total) AS BIGINT) AS quota
    FROM counts, tot
    """,
)
def q_mixture_sampling_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture quotas: proportional allocation of a 100k-doc
    training budget across (lang, source) strata — the sampling plan
    a mixture-weighted corpus build executes. The total is a
    one-row aggregate broadcast onto the per-stratum counts (never a
    window over an unpartitioned frame)."""
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        F.floor(F.col("n_docs") * 100000.0 / F.col("total"))
        .cast("bigint")
        .alias("quota"),
    )



_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) AS n_orders
    FROM orders
    GROUP BY ALL
"""


@query("sql_group_by_all", oracle=_GROUP_BY_ALL_SQL)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+/DuckDB shared dialect): every
    non-aggregate select item becomes a grouping key — the
    report-query ergonomic that removes the classic stale-GROUP-BY
    bug. Same physical plan as the explicit form (one partial+final
    hash aggregate)."""
    _register_views(spark, sf_dir, "orders")
    return spark.sql(_GROUP_BY_ALL_SQL)


_PAGINATION_SQL = """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
"""


@query("sort_limit_offset", oracle=_PAGINATION_SQL)
def q_sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination (page 3 of a 20-row listing): ORDER BY ... LIMIT
    k OFFSET n with a total tiebreak order. Spark executes as a
    global top-(n+k) (TakeOrderedAndProject with offset) — it never
    materializes or sorts the full table, but deep pagination still
    scans top-(n+k) per partition, which is why production APIs
    keyset-paginate (WHERE (price, key) < last_seen) instead of
    offsetting past page ~1000."""
    _register_views(spark, sf_dir, "orders")
    return spark.sql(_PAGINATION_SQL)


@query(
    "join_asof_nearest",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'),
    signups AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'signup'),
    scored AS (
      SELECT p.event_id, p.user_id,
             CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch_s,
             CAST(floor(epoch(s.ts)) AS BIGINT) AS signup_epoch_s,
             s.value AS signup_value,
             abs(epoch_us(p.ts) - epoch_us(s.ts)) AS gap_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(s.ts)),
                        s.ts, s.value) AS rn
      FROM purchases p JOIN signups s ON s.user_id = p.user_id)
    SELECT event_id, user_id, purchase_epoch_s,
           signup_epoch_s AS nearest_signup_epoch_s,
           signup_value AS nearest_signup_value
    FROM scored WHERE rn = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time join (bidirectional as-of): each purchase pairs
    with its temporally CLOSEST signup by the same user — either
    direction, unlike the backward-only ``join_asof``. One keyed
    shuffle on user_id; per-purchase candidates are that user's
    signups only (bounded per key), ranked by absolute gap with a
    (ts, value) tiebreak for determinism. The oracle replays the same
    window; at unbounded per-key history, pre-bin both sides by
    coarse time buckets first (same trick as join_range_binned)."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    s = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts"), F.col("value").alias("s_value")
    )
    gap = F.abs(
        F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("s_ts"))
    )
    w = Window.partitionBy("event_id").orderBy(
        gap, F.col("s_ts"), F.col("s_value")
    )
    return (
        p.join(s, "user_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("p_ts").alias("purchase_epoch_s"),
            F.unix_timestamp("s_ts").alias("nearest_signup_epoch_s"),
            F.col("s_value").alias("nearest_signup_value"),
        )
    )


@query(
    "kfold_assignment",
    oracle="""
    WITH folded AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 5 AS fold
      FROM documents)
    SELECT fold, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT doc_id) AS n_distinct
    FROM folded GROUP BY fold
    """,
)
def q_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment + balance
    report: fold membership is a pure hash of the row key, so every
    engine, run, and cluster size produces the SAME folds (a seeded
    randomSplit does not survive repartitioning), and fold i's
    train set is reconstructible as ``fold != i`` with no stored
    assignment table. The balance report is the pre-flight check
    that folds are size-uniform."""
    from etl_pyspark_spark.functions import text as T

    docs = read_table(spark, sf_dir, "documents")
    fold = (
        T.portable_hash60(
            F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))
        )
        % 5
    )
    return (
        docs.select(fold.alias("fold"), "doc_id", "n_chars")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("doc_id").alias("n_distinct"),
        )
    )


@query(
    "curriculum_difficulty_buckets",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {sql_pround("CAST(strlen(text) AS DOUBLE)"
                         " / len(list_filter(string_split(text, ' '),"
                         " t -> t <> ''))", 6)} AS difficulty
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) > 0)
    SELECT ntile(4) OVER (ORDER BY difficulty, doc_id) AS phase,
           doc_id, difficulty
    FROM scored
    """,
)
def q_curriculum_difficulty_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phases: rank docs by a difficulty proxy
    (mean token length — longer tokens ~ harder text) and ntile into
    4 training phases, easy to hard. The (difficulty, doc_id) total
    order makes phase boundaries deterministic on both engines.
    Round 4: per-row phases come from
    operators/ranks.with_global_ntile (range exchange + per-partition
    offsets, never a SinglePartition window), so labeling scales to
    the full corpus; the ANSI tile formula matches the oracle's ntile
    bit for bit."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.operators.ranks import with_global_ntile

    docs = read_table(spark, sf_dir, "documents")
    ntoks = F.size(T.ws_tokens(F.col("text")))
    scored = docs.where(ntoks > 0).select(
        "doc_id",
        pround(
            F.length("text").cast("double") / ntoks.cast("double"), 6
        ).alias("difficulty"),
    )
    return with_global_ntile(
        scored, ["difficulty", "doc_id"], 4, tile_col="phase"
    ).select("phase", "doc_id", "difficulty")



@query(
    "regression_by_group",
    oracle=f"""
    WITH pts AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS ys
      FROM events),
    m AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(ys) AS BIGINT) AS sy,
             CAST(sum(x * ys) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY event_type)
    SELECT event_type, n,
           {sql_pround("(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                       " / (CAST(n AS DOUBLE) * sxx"
                       "    - CAST(sx AS DOUBLE) * sx) / 1000000.0", 6)}
             AS slope_per_day
    FROM m
    """,
)
def q_regression_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped least-squares trend (value vs day): the moments
    (n, Σx, Σy, Σxy, Σx²) accumulate as INTEGERS — x is a small day
    number, y is scaled to micro-units — so the distributed sums are
    exact and partitioning-independent; only the final closed-form
    slope is floating arithmetic, on identical inputs in both engines.
    This is the portable alternative to ``regr_slope`` (whose double
    accumulation drifts with partition order). One aggregation pass,
    map-side combinable."""
    ev = read_table(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("bigint")
    ys = F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")
    m = ev.select("event_type", x.alias("x"), ys.alias("ys")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("ys").alias("sy"),
        F.sum(F.col("x") * F.col("ys")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (
        (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        / 1000000.0
    )
    return m.select(
        "event_type", "n", pround(slope, 6).alias("slope_per_day")
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    stream (the behavioral fingerprint behind next-action models and
    anomaly scores). One user-keyed window for ``lead`` + one 25-cell
    aggregate; the (ts, event_id) tiebreak pins concurrent events."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "active_users_rolling",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
    maxd AS (SELECT max(day) AS dmax FROM ud),
    contrib AS (
      SELECT user_id,
             CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY))
                  AS DATE) AS day_w
      FROM ud)
    SELECT day_w AS day, count(DISTINCT user_id) AS wau
    FROM contrib, maxd WHERE day_w <= dmax
    GROUP BY 1
    """,
)
def q_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) per day: each distinct
    (user, day) presence is exploded into the 7 trailing report days
    it keeps the user active in, then distinct-counted per day. The
    bounded explode (x7 of the DISTINCT user-day table, not the raw
    events) is the scale-correct form — a range-interval window with
    COUNT(DISTINCT) doesn't exist, and self-joining days against a
    30x larger event log shuffles far more. Report days past the data
    edge are clipped against the max observed day (broadcast scalar)."""
    ev = read_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    maxd = ud.agg(F.max("day").alias("dmax"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day_w"),
    )
    return (
        contrib.crossJoin(F.broadcast(maxd))
        .where(F.col("day_w") <= F.col("dmax"))
        .groupBy(F.col("day_w").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )


@query(
    "mode_per_group",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(floor(value / 50.0) AS INT) AS vbin,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY n DESC, vbin) AS rn
          FROM c)
    SELECT event_type, vbin AS mode_bin, n AS n_occurrences
    FROM r WHERE rn = 1
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic grouped mode (most frequent value bin, smallest
    bin on ties): count-then-rank, because the native ``mode()``
    aggregate leaves tie-breaks engine-defined and therefore
    unverifiable. Two cheap aggregations over ~100 (type, bin) cells;
    the rank-1 filter compiles to WindowGroupLimit."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 50.0).cast("int").alias("vbin"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("vbin")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("vbin").alias("mode_bin"),
            F.col("n").alias("n_occurrences"),
        )
    )


@query(
    "orders_running_share",
    oracle=f"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1),
    t AS (SELECT sum(rev) AS total FROM d)
    SELECT day,
           CAST(rev AS DOUBLE) AS day_revenue,
           {sql_pround("CAST(sum(rev) OVER (ORDER BY day"
                       " ROWS UNBOUNDED PRECEDING) AS DOUBLE)"
                       " / CAST(total AS DOUBLE)", 6)} AS cum_share
    FROM d, t
    """,
)
def q_orders_running_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue share by day (the pacing / S-curve report):
    reduce to per-day decimal revenue FIRST, then run the running sum
    over the tiny day table — the global window orders |days| rows,
    never the fact table — with the grand total broadcast from a
    one-row aggregate. Decimal accumulation end-to-end keeps the
    running sums exact; only the final share division is floating."""
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev")
    )
    t = d.agg(F.sum("rev").alias("total"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return d.crossJoin(F.broadcast(t)).select(
        "day",
        F.col("rev").cast("double").alias("day_revenue"),
        pround(
            F.sum("rev").over(w).cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("cum_share"),
    )
