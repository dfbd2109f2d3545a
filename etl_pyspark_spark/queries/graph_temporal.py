"""Query family: graph_temporal (mechanically split from registry.py — see core)."""

from __future__ import annotations

from etl_pyspark_spark.checkpoint import DISK_CKPT

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    MAX_BASKET,
    MAX_BLOCK,
    SparkSession,
    query,
    read_table,
)
from etl_pyspark_spark.functions.compat import pround
from etl_pyspark_spark.queries.text_analysis import _WS_TOKENS_SQL
from etl_pyspark_spark.queries._shared import (  # noqa: F401
    _copurchase_edge_count,
    _copurchase_edges,
    _copurchase_edges_sql,
)

# ---------------------------------------------------------------------------
# Graph cohesion (k-core, local clustering) + temporal analytics
# (dyadic EWMA, point-in-time join) — SURVEY §2.9 growth surface
# ---------------------------------------------------------------------------

_KCORE_K = 4
_KCORE_ROUNDS = 5

# co-purchase edge build moved to queries._shared (r07 verdict #4);
# re-imported above for historical import sites.


def _kcore_oracle(k: int, rounds: int) -> str:
    # Every e{r} is referenced three times by round r+1 (twice through
    # the degree count, once as the join probe): without AS
    # MATERIALIZED DuckDB inlines the whole chain at each reference
    # and the oracle's cost goes exponential in the round count
    # (measured 0.4s/2.8s/70s at rounds 2/3/4 on sf0.01).
    sql = "WITH " + _copurchase_edges_sql().replace(
        "e0 AS (", "e0 AS MATERIALIZED ("
    )
    for r in range(1, rounds + 1):
        sql += f""",
    n{r} AS MATERIALIZED (
             SELECT x AS node
             FROM (SELECT u AS x FROM e{r - 1}
                   UNION ALL SELECT v FROM e{r - 1})
             GROUP BY x HAVING count(*) >= {k}),
    e{r} AS MATERIALIZED (
             SELECT e.u, e.v FROM e{r - 1} e
             JOIN n{r} a ON a.node = e.u
             JOIN n{r} b ON b.node = e.v)"""
    sql += f"""
    SELECT x AS node, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT u AS x FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
    GROUP BY x"""
    return sql


@query("graph_k_core", oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS))
def q_graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling on the part co-purchase graph: repeatedly drop
    nodes of degree < k with the edges that touch them — the standard
    cohesion filter that strips a graph's low-degree fringe before
    community detection or dense-subgraph mining. Run for a FIXED
    peel schedule (5 rounds, k=4) so the DuckDB twin is the same
    unrolled dataflow; production runs rounds to a fixed point, and
    each round here is exactly that production round: one degree
    aggregation plus two semi-joins, all keyed shuffles on the node
    id, never a collect or a window. The surviving edge set is
    localCheckpoint-ed per round — the lineage otherwise doubles each
    iteration (the classic iterative-Spark trap; pagerank_int uses
    the same discipline). Emits the surviving nodes with their
    in-subgraph degree after the final round."""
    edges = _copurchase_edges(spark, sf_dir)
    for _ in range(_KCORE_ROUNDS):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        core = deg.where(F.col("d") >= _KCORE_K).select("node")
        edges = (
            edges.join(
                core.withColumnRenamed("node", "u"), "u", "semi"
            )
            .join(core.withColumnRenamed("node", "v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint(storageLevel=DISK_CKPT)
        )
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


@query(
    "graph_local_clustering",
    oracle="WITH "
    + _copurchase_edges_sql()
    + """,
    deg AS (
      SELECT x AS node, count(*) AS d
      FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0)
      GROUP BY x),
    o AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM e0 e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v),
    tri AS (
      SELECT e1.s AS a, e1.t AS b, e2.t AS c
      FROM o e1
      JOIN o e2 ON e2.s = e1.t
      JOIN o e3 ON e3.s = e1.s AND e3.t = e2.t),
    tn AS (
      SELECT x AS node, count(*) AS n_tri
      FROM (SELECT a AS x FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY x)
    SELECT d.node, CAST(d.d AS BIGINT) AS degree,
           CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.d >= 2
                THEN CAST(2 * COALESCE(tn.n_tri, 0) AS DOUBLE)
                     / CAST(d.d * (d.d - 1) AS DOUBLE)
           END AS lcc
    FROM deg d LEFT JOIN tn ON tn.node = d.node
    """,
)
def q_graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: lcc(v) = 2*T(v) /
    (d(v)*(d(v)-1)) over the sharded co-purchase graph — the
    per-node cohesion readout (graph_triangle_count reports the
    global count; THIS attributes triangles to nodes, the feature
    community detectors and fraud heuristics actually consume).
    Same degree-oriented wedge join as the global count — each
    triangle enumerated exactly once with O(sqrt(E))-bounded fan-out
    — then the triangle's three corners are unpivoted and counted
    per node (two keyed shuffles), left-joined back onto the degree
    table so triangle-free nodes report 0. The single division is
    bigint->double, correctly rounded identically in both engines;
    degree-1 nodes get NULL (undefined), not a fake 0."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(storageLevel=DISK_CKPT)
    )
    e1 = o.select(F.col("s").alias("s1"), F.col("t").alias("t1"))
    e2 = o.select(F.col("s").alias("s2"), F.col("t").alias("t2"))
    e3 = o.select(F.col("s").alias("s3"), F.col("t").alias("t3"))
    tri = e1.join(e2, F.col("s2") == F.col("t1")).join(
        e3, (F.col("s3") == F.col("s1")) & (F.col("t3") == F.col("t2"))
    )
    tn = (
        tri.select(F.col("s1").alias("node"))
        .unionAll(tri.select(F.col("t1").alias("node")))
        .unionAll(tri.select(F.col("t2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    d = F.col("d")
    t = F.coalesce(F.col("n_tri"), F.lit(0))
    return (
        deg.join(tn, "node", "left")
        .select(
            "node",
            d.cast("bigint").alias("degree"),
            t.cast("bigint").alias("n_triangles"),
            F.when(
                d >= 2,
                (2 * t).cast("double") / (d * (d - 1)).cast("double"),
            ).alias("lcc"),
        )
    )


_EWMA_WINDOW = 16


@query(
    "ewma_order_price",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    w AS (
      SELECT o_custkey, o_orderkey,
             list(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN {_EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW
             ) AS arr
      FROM o)
    SELECT o_custkey, o_orderkey,
           CAST(len(arr) AS BIGINT) AS n_terms,
           CAST(COALESCE(list_sum(list_transform(
                  range(1, len(arr) + 1),
                  i -> arr[i] * (CASE WHEN i = 1 THEN CAST(1 AS BIGINT)
                                 ELSE CAST(1 AS BIGINT) << (i - 2) END)
                )), 0) AS DOUBLE)
           / (CAST(100 AS DOUBLE)
              * CAST(CAST(1 AS BIGINT) << (len(arr) - 1) AS DOUBLE))
             AS ewma_price
    FROM w
    """,
)
def q_ewma_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic-exact EWMA of each customer's order totals: the
    recursive smoother y_t = x_t/2 + y_{t-1}/2 unrolled over a
    trailing 16-term window (the oldest retained term absorbs the
    tail weight so weights always sum to 1 — after 16 halvings the
    dropped tail is < 2^-16 of the signal, i.e. the window IS the
    production approximation, stated rather than hidden). alpha=1/2
    makes every weight a power of two, so the weighted sum is
    computed EXACTLY in scaled int64 cents (max ~2^15 * 16 * max
    cents ~ 2^49, no overflow) and only the final normalization
    divides — one bigint->double division, correctly rounded the
    same in Spark and DuckDB, which is what makes a floating
    smoother hash-matchable across engines at all (a naive running
    double recursion diverges in the last ulp between engines).
    Plan: one window shuffle on the customer key; the trailing
    ROWS frame feeds an ordered collect_list whose per-row weighted
    fold is a codegen'd array expression — no UDF, no second
    shuffle. At 100 TB this is the standard per-entity feature
    smoother (spend velocity, rolling engagement) and shuffles
    once on the entity key."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-(_EWMA_WINDOW - 1), Window.currentRow)
    )
    arr = F.collect_list("cents").over(w)
    witharr = o.select(
        "o_custkey", "o_orderkey", arr.alias("arr")
    )
    # SQL-expr form: the Python F.shiftleft API takes only a literal
    # bit count, but the codegen'd SQL function accepts an expression
    num = F.expr(
        """aggregate(
             transform(arr, (x, i) -> x * (CASE WHEN i = 0
                 THEN CAST(1 AS BIGINT)
                 ELSE shiftleft(CAST(1 AS BIGINT), i - 1) END)),
             CAST(0 AS BIGINT), (a, x) -> a + x)"""
    )
    denom = F.lit(100).cast("double") * F.expr(
        "shiftleft(CAST(1 AS BIGINT), size(arr) - 1)"
    ).cast("double")
    return witharr.select(
        "o_custkey",
        "o_orderkey",
        F.size(F.col("arr")).cast("bigint").alias("n_terms"),
        (num.cast("double") / denom).alias("ewma_price"),
    )


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH dim AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS state_orderkey,
             arg_max(o_orderstatus, o_orderkey) AS state_status
      FROM orders GROUP BY 1, 2),
    f AS (
      SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_shipdate
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_orderkey % 7 = 0)
    SELECT f.l_orderkey, f.l_linenumber, f.o_custkey,
           f.l_shipdate AS ship_ts,
           d.state_orderkey AS asof_state_orderkey,
           d.state_status AS asof_state_status
    FROM f ASOF LEFT JOIN dim d
      ON f.o_custkey = d.o_custkey AND d.o_orderdate <= f.l_shipdate
    """,
)
def q_scd2_point_in_time_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time-correct dimension join (the feature-store
    discipline): each shipment fact picks up the customer's order
    state AS OF the ship date — never a later version, which is the
    leakage a naive latest-version join commits when backfilling
    training features. Composes three pieces the engine already
    verifies separately: version compaction (latest version per
    (key, effective-ts) via max_by — two same-day orders collapse
    deterministically, removing the tie ASOF semantics leave
    undefined), a fact-enrichment equi-join (lineitem -> orders for
    the customer key; at 100 TB this is the fact table's keyed
    shuffle, broadcast-able when the bridge is small), and the
    union+window as-of kernel (operators/joins.py asof_join — ONE
    shuffle on the entity key for both sides together, no range
    explosion, AQE handles key skew). The fact side is sharded
    (l_orderkey % 7) exactly like the graph queries: the full join
    is the same plan at 7x the rows."""
    from etl_pyspark_spark.operators.joins import asof_join

    orders = read_table(spark, sf_dir, "orders")
    dim = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("state_orderkey"),
        F.max_by("o_orderstatus", "o_orderkey").alias("state_status"),
    )
    facts = (
        read_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 7 == 0)
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
            ),
            "l_orderkey",
        )
    )
    out = asof_join(
        facts,
        dim,
        key="o_custkey",
        left_ts="l_shipdate",
        right_ts="o_orderdate",
        right_cols=["state_orderkey", "state_status"],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        F.col("l_shipdate").alias("ship_ts"),
        F.col("asof_state_orderkey"),
        F.col("asof_state_status"),
    )


@query(
    "large_order_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
                  AS DOUBLE) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 180)
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): orders whose total line
    quantity clears a threshold, joined back to order and customer
    detail — the canonical aggregate-then-rejoin shape (aggregate
    FIRST on the fact key, semi-ish join back AFTER, never the
    reverse: filtering post-join would drag every lineitem row
    through both dimension joins). The HAVING cut runs map-side
    partial aggregation on l_orderkey, the surviving key set is
    orders-of-magnitude smaller than the fact table, and both
    detail joins probe with it; at 100 TB the big->orders join is a
    keyed shuffle on the order key and customer is broadcast-able.
    Quantity sums are decimal-cast so the threshold comparison is
    exact in both engines (doubles would disagree in the last ulp
    exactly at the cut)."""
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias(
                "qty_dec"
            )
        )
        .where(F.col("qty_dec") > 180)
        .select(
            "l_orderkey",
            F.col("qty_dec").cast("double").alias("sum_qty"),
        )
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    return (
        big.join(o, o["o_orderkey"] == big["l_orderkey"])
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
    )


@query(
    "interval_overlap_join",
    oracle="""
    WITH iv AS (
      SELECT o_custkey, o_orderkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST((o_orderkey % 60) + 1 AS INTEGER) AS e
      FROM orders)
    SELECT a.o_custkey, a.o_orderkey AS order_a, b.o_orderkey AS order_b
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join: each order carries a
    fulfillment window [order date, order date + 1..60 days] and the
    query emits every same-customer pair of overlapping windows —
    the interval-algebra join (booking conflicts, concurrent
    validity, overlapping shifts) that neither an equi-join nor the
    point-in-range join_range_binned expresses. Scalable shape: each
    interval is exploded to the month bins it touches (<= 3 here,
    bounded by max duration / bin width), pairs meet with an
    EQUI-join on (key, bin) — never a per-key cross product — the
    exact overlap predicate then filters bin-mates, and each
    surviving pair is counted exactly once at the bin of the later
    start (the standard dedup trick that makes binned interval joins
    emit no duplicates without a distinct). Bin width tracks max
    interval length; at 100 TB both sides shuffle once on (key, bin)
    and skewed keys split by bin for free. concurrent_sessions_peak
    sweeps for MAX concurrency; THIS enumerates the conflicting
    pairs themselves."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(
            F.to_date("o_orderdate"),
            ((F.col("o_orderkey") % 60) + 1).cast("int"),
        ).alias("e"),
    )
    binned = o.select(
        "*",
        F.explode(
            F.sequence(
                F.trunc("s", "month"),
                F.trunc("e", "month"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("bin"),
    )
    a = binned.select(
        F.col("o_custkey").alias("k"),
        F.col("bin").alias("bin"),
        F.col("o_orderkey").alias("order_a"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
    )
    b = binned.select(
        F.col("o_custkey").alias("k"),
        F.col("bin").alias("bin"),
        F.col("o_orderkey").alias("order_b"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
    )
    return (
        # shuffle_hash, never broadcast: the build side is EXPLODED
        # (bins x rows) but the planner costs it from the pre-Generate
        # scan estimate — the same misestimate range_join_binned
        # hardens against (operators/joins.py); a statically-chosen
        # broadcast of the exploded side is a driver-side build that
        # grows with the fact table
        a.join(b.hint("shuffle_hash"), ["k", "bin"])
        .where(
            (F.col("order_a") < F.col("order_b"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
            # count each overlapping pair exactly once: at the bin
            # that contains the later of the two starts
            & (
                F.col("bin")
                == F.trunc(F.greatest("sa", "sb"), "month")
            )
        )
        .select(F.col("k").alias("o_custkey"), "order_a", "order_b")
    )


_SNAPSHOT_TS = "1998-06-01"


@query(
    "cdc_snapshot_asof",
    oracle=f"""
    WITH log AS (
      SELECT o_custkey AS key, o_orderkey AS change_id,
             CAST(o_orderdate AS DATE) AS ts,
             CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
             o_orderpriority AS attr
      FROM orders),
    seq AS (
      SELECT key, change_id, ts, op, attr,
             row_number() OVER (PARTITION BY key
                                ORDER BY ts DESC, change_id DESC) AS rn
      FROM log WHERE ts <= DATE '{_SNAPSHOT_TS}')
    SELECT key AS o_custkey, change_id AS o_orderkey,
           attr AS priority, ts AS valid_from
    FROM seq WHERE rn = 1 AND op = 'U'
    """,
)
def q_cdc_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a CDC change log: reconstruct the dimension's
    live rows AS OF a cutoff — each key's latest change at or before
    the snapshot instant wins, and a delete as the winner erases the
    key from the snapshot entirely (the case a naive
    latest-upsert-only replay silently resurrects). Same
    deterministic log derivation as cdc_log_to_scd2 (every 17th
    change is a delete); the snapshot is one filter (pushed to the
    scan: the log store prunes change files past the cutoff) + one
    per-key window top-1, which Spark executes as WindowGroupLimit —
    rank state only, no per-key buffering of full history. This is
    the batch replay of stream_cdc_upsert's continuously-maintained
    state, and the pair (scd2 intervals for ALL time, snapshot for
    ONE instant) is how a lakehouse reads versioned dimensions at
    100 TB: partition by key, never materialize closed versions you
    don't ask for."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("change_id"),
        F.to_date("o_orderdate").alias("ts"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_orderpriority").alias("attr"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("ts").desc(), F.col("change_id").desc()
    )
    snap = (
        log.where(F.col("ts") <= F.lit(_SNAPSHOT_TS).cast("date"))
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") == "U"))
    )
    return snap.select(
        F.col("key").alias("o_custkey"),
        F.col("change_id").alias("o_orderkey"),
        F.col("attr").alias("priority"),
        F.col("ts").alias("valid_from"),
    )


_APPORTION_BUDGET = 100_000


@query(
    "quota_apportionment",
    oracle=f"""
    WITH counts AS (SELECT lang, source, count(*) AS n_docs
                    FROM documents GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM counts),
    base AS (
      SELECT lang, source, n_docs,
             (n_docs * {_APPORTION_BUDGET}) // total AS floor_quota,
             (n_docs * {_APPORTION_BUDGET}) % total AS remainder
      FROM counts, tot),
    lo AS (SELECT CAST({_APPORTION_BUDGET} - sum(floor_quota) AS BIGINT)
                  AS leftover FROM base),
    ranked AS (
      SELECT lang, source, n_docs, floor_quota, leftover,
             row_number() OVER (ORDER BY remainder DESC, lang, source)
               AS rk
      FROM base, lo)
    SELECT lang, source, n_docs,
           CAST(floor_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked
    """,
)
def q_quota_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment of a fixed training budget
    across (lang, source) strata: floor-proportional quotas leave
    budget - sum(floors) slots unassigned (mixture_sampling_quota
    stops there and under-fills), so the leftover goes one slot each
    to the strata with the largest fractional remainders — quotas
    now sum to the budget EXACTLY, which is the invariant a shard
    planner downstream actually needs. All integer arithmetic
    ((n*B) div total and (n*B) mod total — no doubles, so no
    engine-divergent rounding anywhere), leftover is a one-row
    broadcast, and the remainder ranking is the engine's
    range-exchange global rank (operators/ranks.py) with a total
    tiebreak on the stratum key — never a SinglePartition window, so
    the same plan apportions a million strata."""
    from etl_pyspark_spark.operators.ranks import with_global_rank

    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").cast("bigint").alias("total"))
    base = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        (F.col("n_docs") * _APPORTION_BUDGET)
        .cast("bigint")
        .alias("scaled"),
        "total",
    )
    base = base.select(
        "lang",
        "source",
        "n_docs",
        F.expr("scaled DIV total").cast("bigint").alias("floor_quota"),
        (F.col("scaled") % F.col("total")).alias("remainder"),
    )
    lo = base.agg(
        (F.lit(_APPORTION_BUDGET) - F.sum("floor_quota"))
        .cast("bigint")
        .alias("leftover")
    )
    ranked = with_global_rank(
        base.withColumn("neg_rem", -F.col("remainder")),
        ["neg_rem", "lang", "source"],
        rank_col="rk",
    )
    return ranked.crossJoin(F.broadcast(lo)).select(
        "lang",
        "source",
        "n_docs",
        (
            F.col("floor_quota")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("quota"),
    )


@query(
    "time_weighted_avg_price",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS horizon
                FROM orders),
    held AS (
      SELECT o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             GREATEST(CAST(COALESCE(
                 lead(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey),
                 horizon) - CAST(o_orderdate AS DATE) AS BIGINT),
               1) AS days_held
      FROM orders, mx)
    SELECT o_custkey,
           CAST(sum(days_held) AS BIGINT) AS total_days,
           CAST(CAST(sum(cents * days_held) AS DOUBLE)
                / (100.0 * CAST(sum(days_held) AS DOUBLE))
                AS DOUBLE) AS twap
    FROM held GROUP BY 1
    """,
)
def q_time_weighted_avg_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-weighted average (TWAP) of each customer's order value:
    every order's price is 'held' from its date until the customer's
    next order (the last one until the fixture horizon, a one-row
    broadcast max), and the average weighs each price by its holding
    days — the step-function integral that plain AVG gets wrong
    whenever observations are unevenly spaced (prices, balances,
    sensor states). Same-day successor orders clamp to 1 day so no
    observation vanishes from the integral. Arithmetic is exact end
    to end: integer day spans from lead() over the per-customer
    window, int64 cents x days products summed as bigint, and ONE
    final bigint->double division per customer — the idiom that
    lets a weighted mean hash-match across engines. One window
    shuffle on the customer key feeding the same-keyed groupBy
    (Spark reuses the partitioning: no second exchange)."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("horizon"))
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    held = (
        o.crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
            F.greatest(
                F.datediff(
                    F.coalesce(
                        F.lead(F.to_date("o_orderdate")).over(w),
                        F.col("horizon"),
                    ),
                    F.to_date("o_orderdate"),
                ).cast("bigint"),
                F.lit(1).cast("bigint"),
            ).alias("days_held"),
        )
    )
    return held.groupBy("o_custkey").agg(
        F.sum("days_held").cast("bigint").alias("total_days"),
        (
            F.sum(F.col("cents") * F.col("days_held")).cast("double")
            / (F.lit(100.0) * F.sum("days_held").cast("double"))
        ).alias("twap"),
    )


@query(
    "cusum_change_detection",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
    tot AS (
      SELECT event_type,
             CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1),
    dev AS (
      SELECT d.event_type, d.day,
             sum(d.n * t.n_days - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS UNBOUNDED PRECEDING) AS s
      FROM daily d JOIN tot t ON t.event_type = d.event_type),
    peak AS (
      SELECT event_type, CAST(max(abs(s)) AS BIGINT) AS cusum_max
      FROM dev GROUP BY 1)
    SELECT d.event_type, p.cusum_max, min(d.day) AS change_day
    FROM dev d JOIN peak p
      ON p.event_type = d.event_type AND abs(d.s) = p.cusum_max
    GROUP BY 1, 2
    """,
)
def q_cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan per event type: the cumulative
    deviation of daily counts from the type's mean rate peaks at the
    day the rate shifted — the classic drift locator
    (chisq_event_type_drift asks WHETHER two halves differ; THIS
    finds WHERE the level changed, per type). Exactness trick: the
    deviation (n_i - total/n_days) is scaled by n_days so the
    running statistic is Σ(n_i*D - N) — pure bigint, no division
    ever, so the argmax day can't flip on an engine's last-ulp
    disagreement. One keyed window cumsum + one groupBy on the same
    key (partitioning reused, no extra exchange); ties on the peak
    resolve to the earliest day. At 100 TB the daily pre-aggregate
    is the only pass over raw events."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = daily.join(tot, "event_type").select(
        "event_type",
        "day",
        F.sum(
            F.col("n") * F.col("n_days") - F.col("total")
        )
        .over(w)
        .alias("s"),
    )
    peak = dev.groupBy("event_type").agg(
        F.max(F.abs(F.col("s"))).cast("bigint").alias("cusum_max")
    )
    return (
        dev.join(peak, "event_type")
        .where(F.abs(F.col("s")) == F.col("cusum_max"))
        .groupBy("event_type", "cusum_max")
        .agg(F.min("day").alias("change_day"))
        .select("event_type", "cusum_max", "change_day")
    )


@query(
    "clamped_running_balance",
    oracle="""
    WITH flows AS (
      SELECT l_partkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT)
               * (CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE -1 END)
               AS flow,
             l_shipdate
      FROM lineitem WHERE l_orderkey % 7 = 0),
    s1 AS (
      SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
             sum(flow) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM flows),
    s AS (
      SELECT l_partkey, l_orderkey, l_linenumber, cum,
             min(cum) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum_min
      FROM s1)
    SELECT l_partkey, l_orderkey, l_linenumber,
           CAST(cum - LEAST(CAST(0 AS BIGINT), cum_min) AS BIGINT)
             AS balance
    FROM s
    """,
)
def q_clamped_running_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Floor-clamped running stock balance per part: receipts add,
    issues subtract, and the level can never go below zero —
    b_t = max(0, b_{t-1} + x_t), the recurrence every inventory,
    credit-limit, and token-bucket ledger runs. The recurrence is
    non-associative, so the naive implementation is a sequential
    per-key scan (or a per-key UDAF loop); the engine instead uses
    the prefix closed form b_t = S_t - min(0, min_{k<=t} S_k) — two
    stacked window passes over the SAME (key, order) partitioning
    (cumulative sum, then running min of it), which Spark executes
    in one shuffle with both Window operators pipelined. Bigint
    quantities end to end, so the clamp point is exact in both
    engines. The same two-window trick linearizes any
    max/min-clamped prefix recurrence at 100 TB — no
    applyInPandas, no iteration."""
    from pyspark.sql.window import Window

    flows = (
        read_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 7 == 0)
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            (
                F.col("l_quantity").cast("bigint")
                * F.when(F.col("l_orderkey") % 2 == 0, 1).otherwise(-1)
            ).alias("flow"),
            "l_shipdate",
        )
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = flows.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.sum("flow").over(w).alias("cum"),
    )
    s = s.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "cum",
        F.min("cum")
        .over(
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum_min"),
    )
    return s.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        (
            F.col("cum")
            - F.least(F.lit(0).cast("bigint"), F.col("cum_min"))
        )
        .cast("bigint")
        .alias("balance"),
    )


def _entity_resolution_oracle() -> str:
    from etl_pyspark_spark.dedup.components import (
        sql_components_over_pairs,
    )

    return (
        """WITH RECURSIVE
    fpairs AS (
      SELECT a.c_custkey AS doc_id_a, b.c_custkey AS doc_id_b
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey
       AND substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
       AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1),
    """
        + sql_components_over_pairs("fpairs", final_name="labels")
        + """,
    assigned AS (
      SELECT c.c_custkey,
             COALESCE(l.component_id, c.c_custkey) AS entity_id
      FROM customer c LEFT JOIN labels l ON l.doc_id = c.c_custkey),
    clusters AS (
      SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
             list(c_custkey ORDER BY c_custkey) AS member_keys
      FROM assigned GROUP BY 1)
    SELECT k.entity_id, cc.c_name AS canonical_name,
           k.n_records, k.member_keys
    FROM clusters k JOIN customer cc ON cc.c_custkey = k.entity_id
    WHERE k.n_records > 1
    """
    )


@query("entity_resolution_clusters", oracle=_entity_resolution_oracle())
def q_entity_resolution_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end entity resolution: blocked fuzzy matching ->
    transitive closure -> canonical record — the full master-data
    chain, composed from pieces the engine verifies separately
    (fuzzy_name_match_blocked generates in-block edit-distance<=1
    edges, dedup/components.py hash-min propagation labels the
    match graph, and the minimum member key IS the canonical id by
    construction of the labeling, so canonical selection costs one
    join instead of a min_by pass). Transitivity is the part a plain
    pairwise match gets wrong: A~B and B~C must land A, B, C in ONE
    entity even when A and C don't match directly — exactly what
    the recursive-CTE oracle replays. Blocking keeps candidate
    generation off the O(n^2) cliff, and block membership is
    hard-capped at MAX_BLOCK (operators/blocking hash-rank
    WindowGroupLimit — cap-free on honest fixture blocks, bounded
    O(cap^2) on pathological ones); the propagation loop's shuffles
    are keyed on node id with per-round lineage truncation. Emits
    only multi-record entities (the interesting ones) with their
    sorted member list."""
    from etl_pyspark_spark.dedup.components import connected_components
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
    pairs = (
        a.join(b, ["nk", "blk"])
        .where(F.col("custkey_a") < F.col("custkey_b"))
        .where(F.levenshtein(F.col("name_a"), F.col("name_b")) <= 1)
        .select("custkey_a", "custkey_b")
    )
    labels = connected_components(
        pairs, src="custkey_a", dst="custkey_b"
    )
    assigned = (
        cust.select("c_custkey")
        .join(
            labels.select(
                F.col("doc_id").alias("c_custkey"),
                F.col("component_id"),
            ),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            F.coalesce("component_id", "c_custkey").alias("entity_id"),
        )
    )
    clusters = (
        assigned.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_records"),
            F.array_sort(F.collect_list("c_custkey")).alias(
                "member_keys"
            ),
        )
        .where(F.col("n_records") > 1)
    )
    canon = cust.select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("canonical_name"),
    )
    return clusters.join(canon, "entity_id").select(
        "entity_id", "canonical_name", "n_records", "member_keys"
    )


@query(
    "score_decile_lift",
    oracle=f"""
    WITH s AS (
      SELECT event_id, value,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN 1 ELSE 0 END AS label
      FROM events WHERE value IS NOT NULL),
    t AS (SELECT label,
                 ntile(10) OVER (ORDER BY value DESC, event_id)
                   AS decile
          FROM s),
    d AS (SELECT decile,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(label) AS BIGINT) AS n_pos
          FROM t GROUP BY 1),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS tot_n,
                 CAST(sum(n_pos) AS BIGINT) AS tot_pos
          FROM d)
    SELECT decile, n, n_pos,
           CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
           CAST(n_pos * tot_n AS DOUBLE)
             / CAST(n * tot_pos AS DOUBLE) AS lift,
           CAST(sum(n_pos) OVER (ORDER BY decile
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(tot_pos AS DOUBLE) AS cum_gain
    FROM d, g
    """,
)
def q_score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table for the classifier-eval family
    (roc_auc_exact ranks globally, score_calibration_bins checks
    probability honesty; THIS is the campaign-targeting readout:
    how concentrated are the positives in the top score deciles).
    Deciles come from operators/ranks.with_global_ntile over
    (score DESC, event_id) — range exchange, never a
    SinglePartition ntile over the full table; the per-decile
    rollup is 10 rows, so the cumulative-gain window over it is
    bounded by construction (k=10 rows regardless of corpus size —
    an unpartitioned frame over a CONSTANT-size aggregate is the
    one place it's legitimate). lift = pos_d*N / (n_d*P) and both
    rates divide integers once into doubles — identically rounded
    in both engines."""
    from etl_pyspark_spark.operators.ranks import with_global_ntile
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    s = ev.select(
        "event_id",
        (-F.col("value")).alias("neg_value"),
        F.col("event_type")
        .isin("purchase", "signup")
        .cast("int")
        .alias("label"),
    )
    t = with_global_ntile(
        s, ["neg_value", "event_id"], 10, tile_col="decile"
    )
    d = t.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )
    g = d.agg(
        F.sum("n").cast("bigint").alias("tot_n"),
        F.sum("n_pos").cast("bigint").alias("tot_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        d.crossJoin(F.broadcast(g))
        .select(
            "decile",
            "n",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n").cast("double"))
            .alias("pos_rate"),
            (
                (F.col("n_pos") * F.col("tot_n")).cast("double")
                / (F.col("n") * F.col("tot_pos")).cast("double")
            ).alias("lift"),
            (
                F.sum("n_pos").over(w).cast("double")
                / F.col("tot_pos").cast("double")
            ).alias("cum_gain"),
        )
    )


def _dedup_impact_oracle() -> str:
    from etl_pyspark_spark.dedup.components import (
        sql_components_over_pairs,
    )
    from etl_pyspark_spark.dedup.minhash import (
        sql_minhash_pairs,
        sql_shingles_cte,
    )

    toks = _WS_TOKENS_SQL.format(col="d.text")
    return (
        "WITH RECURSIVE "
        + sql_shingles_cte()
        + ", "
        + sql_minhash_pairs(final_name="pairs")
        + ", "
        + sql_components_over_pairs("pairs", final_name="comp")
        + f""",
    flagged AS (
      SELECT d.source,
             CASE WHEN d.text IS NULL THEN 0
                  ELSE len({toks}) END AS n_tokens,
             (c.doc_id IS NULL OR c.component_id = d.doc_id) AS kept
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_docs_kept,
           CAST(COALESCE(sum(n_tokens) FILTER (WHERE kept), 0)
                AS BIGINT) AS n_tokens_kept
    FROM flagged GROUP BY source
    """
    )


@query("dedup_impact_by_source", oracle=_dedup_impact_oracle())
def q_dedup_impact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup impact accounting: document and TOKEN counts
    before vs after near-dup collapse (keep the min-id member of
    each MinHash-LSH cluster, i.e. the component label itself) — the
    mixture-planner readout that says how much of each source's
    token mass dedup actually removes, which is what re-weights the
    training mixture after cleaning (source_overlap_matrix says who
    copies whom; THIS says what's left). Rides the session-shared
    pair/component stages (dedup/shared.py), so the marginal cost is
    one slim left join of the tiny cluster table against the corpus
    projection and a per-source rollup; token counts are exact
    whitespace-token cardinalities (functions/text.ws_tokens), kept
    as bigints end to end."""
    from etl_pyspark_spark.dedup.shared import dup_components
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(ws_tokens(F.col("text"))))
        .cast("bigint")
        .alias("n_tokens"),
    )
    comp = dup_components(spark, sf_dir)
    flagged = docs.join(comp, "doc_id", "left").select(
        "source",
        "n_tokens",
        (
            F.col("component_id").isNull()
            | (F.col("component_id") == F.col("doc_id"))
        ).alias("kept"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(F.col("kept").cast("bigint"))
        .cast("bigint")
        .alias("n_docs_kept"),
        F.coalesce(
            F.sum(F.when(F.col("kept"), F.col("n_tokens"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_tokens_kept"),
    )


@query(
    "bitemporal_snapshot",
    oracle=f"""
    WITH log AS (
      SELECT o_custkey AS key, o_orderkey AS change_id,
             CAST(o_orderdate AS DATE) AS valid_from,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 30 AS INTEGER) AS tx_from,
             CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
             o_orderpriority AS attr
      FROM orders),
    vis AS (
      SELECT key, change_id, valid_from, op, attr,
             row_number() OVER (PARTITION BY key
                                ORDER BY valid_from DESC,
                                         change_id DESC) AS rn
      FROM log
      WHERE tx_from <= DATE '{_SNAPSHOT_TS}'
        AND valid_from <= DATE '{_SNAPSHOT_TS}')
    SELECT key AS o_custkey, change_id AS o_orderkey,
           attr AS priority, valid_from
    FROM vis WHERE rn = 1 AND op = 'U'
    """,
)
def q_bitemporal_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal snapshot: the dimension AS THE SYSTEM KNEW IT at a
    transaction-time cutoff, valid AS OF a business-time instant —
    the reproducibility discipline behind 'rebuild last month's
    features exactly as the pipeline saw them', where
    cdc_snapshot_asof answers only the business-time half. Each
    change here lands late by a deterministic 0-29 day ingestion
    delay (tx_from = valid_from + orderkey%30), so changes already
    VALID at the cutoff but not yet ARRIVED are invisible — the
    rows a valid-time-only replay silently (and wrongly) includes;
    diffing this result against cdc_snapshot_asof measures exactly
    that late-data exposure. Mechanics stay scan-friendly: both
    temporal predicates are pushed-down filters, then the same
    per-key WindowGroupLimit top-1 on (valid_from, change_id) with
    delete-wins semantics; a lakehouse at 100 TB runs this as one
    partition-pruned pass over the change files dated <= the tx
    cutoff."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    cutoff = F.lit(_SNAPSHOT_TS).cast("date")
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("change_id"),
        F.to_date("o_orderdate").alias("valid_from"),
        F.date_add(
            F.to_date("o_orderdate"),
            (F.col("o_orderkey") % 30).cast("int"),
        ).alias("tx_from"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_orderpriority").alias("attr"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("valid_from").desc(), F.col("change_id").desc()
    )
    vis = (
        log.where(
            (F.col("tx_from") <= cutoff)
            & (F.col("valid_from") <= cutoff)
        )
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") == "U"))
    )
    return vis.select(
        F.col("key").alias("o_custkey"),
        F.col("change_id").alias("o_orderkey"),
        F.col("attr").alias("priority"),
        "valid_from",
    )


_WM_DELAY_US = 3 * 3600 * 1_000_000


@query(
    "watermark_lateness_audit",
    oracle=f"""
    WITH a AS (
      SELECT event_id, event_type, epoch_us(ts) AS tus,
             epoch_us(ts) + (event_id % 7) * 3600000000 AS arr_us
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    w AS (
      SELECT event_type, tus,
             max(tus) OVER (ORDER BY arr_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS mx
      FROM a)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE tus < mx - {_WM_DELAY_US})
                AS BIGINT) AS n_late,
           CAST(COALESCE(max(mx - {_WM_DELAY_US} - tus) FILTER (
                  WHERE tus < mx - {_WM_DELAY_US}), 0) AS BIGINT)
             AS max_lateness_us
    FROM w GROUP BY 1
    """,
)
def q_watermark_lateness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark policy simulation on historical data: replay events
    in a deterministic ARRIVAL order (event time + a 0-6h per-event
    ingestion jitter), maintain the running event-time max exactly
    as Structured Streaming's watermark does, and count per type how
    many rows a 3-hour watermark would have dropped and how stale
    the worst straggler was — the number you need BEFORE picking a
    production watermark delay (too tight drops data, too loose
    bloats state; the streaming queries here size their own
    watermarks from exactly this distribution). The running max over
    the GLOBAL arrival order is the scale problem: an unpartitioned
    window serializes, so it runs through
    operators/ranks.with_global_cummax — range exchange on arrival
    key, per-partition running max, exclusive prefix-max folded in
    from a broadcast |partitions|-row dim. A row is late iff its
    event time trails the inclusive running max by more than the
    delay (inclusive == exclusive here: a row can never make ITSELF
    late). Microsecond bigint arithmetic end to end."""
    from etl_pyspark_spark.operators.ranks import with_global_cummax

    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    a = ev.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        (
            F.unix_micros("ts")
            + (F.col("event_id") % 7) * 3_600_000_000
        ).alias("arr_us"),
    )
    w = with_global_cummax(
        a, ["arr_us", "event_id"], "tus", cummax_col="mx"
    )
    late = F.col("tus") < F.col("mx") - _WM_DELAY_US
    lateness = F.col("mx") - _WM_DELAY_US - F.col("tus")
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(late.cast("bigint")).cast("bigint").alias("n_late"),
        F.coalesce(
            F.max(F.when(late, lateness)), F.lit(0)
        )
        .cast("bigint")
        .alias("max_lateness_us"),
    )


_KANON_K = 5


@query(
    "k_anonymity_generalize",
    oracle=f"""
    WITH base AS (
      SELECT c_mktsegment,
             CAST(floor(c_acctbal / 100) AS BIGINT) AS b100,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS b1000
      FROM customer),
    c0 AS (
      SELECT *, count(*) OVER (PARTITION BY c_mktsegment, b100) AS n0
      FROM base),
    c1 AS (
      SELECT *, count(*) OVER (PARTITION BY c_mktsegment, b1000) AS n1
      FROM c0 WHERE n0 < {_KANON_K}),
    lvl0 AS (
      SELECT c_mktsegment, 0 AS level, b100 AS band_key,
             CAST(count(*) AS BIGINT) AS n_records
      FROM c0 WHERE n0 >= {_KANON_K} GROUP BY 1, 3),
    lvl1 AS (
      SELECT c_mktsegment, 1 AS level, b1000 AS band_key,
             CAST(count(*) AS BIGINT) AS n_records
      FROM c1 WHERE n1 >= {_KANON_K} GROUP BY 1, 3),
    lvl2 AS (
      SELECT c_mktsegment, 2 AS level, CAST(-1 AS BIGINT) AS band_key,
             CAST(count(*) AS BIGINT) AS n_records
      FROM c1 WHERE n1 < {_KANON_K} GROUP BY 1)
    SELECT * FROM lvl0
    UNION ALL SELECT * FROM lvl1
    UNION ALL SELECT * FROM lvl2
    """,
)
def q_k_anonymity_generalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-anonymity ENFORCEMENT by local recoding (k_anonymity_audit
    only measures; this fixes): records whose (segment, $100
    balance band) equivalence class has fewer than k=5 members
    escalate up a generalization ladder — $1000 bands, then the
    fully suppressed band — and each record settles at the FIRST
    level where its class clears k (level-2 classes keep whatever
    is left: segment-only classes are large by construction, the
    ladder's terminal catch-all). Local recoding beats full-domain
    generalization on information loss: records in already-large
    classes keep their fine bands. Mechanics: one keyed window
    count per ladder level over only the records still escalating
    (the candidate set shrinks each level, like k-core's peel), a
    final per-class rollup per level, unioned. Bands are
    floor(balance/step) — exact on both engines because balances
    are 2-decimal values away from band boundaries by >> 1 ulp.
    Emits the anonymized equivalence classes with their sizes."""
    from pyspark.sql.window import Window

    base = read_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("bigint").alias("b100"),
        F.floor(F.col("c_acctbal") / 1000)
        .cast("bigint")
        .alias("b1000"),
    )
    c0 = base.withColumn(
        "n0",
        F.count(F.lit(1)).over(
            Window.partitionBy("c_mktsegment", "b100")
        ),
    )
    kept0 = (
        c0.where(F.col("n0") >= _KANON_K)
        .groupBy("c_mktsegment", F.col("b100").alias("band_key"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
        .select(
            "c_mktsegment",
            F.lit(0).alias("level"),
            "band_key",
            "n_records",
        )
    )
    c1 = c0.where(F.col("n0") < _KANON_K).withColumn(
        "n1",
        F.count(F.lit(1)).over(
            Window.partitionBy("c_mktsegment", "b1000")
        ),
    )
    kept1 = (
        c1.where(F.col("n1") >= _KANON_K)
        .groupBy("c_mktsegment", F.col("b1000").alias("band_key"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
        .select(
            "c_mktsegment",
            F.lit(1).alias("level"),
            "band_key",
            "n_records",
        )
    )
    lvl2 = (
        c1.where(F.col("n1") < _KANON_K)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
        .select(
            "c_mktsegment",
            F.lit(2).alias("level"),
            F.lit(-1).cast("bigint").alias("band_key"),
            "n_records",
        )
    )
    return kept0.unionByName(kept1).unionByName(lvl2)


@query(
    "percent_of_parent_rollup",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             -- reduce the scale-12 product sum to scale 6 BEFORE any
             -- double cast (a scale-12 scaled integer exceeds 2^53,
             -- where the engines' decimal->double roundings can
             -- differ by one ulp — caught by the r8 native-fixture
             -- sweep), but keep precision 38: DECIMAL(18,6) capped
             -- the totals at 1e12, which native sf~7 revenue exceeds
             -- (Spark nulls the overflow, DuckDB errors — r9 advice)
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
               AS DECIMAL(38,6)) AS rev_dec
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2),
    reg AS (SELECT region, CAST(sum(rev_dec) AS DECIMAL(38,6)) AS reg_dec
            FROM rev GROUP BY 1),
    tot AS (SELECT CAST(sum(rev_dec) AS DECIMAL(38,6)) AS tot_dec FROM rev)
    -- every displayed double takes the house pround (floor(x*m+0.5)/m)
    -- so a 1-ulp decimal->double cast divergence past 2^53 can no
    -- longer flip the rendered value off-boundary; a DECIMAL cast to
    -- scale 2 is NOT usable here — Spark rescales half-up, DuckDB
    -- half-even, and scale-6 revenues land on exact .xx5 midpoints
    SELECT v.region, v.nation,
           floor(CAST(v.rev_dec AS DOUBLE) * 100.0 + 0.5) / 100.0
             AS nation_revenue,
           floor((CAST(v.rev_dec AS DOUBLE) / CAST(g.reg_dec AS DOUBLE))
                 * 1e12 + 0.5) / 1e12 AS share_of_region,
           floor((CAST(g.reg_dec AS DOUBLE) / CAST(t.tot_dec AS DOUBLE))
                 * 1e12 + 0.5) / 1e12 AS region_share_of_total
    FROM rev v JOIN reg g ON g.region = v.region, tot t
    """,
)
def q_percent_of_parent_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Percent-of-parent hierarchical report: each nation's revenue
    share WITHIN its region, and each region's share of the world —
    the drill-down ratio pair every BI rollup renders
    (market_share_ratio slices by year; THIS walks the geo
    hierarchy). Revenue aggregates once at the leaf level
    (decimal-exact sums); the region and grand totals re-aggregate
    the TINY leaf table (|nations| rows), so the parent totals are
    broadcast joins, never a window over the fact table and never a
    second fact scan. Ratios are decimal->double casts divided
    once — identical IEEE rounding on both engines. At 100 TB the
    only fact-table pass is the leaf aggregation; everything above
    it is metadata-sized."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    rev = (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(n, n["n_nationkey"] == c["c_nationkey"])
        .join(r, r["r_regionkey"] == n["n_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            # scale reduced to 6 before the double cast (2^53 ulp
            # hazard) at precision 38 — precision 18 overflowed at
            # native sf~7 (Spark nulls, DuckDB errors); see oracle
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * (1 - F.col("l_discount").cast("decimal(18,6)"))
            )
            .cast("decimal(38,6)")
            .alias("rev_dec")
        )
    )
    reg = rev.groupBy("region").agg(
        F.sum("rev_dec").cast("decimal(38,6)").alias("reg_dec")
    )
    tot = rev.agg(F.sum("rev_dec").cast("decimal(38,6)").alias("tot_dec"))
    return (
        rev.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            # house pround, NOT a decimal rescale to cents: Spark's
            # decimal cast rounds half-up, DuckDB's half-even, and
            # scale-6 revenue sums do land on exact .xx5 midpoints
            pround(F.col("rev_dec").cast("double"), 2).alias(
                "nation_revenue"
            ),
            pround(
                F.col("rev_dec").cast("double")
                / F.col("reg_dec").cast("double"),
                12,
            ).alias("share_of_region"),
            pround(
                F.col("reg_dec").cast("double")
                / F.col("tot_dec").cast("double"),
                12,
            ).alias("region_share_of_total"),
        )
    )


@query(
    "cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1),
    daily AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_new
      FROM first_seen GROUP BY 1)
    SELECT day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM daily
    """,
)
def q_cumulative_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cumulative-distinct growth curve: users ever seen by each day
    — the audience-growth readout that naive COUNT(DISTINCT) per
    cumulative window recomputes quadratically. The linear-cost
    identity: a user contributes exactly once, at their FIRST
    event day, so cumulative distinct = running sum of first-seen
    counts — one groupBy(user) min, one daily rollup, and a running
    total over the (tiny, bounded-by-calendar) day table via
    operators/ranks.with_global_cumsum — never a distinct inside a
    window, never SinglePartition. cohort_retention slices the same
    first-seen table by cohort; THIS is its running-total face."""
    from etl_pyspark_spark.operators.ranks import with_global_cumsum

    ev = read_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    return with_global_cumsum(
        daily, ["day"], "n_new", "cum_users"
    ).select("day", "n_new", F.col("cum_users").cast("bigint"))


_DECAY_WEEKS = 8


@query(
    "decayed_leaderboard",
    oracle=f"""
    WITH mx AS (SELECT max(CAST(l_shipdate AS DATE)) AS horizon
                FROM lineitem),
    wk AS (
      SELECT l_partkey,
             CAST((horizon - CAST(l_shipdate AS DATE)) // 7
                  AS BIGINT) AS age_w,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem, mx
      WHERE CAST(l_shipdate AS DATE) > horizon - {7 * _DECAY_WEEKS}),
    scored AS (
      SELECT l_partkey,
             sum(qty * (CAST(1 AS BIGINT)
                        << ({_DECAY_WEEKS - 1} - age_w))) AS score_scaled
      FROM wk GROUP BY 1)
    SELECT l_partkey, CAST(score_scaled AS BIGINT) AS score_scaled,
           CAST(CAST(score_scaled AS DOUBLE)
                / {1 << (_DECAY_WEEKS - 1)} AS DOUBLE) AS decayed_qty
    FROM scored
    ORDER BY score_scaled DESC, l_partkey
    LIMIT 20
    """,
)
def q_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed top-20 parts by shipped quantity: each week of
    age halves a shipment's weight (half-life = 1 week over an
    8-week horizon) — the trending-items ranking that a plain
    total-count leaderboard gets wrong the moment demand shifts.
    Dyadic decay is what makes it hash-matchable: weights are
    2^-age, so scores accumulate EXACTLY as bigint
    (qty << (7 - age_w)) and the single display division by 2^7
    happens once, after aggregation (the same exactness trick as
    ewma_order_price, applied to ranking). The horizon here is
    computed from the data (1-row broadcast max), so the 8-week cut
    is a post-scan filter against that broadcast row; a production
    run passes the cutoff as a LITERAL and the same predicate then
    partition-prunes the scan to 8 weeks of files. The score is one
    map-side-combined groupBy, and the top-20 runs as
    TakeOrderedAndProject with the partkey tiebreak — never a
    global sort."""
    li = read_table(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max(F.to_date("l_shipdate")).alias("horizon")
    )
    wk = (
        li.crossJoin(F.broadcast(mx))
        .where(
            F.to_date("l_shipdate")
            > F.date_sub(F.col("horizon"), 7 * _DECAY_WEEKS)
        )
        .select(
            "l_partkey",
            F.floor(
                F.datediff(F.col("horizon"), F.to_date("l_shipdate"))
                / 7
            )
            .cast("bigint")
            .alias("age_w"),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )
    scored = wk.groupBy("l_partkey").agg(
        F.sum(
            F.col("qty")
            * F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"{_DECAY_WEEKS - 1} - age_w)"
            )
        ).alias("score_scaled")
    )
    return (
        scored.select(
            "l_partkey",
            F.col("score_scaled").cast("bigint").alias("score_scaled"),
            (
                F.col("score_scaled").cast("double")
                / F.lit(float(1 << (_DECAY_WEEKS - 1)))
            ).alias("decayed_qty"),
        )
        .orderBy(F.col("score_scaled").desc(), "l_partkey")
        .limit(20)
    )


@query(
    "multimodal_exact_dedup",
    oracle="""
    WITH a AS (
      SELECT doc_id, md5(text) AS checksum,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents WHERE text IS NOT NULL)
    SELECT checksum,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
           CAST((count(*) - 1) * min(n_bytes) AS BIGINT)
             AS wasted_bytes
    FROM a GROUP BY checksum
    """,
)
def q_multimodal_exact_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact byte-level dedup of the multimodal asset lake — the
    cheap first pass that runs BEFORE perceptual hashing
    (multimodal_phash_dedup finds near-dups among whatever survives
    THIS): group assets by payload checksum, keep the min-id copy,
    report the bytes any duplicates waste (every group is emitted,
    like dedup_exact — this fixture's duplicates are near-dups, so
    groups are singletons here and wasted_bytes is 0). The checksum is the md5
    the asset table already carries (multimodal/assets.py:55 — the
    bytes never cross into Python; identical copies of an image or
    audio blob collapse regardless of filename or metadata), so at
    100 TB this is one map-side-combined groupBy on a 16-byte key
    over checksums computed at INGEST time — the dedup itself never
    rereads payloads. wasted_bytes uses min(n_bytes): within a
    checksum group all payloads are byte-identical by definition."""
    from etl_pyspark_spark.multimodal.assets import with_payload

    docs = read_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    assets = with_payload(docs)
    return (
        assets.groupBy("checksum")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
            (
                (F.count(F.lit(1)) - 1) * F.min("n_bytes")
            )
            .cast("bigint")
            .alias("wasted_bytes"),
        )
    )


@query(
    "longest_daily_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT o_custkey,
             CAST(o_orderdate AS DATE) AS day
      FROM orders),
    grp AS (
      SELECT o_custkey, day,
             CAST(day - DATE '1970-01-01' AS BIGINT)
               - row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY day) AS g
      FROM days),
    streaks AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS len,
             min(day) AS streak_start
      FROM grp GROUP BY o_custkey, g)
    SELECT o_custkey,
           max(len) AS longest_streak,
           min(streak_start) FILTER (
             WHERE len = (SELECT max(s2.len) FROM streaks s2
                          WHERE s2.o_custkey = streaks.o_custkey))
             AS streak_start
    FROM streaks GROUP BY o_custkey
    """,
)
def q_longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of CONSECUTIVE order days per customer — the
    gaps-and-islands idiom in its row_number-difference form:
    day_number - row_number() is constant exactly within a
    consecutive run (sessionize_events builds islands from
    lag+cumsum gap flags; THIS is the arithmetic twin that needs no
    gap threshold), so streaks fall out of one groupBy on the
    derived constant. Two window-free-able shuffles total, both
    keyed on the customer: the per-key row_number window and the
    (key, group) rollup reuse one partitioning. Day arithmetic is
    integer days-since-epoch — no timestamp subtraction ulp risk.
    Earliest streak wins the start-date tiebreak when several runs
    share the max length."""
    from pyspark.sql.window import Window

    days = (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.to_date("o_orderdate").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("day")
    grp = days.select(
        "o_custkey",
        "day",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            - F.row_number().over(w)
        ).alias("g"),
    )
    streaks = grp.groupBy("o_custkey", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("day").alias("streak_start"),
    )
    best = streaks.groupBy("o_custkey").agg(
        F.max("len").alias("longest_streak")
    )
    return (
        streaks.join(best, "o_custkey")
        .where(F.col("len") == F.col("longest_streak"))
        .groupBy("o_custkey", "longest_streak")
        .agg(F.min("streak_start").alias("streak_start"))
        .select("o_custkey", "longest_streak", "streak_start")
    )


def _release_card_oracle() -> str:
    from etl_pyspark_spark.dedup.components import (
        sql_components_over_pairs,
    )
    from etl_pyspark_spark.dedup.minhash import (
        sql_minhash_pairs,
        sql_shingles_cte,
    )

    toks = _WS_TOKENS_SQL.format(col="d.text")
    return (
        "WITH RECURSIVE "
        + sql_shingles_cte()
        + ", "
        + sql_minhash_pairs(final_name="pairs")
        + ", "
        + sql_components_over_pairs("pairs", final_name="comp")
        + f""",
    d AS (SELECT doc_id, source, lang, text FROM documents),
    base AS (
      SELECT d.source,
             CASE WHEN d.text IS NULL THEN 0
                  ELSE len({toks}) END AS nt,
             (d.text IS NULL) AS is_null,
             (c.doc_id IS NOT NULL) AS is_dup,
             d.lang
      FROM d LEFT JOIN comp c ON c.doc_id = d.doc_id),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (WHERE is_null) AS BIGINT)
               AS n_null_text,
             CAST(count(*) FILTER (WHERE is_dup) AS BIGINT)
               AS n_dup_members,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM base GROUP BY 1),
    lc AS (SELECT source, lang, count(*) AS c FROM d
           WHERE lang IS NOT NULL GROUP BY 1, 2),
    top AS (
      SELECT source, lang AS top_lang
      FROM (SELECT source, lang,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY c DESC, lang DESC)
                     AS rn
            FROM lc) WHERE rn = 1)
    SELECT a.source, a.n_docs, a.n_tokens, a.n_null_text,
           a.n_dup_members,
           CAST(CAST(a.n_dup_members AS DOUBLE)
                / CAST(a.n_docs AS DOUBLE) AS DOUBLE) AS pct_dup,
           a.n_langs, t.top_lang
    FROM agg a JOIN top t ON t.source = a.source
    """
    )


@query("corpus_release_card", oracle=_release_card_oracle())
def q_corpus_release_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus release card — the one-page summary a data
    release ships next to the shards: document and token mass,
    null-payload count, how many docs sit in near-dup clusters
    (rides the session-shared MinHash pair/component stages),
    language breadth, and the dominant language. Every number is a
    count or a single integer->double division, so the card
    hash-matches across engines; the dominant language is a per-key
    window top-1 (WindowGroupLimit) with a full (count DESC, lang
    DESC) tiebreak. One pass over the corpus projection + the tiny
    cluster and language rollups — the marginal cost at 100 TB is
    the token count, which reuses the same tokenize-once staging
    every text query shares."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.dedup.shared import dup_components
    from etl_pyspark_spark.functions.text import ws_tokens

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    comp = dup_components(spark, sf_dir).select("doc_id")
    base = d.join(
        comp.withColumn("is_dup", F.lit(True)), "doc_id", "left"
    ).select(
        "source",
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(ws_tokens(F.col("text"))))
        .cast("bigint")
        .alias("nt"),
        F.col("text").isNull().alias("is_null"),
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        "lang",
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
        F.sum(F.col("is_null").cast("bigint"))
        .cast("bigint")
        .alias("n_null_text"),
        F.sum(F.col("is_dup").cast("bigint"))
        .cast("bigint")
        .alias("n_dup_members"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    lc = (
        d.where(F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").desc()
    )
    top = (
        lc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return agg.join(top, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_null_text",
        "n_dup_members",
        (
            F.col("n_dup_members").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("pct_dup"),
        "n_langs",
        "top_lang",
    )


@query(
    "join_asof_forward",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           CAST(floor(epoch(e.ts)) AS BIGINT) AS error_epoch_s,
           p.purchase_epoch_s AS asof_next_purchase_epoch_s,
           p.purchase_value AS asof_next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (
        SELECT user_id, ts,
               CAST(floor(epoch(ts)) AS BIGINT) AS purchase_epoch_s,
               value AS purchase_value
        FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND p.ts >= e.ts
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each error event picks up the user's NEXT
    purchase at-or-after it — the time-to-recovery / next-conversion
    lookup that completes the as-of family (backward x3 variants
    answer 'latest state BEFORE'; forward answers 'first outcome
    AFTER', the shape funnel latency and incident-recovery metrics
    are built from). Same union+single-window kernel
    (operators/joins.py): the frame flips to (current, following)
    with first(ignorenulls) and the equal-ts side tiebreak flips so
    a same-instant outcome still matches — one shuffle for both
    sides together, no range explosion."""
    from etl_pyspark_spark.operators.joins import asof_join

    ev = read_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        "ts",
        F.unix_timestamp("ts").alias("error_epoch_s"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.unix_timestamp("ts").alias("purchase_epoch_s"),
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(
        errors,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["purchase_epoch_s", "purchase_value"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "error_epoch_s",
        F.col("asof_purchase_epoch_s").alias(
            "asof_next_purchase_epoch_s"
        ),
        F.col("asof_purchase_value").alias("asof_next_purchase_value"),
    )


@query(
    "blocking_recall_eval",
    oracle="""
    WITH s AS (
      SELECT * FROM (
        SELECT c_nationkey, c_custkey, c_name,
               row_number() OVER (
                 PARTITION BY c_nationkey
                 ORDER BY ('0x' || substr(md5('strat:'
                            || CAST(c_custkey AS VARCHAR)), 1, 15))
                            ::BIGINT,
                          c_custkey) AS rk
        FROM customer WHERE c_custkey % 3 = 0)
      WHERE rk <= 500),
    truth AS (
      SELECT a.c_nationkey AS nk, a.c_custkey AS ka, b.c_custkey AS kb,
             (substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16))
               AS blocked
      FROM s a JOIN s b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1)
    SELECT nk AS nationkey,
           CAST(count(*) AS BIGINT) AS n_truth_pairs,
           CAST(count(*) FILTER (WHERE blocked) AS BIGINT)
             AS n_blocked_pairs,
           CAST(CAST(count(*) FILTER (WHERE blocked) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS DOUBLE) AS recall
    FROM truth GROUP BY nk
    """,
)
def q_blocking_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-recall evaluation: what fraction of the TRUE match
    pairs does the cheap (nation, 16-char-prefix) blocking key
    actually retain, per nation — the measurement every
    entity-resolution pipeline owes before trusting its candidate
    generator (fuzzy_name_match_blocked and
    entity_resolution_clusters both ride that key; a pair whose
    single edit falls INSIDE the prefix lands in different blocks
    and silently disappears). Ground truth here is the
    nation-blocked exact edit-distance join — affordable because
    nation blocks bound the pair space, and the evaluation runs on
    a deterministic 1-in-3 customer stratum (the standard
    measure-recall-on-a-sample trick: at 100 TB you never score
    all pairs — the stratum's recall estimates the population's
    because the blocking key is hash-independent of the sample),
    CAPPED at 500 customers per nation by salted-hash rank
    (round-5 fix: a purely proportional stratum still densifies
    quadratically when customers grow against the fixed nation
    count — measured 216 s at the 10x smoke; the absolute cap makes
    the ground-truth pair space O(nations * cap^2) FOREVER, and the
    hash-rank sample stays unbiased for the same independence
    reason; WindowGroupLimit shape, pruned during the shuffle
    read). One equi-join on the coarse key, codegen'd levenshtein
    on in-block pairs only, a per-nation rollup, one
    integer->double division for the recall."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.functions import text as T

    strat = read_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 3 == 0
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        T.portable_hash60(
            F.concat(F.lit("strat:"), F.col("c_custkey").cast("string"))
        ),
        F.col("c_custkey"),
    )
    cust = (
        strat.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 500)
        .drop("_rk")
    )
    a = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("na"),
        F.substring("c_name", 1, 16).alias("pa"),
    )
    b = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("nb"),
        F.substring("c_name", 1, 16).alias("pb"),
    )
    truth = (
        a.join(b, "nk")
        .where(F.col("ka") < F.col("kb"))
        .where(F.levenshtein(F.col("na"), F.col("nb")) <= 1)
        .select(
            "nk", (F.col("pa") == F.col("pb")).alias("blocked")
        )
    )
    return truth.groupBy(F.col("nk").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth_pairs"),
        F.sum(F.col("blocked").cast("bigint"))
        .cast("bigint")
        .alias("n_blocked_pairs"),
        (
            F.sum(F.col("blocked").cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("recall"),
    )


