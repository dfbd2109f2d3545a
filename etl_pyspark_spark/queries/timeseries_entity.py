"""Query family: timeseries_entity (mechanically split from registry.py — see core)."""

from __future__ import annotations

from etl_pyspark_spark.checkpoint import DISK_CKPT, scoped_persist

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    MAX_BASKET,
    SparkSession,
    pround,
    query,
    read_table,
    sql_pround,
)
from etl_pyspark_spark.queries.text_analysis import _WS_TOKENS_SQL
from etl_pyspark_spark.queries.graph_temporal import (
    _copurchase_edges,
    _copurchase_edges_sql,
    _kcore_oracle,
)
from etl_pyspark_spark.sources.io import literal_frame

@query(
    "timeseries_linear_interpolate",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6)))
                             AS DOUBLE) * 100) AS BIGINT) AS cents
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL
        AND value IS NOT NULL
      GROUP BY 1, 2),
    marked AS (
      SELECT event_type, day, cents,
             (dayofmonth(day) % 5 = 2) AS masked
      FROM daily),
    back AS (
      SELECT *,
             last_value(CASE WHEN NOT masked THEN cents END IGNORE NULLS)
               OVER w AS prev_cents,
             last_value(CASE WHEN NOT masked THEN day END IGNORE NULLS)
               OVER w AS prev_day
      FROM marked
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING)),
    fwd AS (
      SELECT *,
             first_value(CASE WHEN NOT masked THEN cents END IGNORE NULLS)
               OVER w2 AS next_cents,
             first_value(CASE WHEN NOT masked THEN day END IGNORE NULLS)
               OVER w2 AS next_day
      FROM back
      WINDOW w2 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, day, masked,
           CASE
             WHEN NOT masked THEN CAST(cents AS DOUBLE) / 100.0
             WHEN prev_cents IS NULL OR next_cents IS NULL THEN NULL
             ELSE CAST(prev_cents
                       * CAST(next_day - prev_day AS BIGINT)
                       + (next_cents - prev_cents)
                       * CAST(day - prev_day AS BIGINT) AS DOUBLE)
                  / (CAST(next_day - prev_day AS BIGINT) * 100.0)
           END AS value_filled
    FROM fwd
    """,
)
def q_timeseries_linear_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear interpolation of gaps in a keyed time series —
    timeseries_gapfill_locf carries the LAST value forward (a step
    function); THIS blends linearly between the bracketing known
    points, the repair sensor/finance pipelines actually want. Gaps
    are deterministic here (every day-of-month ending the 5-day
    cycle on 2 is masked) so both engines interpolate the same
    holes. The scalable shape: per key, ONE backward window carries
    (previous known value, its day) and ONE forward window carries
    (next known value, its day) — both on the same (key, day)
    partitioning, so Spark pipelines them through a single shuffle
    — and the blend is computed as an exact bigint cross-product
    (prev*len + delta*pos) with ONE double division at the end:
    interpolated values hash-match across engines, which a naive
    float lerp cannot. Boundary gaps (no bracket on one side) stay
    NULL rather than inventing data."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            * 100
        )
        .cast("bigint")
        .alias("cents")
    )
    marked = daily.withColumn(
        "masked", F.dayofmonth("day") % 5 == 2
    )
    known_c = F.when(~F.col("masked"), F.col("cents"))
    known_d = F.when(~F.col("masked"), F.col("day"))
    wb = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = marked.select(
        "event_type",
        "day",
        "cents",
        "masked",
        F.last(known_c, ignorenulls=True).over(wb).alias("prev_cents"),
        F.last(known_d, ignorenulls=True).over(wb).alias("prev_day"),
        F.first(known_c, ignorenulls=True).over(wf).alias("next_cents"),
        F.first(known_d, ignorenulls=True).over(wf).alias("next_day"),
    )
    seg_len = F.datediff(F.col("next_day"), F.col("prev_day")).cast(
        "bigint"
    )
    pos = F.datediff(F.col("day"), F.col("prev_day")).cast("bigint")
    blend = (
        F.col("prev_cents") * seg_len
        + (F.col("next_cents") - F.col("prev_cents")) * pos
    ).cast("double") / (seg_len.cast("double") * 100.0)
    return j.select(
        "event_type",
        "day",
        "masked",
        F.when(~F.col("masked"), F.col("cents").cast("double") / 100.0)
        .when(
            F.col("prev_cents").isNull()
            | F.col("next_cents").isNull(),
            F.lit(None).cast("double"),
        )
        .otherwise(blend)
        .alias("value_filled"),
    )


_HRW_SHARDS = 8


@query(
    "rendezvous_shard_assignment",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, s.s AS shard,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                 || CAST(s.s AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM documents, UNNEST(range({_HRW_SHARDS})) s(s)),
    a8 AS (SELECT doc_id, arg_max(shard, hv) AS shard8 FROM h
           GROUP BY doc_id),
    a7 AS (SELECT doc_id, arg_max(shard, hv) AS shard7 FROM h
           WHERE shard < {_HRW_SHARDS - 1} GROUP BY doc_id)
    SELECT CAST(a8.shard8 AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE a8.shard8 <> a7.shard7)
                AS BIGINT) AS n_reassigned_on_drain
    FROM a8 JOIN a7 ON a7.doc_id = a8.doc_id
    GROUP BY 1
    """,
)
def q_rendezvous_shard_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: each doc
    goes to the shard maximizing md5(doc:shard) — the consistent-
    placement scheme whose selling point is MINIMAL MOVEMENT: when
    shard 7 drains, ONLY its own residents reassign (their new
    argmax over the surviving 7 is independent of the drained
    hash), every other doc keeps its shard. The query computes both
    the 8-shard and 7-shard assignments and reports per-shard
    residency plus how many residents reassign on drain — on every
    shard except the drained one that count is provably zero, and
    the driver-checked output carries the proof (shard_assignment
    uses plain mod hashing, which reshuffles ~7/8 of ALL docs on
    the same change; THIS is the fix). Mechanics: explode the
    candidate shard list (a constant-width fan-out, not a join),
    per-doc argmax via max_by, one keyed shuffle on doc_id shared
    by both assignments; md5 arithmetic is the engine's established
    bit-exact cross-engine hash."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    h = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(_HRW_SHARDS - 1))
        ).alias("shard"),
    ).withColumn(
        "hv",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("shard").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    a8 = h.groupBy("doc_id").agg(
        F.max_by("shard", "hv").alias("shard8")
    )
    a7 = (
        h.where(F.col("shard") < _HRW_SHARDS - 1)
        .groupBy("doc_id")
        .agg(F.max_by("shard", "hv").alias("shard7"))
    )
    return (
        a8.join(a7, "doc_id")
        .groupBy(F.col("shard8").cast("bigint").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                (F.col("shard8") != F.col("shard7")).cast("bigint")
            )
            .cast("bigint")
            .alias("n_reassigned_on_drain"),
        )
    )


@query(
    "survival_hazard_table",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS horizon
                FROM orders),
    obs AS (
      SELECT o_custkey,
             lead(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS nxt,
             CAST(o_orderdate AS DATE) AS cur,
             horizon
      FROM orders, mx),
    g AS (
      SELECT CAST(CAST(COALESCE(nxt, horizon) - cur AS BIGINT) // 30
                  AS BIGINT) AS bucket,
             (nxt IS NOT NULL) AS is_event
      FROM obs),
    cnt AS (
      SELECT bucket,
             CAST(count(*) FILTER (WHERE is_event) AS BIGINT)
               AS n_events,
             CAST(count(*) FILTER (WHERE NOT is_event) AS BIGINT)
               AS n_censored,
             CAST(count(*) AS BIGINT) AS n_total
      FROM g GROUP BY 1),
    risk AS (
      SELECT bucket, n_events, n_censored,
             CAST(sum(n_total) OVER (ORDER BY bucket DESC
                                     ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS n_at_risk
      FROM cnt)
    SELECT bucket, n_at_risk, n_events, n_censored,
           CAST(CAST(n_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
                AS DOUBLE) AS hazard
    FROM risk
    """,
)
def q_survival_hazard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete survival/hazard table for time-to-next-order WITH
    censoring — the piece naive churn math gets wrong: a customer's
    last order hasn't 'survived forever', it's censored at the
    fixture horizon, and dropping censored spells biases hazards
    up. Spells come from one lead() per customer (event = next
    order exists, censored = horizon cut); 30-day buckets roll up
    to a table bounded by the date span, so the at-risk reverse
    cumulative (everyone whose spell reached the bucket) is a
    window over a ~80-row aggregate — bounded by construction, the
    legitimate unpartitioned-frame case (same argument as
    score_decile_lift). hazard = events/at_risk is one
    integer->double division; the Kaplan-Meier survival CURVE is a
    cumulative product of (1 - hazard) downstream — deliberately
    left to the consumer because cross-engine float products don't
    hash-match; the table IS the exact, mergeable artifact."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("horizon"))
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    obs = o.crossJoin(F.broadcast(mx)).select(
        F.lead(F.to_date("o_orderdate")).over(w).alias("nxt"),
        F.to_date("o_orderdate").alias("cur"),
        "horizon",
    )
    g = obs.select(
        F.expr(
            "CAST(datediff(COALESCE(nxt, horizon), cur) DIV 30"
            " AS BIGINT)"
        ).alias("bucket"),
        F.col("nxt").isNotNull().alias("is_event"),
    )
    cnt = g.groupBy("bucket").agg(
        F.sum(F.col("is_event").cast("bigint"))
        .cast("bigint")
        .alias("n_events"),
        F.sum((~F.col("is_event")).cast("bigint"))
        .cast("bigint")
        .alias("n_censored"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    wr = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = cnt.select(
        "bucket",
        "n_events",
        "n_censored",
        F.sum("n_total").over(wr).cast("bigint").alias("n_at_risk"),
    )
    return risk.select(
        "bucket",
        "n_at_risk",
        "n_events",
        "n_censored",
        (
            F.col("n_events").cast("double")
            / F.col("n_at_risk").cast("double")
        ).alias("hazard"),
    )


def _negative_sampling_oracle() -> str:
    from etl_pyspark_spark.dedup.minhash import (
        sql_minhash_pairs,
        sql_shingles_cte,
    )

    return (
        "WITH "
        + sql_shingles_cte()
        + ", "
        + sql_minhash_pairs(final_name="pairs")
        + """,
    idx AS (SELECT doc_id,
                   row_number() OVER (ORDER BY doc_id) AS rk
            FROM documents),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    negcand AS (
      SELECT p.doc_id_a, p.doc_id_b, i.i,
             ('0x' || substr(md5(CAST(p.doc_id_a AS VARCHAR) || ':'
                                 || CAST(p.doc_id_b AS VARCHAR) || ':'
                                 || CAST(i.i AS VARCHAR)),
                             1, 15))::BIGINT % n + 1 AS rk
      FROM pairs p, nt, UNNEST(range(1, 3)) i(i))
    SELECT c.doc_id_a AS anchor_doc_id,
           c.doc_id_b AS positive_doc_id,
           CAST(c.i AS BIGINT) AS sample_i,
           x.doc_id AS negative_doc_id
    FROM negcand c JOIN idx x ON x.rk = c.rk
    WHERE x.doc_id <> c.doc_id_a AND x.doc_id <> c.doc_id_b
    """
    )


@query("negative_sampling_pairs", oracle=_negative_sampling_oracle())
def q_negative_sampling_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic negative sampling for contrastive training:
    every verified near-dup pair (anchor, positive) — the shared
    dedup stage doubling as a positive-pair miner — gets k=2
    corpus negatives chosen by hashing (anchor, positive, i) into a
    dense row-number index over the corpus (RNG-free, so the
    training set is bit-reproducible run over run and across
    engines; hash-mod sampling is uniform over the index).
    Accidental hits on the anchor or positive are filtered — the
    standard in-batch-negative correction — which is why sampling
    hashes into an INDEX rather than assuming contiguous ids: the
    same plan survives sparse or reassigned doc ids. Cost: a
    constant k-way fan-out of the (tiny) pair table, one broadcast
    1-row count, one keyed join against the index — the corpus
    itself is scanned only to build the index."""
    from etl_pyspark_spark.dedup.shared import verified_pairs
    from etl_pyspark_spark.operators.ranks import with_global_rank

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    idx = with_global_rank(docs, ["doc_id"], rank_col="rk")
    nt = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pairs = verified_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b"
    )
    cand = (
        pairs.select(
            "doc_id_a",
            "doc_id_b",
            F.explode(F.sequence(F.lit(1), F.lit(2))).alias("i"),
        )
        .crossJoin(F.broadcast(nt))
        .select(
            "doc_id_a",
            "doc_id_b",
            "i",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("doc_id_a").cast("string"),
                                F.col("doc_id_b").cast("string"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n")
                + 1
            ).alias("rk"),
        )
    )
    neg = idx.select(
        F.col("rk"), F.col("doc_id").alias("negative_doc_id")
    )
    return (
        cand.join(neg, "rk")
        .where(
            (F.col("negative_doc_id") != F.col("doc_id_a"))
            & (F.col("negative_doc_id") != F.col("doc_id_b"))
        )
        .select(
            F.col("doc_id_a").alias("anchor_doc_id"),
            F.col("doc_id_b").alias("positive_doc_id"),
            F.col("i").cast("bigint").alias("sample_i"),
            "negative_doc_id",
        )
    )


@query(
    "item_item_cosine",
    oracle="""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_orderkey % 10 = 0),
    co AS (
      SELECT a.l_partkey AS i, b.l_partkey AS j,
             CAST(count(*) AS BIGINT) AS c_ij
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    deg AS (SELECT l_partkey AS node, CAST(count(*) AS BIGINT) AS c
            FROM lp GROUP BY 1)
    SELECT co.i, co.j, co.c_ij,
           CAST(CAST(co.c_ij AS DOUBLE)
                / sqrt(CAST(di.c * dj.c AS DOUBLE)) AS DOUBLE)
             AS cosine
    FROM co
    JOIN deg di ON di.node = co.i
    JOIN deg dj ON dj.node = co.j
    WHERE co.c_ij >= 2
    """,
)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity over the basket
    graph: cosine of binary co-purchase vectors reduces to
    c_ij / sqrt(c_i * c_j) — co-occurrence over the geometric mean
    of popularities, the normalization that stops bestsellers from
    dominating every neighbor list (token_collocation_lift
    normalizes by expectation for TEXT pairs; this is the recsys
    twin on baskets, and the c_ij >= 2 support floor is the
    standard noise cut). Counts are one distinct self-join within
    the order (the same sharded basket expansion the graph queries
    use) plus a tiny degree table joined back twice; the only
    floating math is one sqrt and one division over exact bigints —
    both correctly rounded identically in either engine, which is
    what makes a similarity score hash-matchable at all. At 100 TB
    the co-occurrence table is the heavy keyed shuffle and the
    degree joins broadcast; baskets carry the shared MAX_BASKET
    hash-rank cap (operators/baskets — degrees too, so numerator and
    denominator describe the same truncated baskets; cap-free on the
    fixture)."""
    from etl_pyspark_spark.operators.baskets import capped_baskets

    # ONE basket aggregate feeds both the co-occurrence pairs and the
    # degree table via in-row explodes (identical outputs to the old
    # distinct + hash-rank window + self-join chain — see
    # operators/baskets.capped_basket_pairs); checkpointed because
    # both derivations fan out of it
    baskets = capped_baskets(
        read_table(spark, sf_dir, "lineitem").where(
            F.col("l_orderkey") % 10 == 0
        ),
        "l_orderkey",
        "l_partkey",
        out="ps",
    ).localCheckpoint(storageLevel=DISK_CKPT)
    co = (
        baskets.select(F.explode("ps").alias("i"), "ps")
        .select("i", F.explode("ps").alias("j"))
        .where(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ij"))
        .where(F.col("c_ij") >= 2)
    )
    deg = baskets.select(F.explode("ps").alias("node")).groupBy(
        "node"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    di = deg.select(F.col("node").alias("i"), F.col("c").alias("ci"))
    dj = deg.select(F.col("node").alias("j"), F.col("c").alias("cj"))
    return (
        co.join(di, "i")
        .join(dj, "j")
        .select(
            "i",
            "j",
            "c_ij",
            (
                F.col("c_ij").cast("double")
                / F.sqrt((F.col("ci") * F.col("cj")).cast("double"))
            ).alias("cosine"),
        )
    )


def _autocorr_oracle() -> str:
    from etl_pyspark_spark.functions.compat import sql_pround

    r_expr = sql_pround(
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))",
        9,
    )
    return f"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                             AS DOUBLE) * 100) AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    lagged AS (
      SELECT lg.lag AS lag, a.cents AS x, b.cents AS y
      FROM UNNEST(range(1, 8)) lg(lag)
      JOIN d a ON true
      JOIN d b ON b.day = a.day + CAST(lg.lag AS INTEGER)),
    g AS (
      SELECT lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
               AS sxy,
             sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
               AS sxx,
             sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
               AS syy
      FROM lagged GROUP BY 1)
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           {r_expr} AS acf
    FROM g
    """


@query("revenue_autocorrelation", oracle=_autocorr_oracle())
def q_revenue_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1-7 — the
    seasonality fingerprint (a weekly cycle shows as a lag-7 peak)
    every forecasting pipeline inspects before choosing model
    features (daily_event_correlation correlates two DIFFERENT
    series; this correlates the series with its own shifted self).
    Same exactness discipline: daily revenue quantizes to bigint
    cents, each lag's five sufficient statistics accumulate as
    exact DECIMAL(38,0) integers over the lag-joined day pairs, and
    the textbook Pearson expression runs once per lag row
    (correctly-rounded IEEE ops + sqrt, pround(9)). The lag
    fan-out is a constant 7-way explode of the TINY day table —
    bounded by the calendar, not the fact table, which is scanned
    exactly once for the daily rollup."""
    o = read_table(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            * 100
        )
        .cast("bigint")
        .alias("cents")
    )
    a = d.select(
        "day",
        F.col("cents").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
    ).withColumn("day_b", F.date_add(F.col("day"), F.col("lag")))
    b = d.select(
        F.col("day").alias("day_b"), F.col("cents").alias("y")
    )
    lagged = a.join(b, "day_b")
    g = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(
            F.col("x").cast("decimal(19,0)")
            * F.col("y").cast("decimal(19,0)")
        ).alias("sxy"),
        F.sum(
            F.col("x").cast("decimal(19,0)")
            * F.col("x").cast("decimal(19,0)")
        ).alias("sxx"),
        F.sum(
            F.col("y").cast("decimal(19,0)")
            * F.col("y").cast("decimal(19,0)")
        ).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    acf = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return g.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_pairs"),
        pround(acf, 9).alias("acf"),
    )


def _jackknife_oracle() -> str:
    from etl_pyspark_spark.functions.compat import sql_pround

    loo = sql_pround(
        "CAST(tot_cents - cents AS DOUBLE)"
        " / CAST(tot_n - n AS DOUBLE) / 100.0",
        12,
    )
    return f"""
    WITH f AS (
      SELECT o_orderkey % 10 AS fold,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    per AS (
      SELECT fold, CAST(sum(cents) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM f GROUP BY 1),
    tot AS (
      SELECT CAST(sum(cents) AS BIGINT) AS tot_cents,
             CAST(sum(n) AS BIGINT) AS tot_n,
             CAST(count(*) AS BIGINT) AS k
      FROM per),
    loo AS (
      SELECT k, tot_cents, tot_n,
             CAST({loo} AS DECIMAL(38,12)) AS r_i
      FROM per, tot),
    g AS (
      SELECT k, tot_cents, tot_n,
             sum(r_i) AS sr,
             sum(r_i * r_i) AS srr
      FROM loo GROUP BY 1, 2, 3)
    SELECT k,
           CAST(CAST(tot_cents AS DOUBLE)
                / CAST(tot_n AS DOUBLE) / 100.0 AS DOUBLE)
             AS ratio_full,
           {sql_pround(
               "sqrt((CAST(k AS DOUBLE) - 1.0) / CAST(k AS DOUBLE)"
               " * (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)"
               "    * CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)))", 9
           )} AS jackknife_se
    FROM g
    """


@query("jackknife_ratio_variance", oracle=_jackknife_oracle())
def q_jackknife_ratio_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jackknife standard error for a RATIO metric (average order
    value = total revenue / order count) — the error bar every KPI
    dashboard needs but naive per-row variance gets wrong, because
    a ratio of sums is not a mean of rows. Delete-one-fold
    estimates over k=10 deterministic hash folds: each
    leave-one-out ratio is a single correctly-rounded double
    division of exact integer sums, pround(12)-quantized and summed
    as decimals (EXACT — a raw double sum over folds would be
    merge-order-dependent), then the jackknife formula
    sqrt((k-1)/k * Σ(r_i - r̄)²) runs once on the 1-row result.
    Scale shape: one fact-table pass for the per-fold sufficient
    statistics; everything after is a 10-row table."""
    o = read_table(spark, sf_dir, "orders")
    per = o.select(
        (F.col("o_orderkey") % 10).alias("fold"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    ).groupBy("fold").agg(
        F.sum("cents").cast("bigint").alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    tot = per.agg(
        F.sum("cents").cast("bigint").alias("tot_cents"),
        F.sum("n").cast("bigint").alias("tot_n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        "k",
        "tot_cents",
        "tot_n",
        pround(
            (F.col("tot_cents") - F.col("cents")).cast("double")
            / (F.col("tot_n") - F.col("n")).cast("double")
            / 100.0,
            12,
        )
        .cast("decimal(38,12)")
        .alias("r_i"),
    )
    g = loo.groupBy("k", "tot_cents", "tot_n").agg(
        F.sum("r_i").alias("sr"),
        F.sum(F.col("r_i") * F.col("r_i")).alias("srr"),
    )
    kd = F.col("k").cast("double")
    sr = F.col("sr").cast("double")
    srr = F.col("srr").cast("double")
    return g.select(
        "k",
        (
            F.col("tot_cents").cast("double")
            / F.col("tot_n").cast("double")
            / 100.0
        ).alias("ratio_full"),
        pround(
            F.sqrt((kd - 1.0) / kd * (srr - sr * sr / kd)), 9
        ).alias("jackknife_se"),
    )


_ISO_BINS = 20


@query(
    "isotonic_calibration",
    oracle=f"""
    WITH s AS (
      SELECT CAST(least(floor((value - mn) * {_ISO_BINS}
                              / (mx - mn + 1e-9)),
                        {_ISO_BINS - 1}) AS BIGINT) AS bin,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN 1 ELSE 0 END AS label
      FROM events,
           (SELECT min(value) AS mn, max(value) AS mx
            FROM events WHERE value IS NOT NULL)
      WHERE value IS NOT NULL),
    b AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM s GROUP BY 1),
    c AS (
      SELECT bin, n, pos,
             CAST(sum(n) OVER w AS BIGINT) AS cn,
             CAST(sum(pos) OVER w AS BIGINT) AS cp
      FROM b WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
    m AS (
      SELECT j.bin AS j, k.bin AS k,
             CAST(k.cp - j.cp + j.pos AS DOUBLE)
               / CAST(k.cn - j.cn + j.n AS DOUBLE) AS mean_jk
      FROM c j JOIN c k ON j.bin <= k.bin),
    inner_min AS (
      SELECT i.bin AS bin, m.j,
             min(m.mean_jk) AS min_k
      FROM c i JOIN m ON m.j <= i.bin AND m.k >= i.bin
      GROUP BY 1, 2),
    iso AS (
      SELECT bin, max(min_k) AS isotonic_rate
      FROM inner_min GROUP BY 1)
    SELECT c.bin, c.n, c.pos,
           CAST(c.pos AS DOUBLE) / CAST(c.n AS DOUBLE) AS raw_rate,
           iso.isotonic_rate
    FROM c JOIN iso ON iso.bin = c.bin
    """,
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) calibration of the score->label mapping —
    score_calibration_bins reports the raw per-bin rates; THIS fits
    the monotone rate curve a probability consumer actually wants,
    via the minimax closed form fitted_i = max_{{j<=i}} min_{{k>=i}}
    mean(pos_j..pos_k), which equals pool-adjacent-violators
    without any sequential pooling loop. The heavy lifting stays
    one fact pass (binning + per-bin counts); the minimax runs on
    the CONSTANT 20-row bin table (<= 20^3 combinations — bounded
    by construction, never by data), as three joins over the
    cumulative-count table. Each candidate mean is one
    correctly-rounded division of exact integer sums, and min/max
    over identically-computed doubles is engine-stable, so the
    fitted curve hash-matches. Monotonicity and PAVA-equality are
    property-tested against a sequential Python reference."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    rng = ev.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    s = ev.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("mn"))
                * _ISO_BINS
                / (F.col("mx") - F.col("mn") + 1e-9)
            ),
            F.lit(_ISO_BINS - 1),
        )
        .cast("bigint")
        .alias("bin"),
        F.col("event_type")
        .isin("purchase", "signup")
        .cast("int")
        .alias("label"),
    )
    b = s.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = b.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("pos").over(w).cast("bigint").alias("cp"),
    ).localCheckpoint(storageLevel=DISK_CKPT)
    j = c.select(
        F.col("bin").alias("j"),
        F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
        F.col("n").alias("jn"),
        F.col("pos").alias("jpos"),
    )
    k = c.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    m = (
        j.join(k, F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            (
                (F.col("kcp") - F.col("jcp") + F.col("jpos")).cast(
                    "double"
                )
                / (F.col("kcn") - F.col("jcn") + F.col("jn")).cast(
                    "double"
                )
            ).alias("mean_jk"),
        )
    )
    i = c.select(F.col("bin").alias("i"))
    inner_min = (
        i.join(m, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("mean_jk").alias("min_k"))
    )
    iso = inner_min.groupBy("i").agg(
        F.max("min_k").alias("isotonic_rate")
    )
    return (
        c.join(iso, c["bin"] == iso["i"])
        .select(
            "bin",
            "n",
            "pos",
            (F.col("pos").cast("double") / F.col("n").cast("double"))
            .alias("raw_rate"),
            "isotonic_rate",
        )
    )


@query(
    "theil_sen_slope",
    oracle="""
    WITH d AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
               AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
    sl AS (
      SELECT a.x AS xa, b.x AS xb,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
               AS slope
      FROM d a JOIN d b ON a.x < b.x),
    r AS (
      SELECT slope,
             row_number() OVER (ORDER BY slope, xa, xb) AS rn,
             count(*) OVER () AS cnt
      FROM sl)
    SELECT CAST(cnt AS BIGINT) AS n_pairs,
           min(slope) FILTER (WHERE rn = (cnt + 1) // 2)
             AS theil_sen_slope
    FROM r GROUP BY cnt
    """,
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the daily event-count series: the
    MEDIAN of all pairwise slopes — immune to the outlier days that
    wreck a least-squares fit (regression_by_group is the OLS twin;
    this is what you reach for when the series has spikes). Every
    pairwise slope is one correctly-rounded division of exact
    integer (day, count) deltas, the median is the engine's
    DISCRETE median discipline (lower middle by (slope, pair)
    total order — interpolated medians average two doubles and
    drift cross-engine), and the pair fan-out is over the
    calendar-bounded day table (n days -> n(n-1)/2 slopes; at 100
    TB you aggregate to days FIRST — one fact pass — precisely
    because the pair space of raw rows would be quadratic in the
    wrong variable). Day index is integer days since a fixed
    epoch, so x-deltas are exact."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    d = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("x")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    a = d.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    sl = (
        a.join(b, F.col("xa") < F.col("xb"))
        .select(
            "xa",
            "xb",
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope"),
        )
    )
    w = Window.orderBy("slope", "xa", "xb")
    r = sl.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("cnt"),
    )
    return (
        r.where(F.col("rn") == F.expr("(cnt + 1) DIV 2"))
        .groupBy(F.col("cnt").cast("bigint").alias("n_pairs"))
        .agg(F.min("slope").alias("theil_sen_slope"))
    )


@query(
    "weekday_seasonality",
    oracle="""
    WITH d AS (
      -- DuckDB dayofweek is 0=Sunday..6; Spark's is 1=Sunday..7
      SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dow,
             count(*) AS n
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n_dows
          FROM d GROUP BY 1)
    SELECT d.event_type, CAST(d.dow AS BIGINT) AS dow,
           CAST(d.n AS BIGINT) AS n_events,
           CAST(CAST(d.n * t.n_dows AS DOUBLE) / CAST(t.tot AS DOUBLE)
                AS DOUBLE) AS seasonality_index
    FROM d JOIN t ON t.event_type = d.event_type
    """,
)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per event type: observed count
    over the uniform expectation (n * n_dows / total — 1.0 = flat,
    2.0 = twice the flat-week rate), the profile that picks
    staffing windows and seeds seasonal-naive forecasts
    (revenue_autocorrelation DETECTS the weekly cycle; this SHAPES
    it). Exactness: the index is one integer product divided once
    into double — no per-day rate divisions to accumulate — and
    the DuckDB twin uses the same dayofweek numbering. Two
    aggregations, the second over the tiny (type, dow) rollup."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    d = ev.groupBy(
        "event_type",
        F.dayofweek(F.to_date("ts")).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    t = d.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_dows"),
    )
    return d.join(t, "event_type").select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        F.col("n").cast("bigint").alias("n_events"),
        (
            (F.col("n") * F.col("n_dows")).cast("double")
            / F.col("tot").cast("double")
        ).alias("seasonality_index"),
    )


@query(
    "spearman_rank_correlation",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS x,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
    rx AS (
      SELECT day, x, y,
             CAST(2 * rank() OVER (ORDER BY x)
                  + count(*) OVER (PARTITION BY x) - 1 AS BIGINT)
               AS rx2,
             CAST(2 * rank() OVER (ORDER BY y)
                  + count(*) OVER (PARTITION BY y) - 1 AS BIGINT)
               AS ry2
      FROM d),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx2) AS BIGINT) AS sx,
             CAST(sum(ry2) AS BIGINT) AS sy,
             sum(CAST(rx2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0)))
               AS sxy,
             sum(CAST(rx2 AS DECIMAL(19,0)) * CAST(rx2 AS DECIMAL(19,0)))
               AS sxx,
             sum(CAST(ry2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0)))
               AS syy
      FROM rx)
    SELECT n AS n_days,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS spearman_rho
    FROM g
    """,
)
def q_spearman_rank_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between the daily click and view
    series — the robust twin of daily_event_correlation's Pearson
    (monotone-but-nonlinear co-movement still scores 1, a single
    outlier day can't dominate). Exactness trick: tie-averaged
    midranks are half-integers, so DOUBLED midranks (2*rank(min) +
    tie_count - 1) are pure bigints; Pearson is shift/scale
    invariant, so rho on doubled ranks equals rho on midranks, and
    the five sufficient statistics accumulate as exact decimals
    just like the Pearson query. Rank windows run over the
    calendar-bounded day table. The final expression is
    correctly-rounded IEEE ops + sqrt, identical both engines."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            (F.col("event_type") == "click").cast("long")
        ).alias("x"),
        F.sum(
            (F.col("event_type") == "view").cast("long")
        ).alias("y"),
    )
    rx2 = (
        2 * F.rank().over(Window.orderBy("x"))
        + F.count(F.lit(1)).over(Window.partitionBy("x"))
        - 1
    ).cast("bigint")
    ry2 = (
        2 * F.rank().over(Window.orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("y"))
        - 1
    ).cast("bigint")
    rx = d.select(rx2.alias("rx2"), ry2.alias("ry2"))
    g = rx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx"),
        F.sum("ry2").cast("bigint").alias("sy"),
        F.sum(
            F.col("rx2").cast("decimal(19,0)")
            * F.col("ry2").cast("decimal(19,0)")
        ).alias("sxy"),
        F.sum(
            F.col("rx2").cast("decimal(19,0)")
            * F.col("rx2").cast("decimal(19,0)")
        ).alias("sxx"),
        F.sum(
            F.col("ry2").cast("decimal(19,0)")
            * F.col("ry2").cast("decimal(19,0)")
        ).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    return g.select(
        F.col("n").alias("n_days"),
        (
            (n * sxy - sx * sy)
            / (
                F.sqrt(n * sxx - sx * sx)
                * F.sqrt(n * syy - sy * sy)
            )
        ).alias("spearman_rho"),
    )


@query(
    "kendall_tau",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS x,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
    pairs AS (
      SELECT CAST(count(*) FILTER (
               WHERE (a.x - b.x) * (a.y - b.y) > 0) AS BIGINT) AS c,
             CAST(count(*) FILTER (
               WHERE (a.x - b.x) * (a.y - b.y) < 0) AS BIGINT) AS dd
      FROM d a JOIN d b ON a.day < b.day),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    tx AS (SELECT CAST(COALESCE(sum(t * (t - 1) / 2), 0) AS BIGINT)
                  AS n1
           FROM (SELECT count(*) AS t FROM d GROUP BY x)),
    ty AS (SELECT CAST(COALESCE(sum(t * (t - 1) / 2), 0) AS BIGINT)
                  AS n2
           FROM (SELECT count(*) AS t FROM d GROUP BY y))
    SELECT nn.n AS n_days, p.c AS n_concordant, p.dd AS n_discordant,
           CAST(CAST(p.c - p.dd AS DOUBLE)
                / sqrt(CAST((nn.n * (nn.n - 1) / 2 - tx.n1)
                            * (nn.n * (nn.n - 1) / 2 - ty.n2)
                            AS DOUBLE)) AS DOUBLE) AS kendall_tau_b
    FROM pairs p, nn, tx, ty
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between the daily click and view series — the
    third face of the correlation family (Pearson: linear;
    Spearman: monotone via ranks; Kendall: pairwise concordance,
    the most outlier-proof and the one with a direct probabilistic
    reading — P(concordant) - P(discordant)). Everything is integer
    counting: concordant/discordant over the calendar-bounded day
    pair table, tie corrections from per-value group sizes, and
    tau-b's single sqrt+division at the end over exact bigints —
    correctly rounded identically in both engines. At 100 TB the
    day rollup is the one fact pass; the pair space is quadratic in
    DAYS, not rows (the same bound theil_sen_slope leans on)."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "view").cast("long")).alias("y"),
    ).localCheckpoint(storageLevel=DISK_CKPT)
    a = d.select(
        F.col("day").alias("da"), F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = d.select(
        F.col("day").alias("db"), F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    prod = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    pairs = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum((prod > 0).cast("bigint")).cast("bigint").alias("c"),
            F.sum((prod < 0).cast("bigint")).cast("bigint").alias("dd"),
        )
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tx = (
        d.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) DIV 2")), F.lit(0)
            )
            .cast("bigint")
            .alias("n1")
        )
    )
    ty = (
        d.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) DIV 2")), F.lit(0)
            )
            .cast("bigint")
            .alias("n2")
        )
    )
    g = (
        pairs.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n0 = F.expr("n * (n - 1) DIV 2")
    return g.select(
        F.col("n").alias("n_days"),
        F.col("c").alias("n_concordant"),
        F.col("dd").alias("n_discordant"),
        (
            (F.col("c") - F.col("dd")).cast("double")
            / F.sqrt(
                ((n0 - F.col("n1")) * (n0 - F.col("n2"))).cast(
                    "double"
                )
            )
        ).alias("kendall_tau_b"),
    )


@query(
    "mann_whitney_u",
    oracle=f"""
    WITH d AS (SELECT value,
                      sum(CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END) AS ca,
                      sum(CASE WHEN event_type = 'view'
                               THEN 1 ELSE 0 END) AS cb,
                      sum(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END) AS cnt
               FROM events WHERE value IS NOT NULL
               GROUP BY value HAVING cnt > 0),
    c AS (SELECT value, ca, cnt,
                 CAST(sum(cnt) OVER (ORDER BY value
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum
          FROM d),
    r AS (SELECT CAST(sum(ca * (2 * (cum - cnt) + cnt + 1)) AS BIGINT)
                   AS r2
          FROM c),
    t AS (SELECT CAST(sum(ca) AS BIGINT) AS n1,
                 CAST(sum(cb) AS BIGINT) AS n2,
                 CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
          FROM d),
    u AS (SELECT n1, n2, ties, r2, n1 + n2 AS n,
                 r2 - n1 * (n1 + 1) AS u2
          FROM r, t)
    SELECT n1 AS n_click, n2 AS n_view, u2 AS u2_click,
           {sql_pround(
        "CAST(u2 - n1 * n2 AS DOUBLE) / (2 * sqrt("
        "CAST(CAST(n1 AS DECIMAL(38,0)) * n2 "
        "* ((n + 1) * CAST(n AS DECIMAL(38,0)) * (n - 1) - ties) "
        "AS DOUBLE) / CAST(12 * CAST(n AS DECIMAL(38,0)) * (n - 1) "
        "AS DOUBLE)))", 9
    )} AS z_score
    FROM u
    """,
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U rank-sum test (click vs view values) —
    the nonparametric location test beside the family's KS
    (max CDF gap) and chi-square (categorical drift). Everything is
    integer: average ranks with ties are kept doubled
    (2*avg_rank = 2*cnt_less + cnt_eq + 1, never a .5), so the
    doubled rank sum 2*R1 and doubled statistic 2*U1 are exact
    bigints; the tie-corrected normal z does one decimal->double
    cast per operand and a single sqrt+division at the end
    (correctly rounded identically in both engines). Scale shape:
    identical to ks_two_sample — reduce to the DISTINCT value axis
    first, then ONE range-exchange cumulative pass
    (with_global_cumsum_multi, never SinglePartition); the test
    statistic is a 1-row fold. No reference counterpart
    (SURVEY §2.9 statistics family)."""
    from etl_pyspark_spark.operators.ranks import (
        with_global_cumsum_multi,
    )

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    d = (
        ev.groupBy("value")
        .agg(
            F.sum(
                (F.col("event_type") == "click").cast("int")
            ).alias("ca"),
            F.sum(
                (F.col("event_type") == "view").cast("int")
            ).alias("cb"),
            F.sum(
                F.col("event_type").isin("click", "view").cast("int")
            ).alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
        .transform(scoped_persist)
    )
    c = with_global_cumsum_multi(d, ["value"], ["cnt"])
    r2 = F.broadcast(
        c.agg(
            F.sum(
                F.col("ca")
                * (
                    2 * (F.col("cum_cnt") - F.col("cnt"))
                    + F.col("cnt")
                    + 1
                )
            )
            .cast("bigint")
            .alias("r2")
        )
    )
    t = F.broadcast(
        d.agg(
            F.sum("ca").cast("bigint").alias("n1"),
            F.sum("cb").cast("bigint").alias("n2"),
            F.sum(
                F.col("cnt") * F.col("cnt") * F.col("cnt")
                - F.col("cnt")
            )
            .cast("bigint")
            .alias("ties"),
        )
    )
    u = r2.crossJoin(t).select(
        "n1",
        "n2",
        "ties",
        (F.col("n1") + F.col("n2")).alias("n"),
        (F.col("r2") - F.col("n1") * (F.col("n1") + 1)).alias("u2"),
    )
    var_num = (
        F.col("n1").cast("decimal(38,0)")
        * F.col("n2")
        * (
            (F.col("n") + 1)
            * F.col("n").cast("decimal(38,0)")
            * (F.col("n") - 1)
            - F.col("ties")
        )
    ).cast("double")
    var_den = (
        F.lit(12) * F.col("n").cast("decimal(38,0)") * (F.col("n") - 1)
    ).cast("double")
    return u.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_view"),
        F.col("u2").alias("u2_click"),
        pround(
            (F.col("u2") - F.col("n1") * F.col("n2")).cast("double")
            / (F.lit(2) * F.sqrt(var_num / var_den)),
            9,
        ).alias("z_score"),
    )


# Benford expected first-digit shares log10(1 + 1/d), pre-rounded to
# 6 decimals so both engines parse the SAME literal (libm log10 is not
# correctly rounded, so neither side may compute it at runtime).
_BENFORD_P = [
    (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
    (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
    (9, 0.045757),
]


@query(
    "benford_first_digit",
    oracle=f"""
    WITH obs AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                         AS VARCHAR), 1, 1) AS INT)
                          AS first_digit,
                        count(*) AS n_obs
                 FROM orders GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders),
    b(first_digit, p) AS (VALUES {", ".join(
        f"({d}, {p})" for d, p in _BENFORD_P
    )})
    SELECT b.first_digit,
           CAST(COALESCE(obs.n_obs, 0) AS BIGINT) AS n_obs,
           {sql_pround("CAST(n.n_total AS DOUBLE) * b.p", 6)}
             AS expected_n,
           {sql_pround(
        "(CAST(COALESCE(obs.n_obs, 0) AS DOUBLE)"
        " - CAST(n.n_total AS DOUBLE) * b.p)"
        " * (CAST(COALESCE(obs.n_obs, 0) AS DOUBLE)"
        " - CAST(n.n_total AS DOUBLE) * b.p)"
        " / (CAST(n.n_total AS DOUBLE) * b.p)", 6
    )} AS chi_term
    FROM b LEFT JOIN obs USING (first_digit), n
    """,
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    fraud/data-quality screen for any monetary fact column. The
    expected shares are 6-decimal literals baked into BOTH engines
    (libm log10 differs across engines; a shared literal cannot);
    per-digit chi-square terms are pure-double expression trees with
    identical op order, returned per digit so no cross-row double
    sum exists. Scale shape: one map-side-combinable 9-group count
    over the fact scan plus a broadcast of the 9-row expectation dim
    — nothing else. No reference counterpart (SURVEY §2.9)."""
    o = read_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    n = F.broadcast(
        o.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    )
    b = F.broadcast(
        literal_frame(spark, _BENFORD_P, "first_digit int, p double")
    )
    exp = F.col("n_total").cast("double") * F.col("p")
    dev = F.coalesce(F.col("n_obs"), F.lit(0)).cast("double") - exp
    return (
        b.join(obs, "first_digit", "left")
        .crossJoin(n)
        .select(
            "first_digit",
            F.coalesce(F.col("n_obs"), F.lit(0))
            .cast("bigint")
            .alias("n_obs"),
            pround(exp, 6).alias("expected_n"),
            pround(dev * dev / exp, 6).alias("chi_term"),
        )
    )


@query(
    "ab_test_proportions",
    oracle=f"""
    WITH per_user AS (SELECT user_id % 2 AS variant,
                             max(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) AS converted
                      FROM events GROUP BY user_id),
    v AS (SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN variant = 0 THEN converted
                               ELSE 0 END) AS BIGINT) AS conv_a,
                 CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN variant = 1 THEN converted
                               ELSE 0 END) AS BIGINT) AS conv_b
          FROM per_user)
    SELECT n_a, conv_a, n_b, conv_b,
           {sql_pround(
        "(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
        " - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
        " / sqrt(CAST(conv_a + conv_b AS DOUBLE)"
        "        / CAST(n_a + n_b AS DOUBLE)"
        "   * (1 - CAST(conv_a + conv_b AS DOUBLE)"
        "          / CAST(n_a + n_b AS DOUBLE))"
        "   * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE)))", 9
    )} AS z_score
    FROM v
    """,
)
def q_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a deterministic user split (parity of
    user_id as the A/B assignment, purchase as conversion) — the
    experiment-analysis primitive next to the eval family's AUC and
    lift. Counts are the only aggregation (exact bigints per user
    then per variant); the pooled z is one fixed-order double tree
    over four bigints, with pround pinning the printed value. Scale
    shape: per-user reduce (map-side combinable) then a 2-group
    fold; nothing keyed finer than user ever shuffles. No reference
    counterpart (SURVEY §2.9)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted")
    )
    v = per_user.select(
        (F.col("user_id") % 2).alias("variant"), "converted"
    ).agg(
        F.sum((F.col("variant") == 0).cast("int"))
        .cast("bigint")
        .alias("n_a"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)
        )
        .cast("bigint")
        .alias("conv_a"),
        F.sum((F.col("variant") == 1).cast("int"))
        .cast("bigint")
        .alias("n_b"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)
        )
        .cast("bigint")
        .alias("conv_b"),
    )
    pa = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pp
        * (F.lit(1) - pp)
        * (
            F.lit(1) / F.col("n_a").cast("double")
            + F.lit(1) / F.col("n_b").cast("double")
        )
    )
    return v.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        pround((pa - pb) / se, 9).alias("z_score"),
    )


@query(
    "hhi_concentration",
    oracle="""
    WITH rev AS (SELECT s.s_nationkey, l.l_suppkey,
                        sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(18,6))) AS sup_rev
                 FROM lineitem l JOIN supplier s
                   ON l.l_suppkey = s.s_suppkey
                 GROUP BY 1, 2),
    tot AS (SELECT s_nationkey,
                   CAST(sum(sup_rev) AS DECIMAL(38,6)) AS nat_rev,
                   count(*) AS n_suppliers
            FROM rev GROUP BY 1),
    terms AS (SELECT r.s_nationkey,
                     CAST(floor(
                       (CAST(r.sup_rev AS DOUBLE)
                        / CAST(t.nat_rev AS DOUBLE))
                       * (CAST(r.sup_rev AS DOUBLE)
                          / CAST(t.nat_rev AS DOUBLE))
                       * 10000000000.0 + 0.5) AS BIGINT) AS sq
              FROM rev r JOIN tot t USING (s_nationkey))
    SELECT n.n_name,
           CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
           CAST(sum(terms.sq) AS DOUBLE) / 1000000.0 AS hhi_bp
    FROM terms
    JOIN tot t USING (s_nationkey)
    JOIN nation n ON n.n_nationkey = terms.s_nationkey
    GROUP BY 1, 2
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation
    (sum of squared revenue shares, in basis points) — the market-
    concentration screen regulators and marketplace teams run over
    any seller dimension. Exactness: revenues fold as decimals
    (order-free), each share is ONE double division, the squared
    share is quantized to a bigint at 1e10 so the cross-supplier sum
    is integer (double sums are order-dependent; integer sums are
    not), and the final /1e6 is a single division. Scale shape: one
    (nation, supplier) reduce feeding a nation-level reduce, with
    the 25-row nation dim broadcast; no row ever shuffles twice on
    the same key. No reference counterpart (SURVEY §2.9)."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")
    rev = (
        li.join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == s.s_suppkey,
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("sup_rev")
        )
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("sup_rev").cast("decimal(38,6)").alias("nat_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    share = F.col("sup_rev").cast("double") / F.col("nat_rev").cast(
        "double"
    )
    terms = rev.join(F.broadcast(tot), "s_nationkey").select(
        "s_nationkey",
        "n_suppliers",
        F.floor(share * share * F.lit(10000000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("sq"),
    )
    return (
        terms.groupBy("s_nationkey", "n_suppliers")
        .agg(F.sum("sq").alias("sq_sum"))
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            "n_suppliers",
            (F.col("sq_sum").cast("double") / F.lit(1000000.0)).alias(
                "hhi_bp"
            ),
        )
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH conv AS (SELECT event_id AS conv_id, user_id, ts
                  FROM events WHERE event_type = 'purchase'),
    cand AS (SELECT c.conv_id, e.ts AS tts, e.event_id AS tid
             FROM conv c JOIN events e
               ON e.user_id = c.user_id
              AND e.event_type <> 'purchase'
              AND e.ts < c.ts
              AND e.ts >= c.ts - INTERVAL 7 DAY),
    best_ts AS (SELECT conv_id, max(tts) AS tts FROM cand
                GROUP BY conv_id),
    best AS (SELECT b.conv_id, b.tts, max(c.tid) AS tid
             FROM best_ts b JOIN cand c
               ON c.conv_id = b.conv_id AND c.tts = b.tts
             GROUP BY 1, 2),
    attributed AS (SELECT cv.conv_id,
                          COALESCE(e.event_type, 'direct') AS channel
                   FROM conv cv
                   LEFT JOIN best b ON b.conv_id = cv.conv_id
                   LEFT JOIN events e ON e.event_id = b.tid)
    SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions
    FROM attributed GROUP BY channel
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited
    to the user's most recent non-purchase event within a 7-day
    lookback (ties broken by event_id; no touch -> 'direct'), then
    conversions roll up per channel. The match is the
    min-per-group-join-back shape — argmax as (max ts per
    conversion, then max event_id at that ts), never a
    collect-and-loop. Scale shape: the candidate join is keyed on
    user_id with a bounded 7-day window, so state per user is the
    lookback's events; the two argmax reduces and the final channel
    rollup are all map-side combinable. At 100 TB the same plan runs
    with the events table bucketed by user_id (join_bucketed's
    layout), making the self-join exchange-free. No reference
    counterpart (SURVEY §2.9)."""
    ev = read_table(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
    )
    cand = conv.join(
        touches,
        (F.col("tu") == F.col("cu"))
        & (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAYS")),
    ).select("conv_id", "tts", "tid")
    best_ts = cand.groupBy("conv_id").agg(F.max("tts").alias("tts"))
    best = (
        best_ts.join(cand, ["conv_id", "tts"])
        .groupBy("conv_id", "tts")
        .agg(F.max("tid").alias("tid"))
    )
    attributed = (
        conv.join(best, "conv_id", "left")
        .join(
            ev.select(
                F.col("event_id").alias("tid"),
                F.col("event_type").alias("channel"),
            ),
            "tid",
            "left",
        )
        .select(
            "conv_id",
            F.coalesce(F.col("channel"), F.lit("direct")).alias(
                "channel"
            ),
        )
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions")
    )


@query(
    "sql_scalar_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS DECIMAL(18,6))) AS DOUBLE) AS charged,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_extendedprice * (1 - l_discount) * (1 + l_tax)
          > l_extendedprice
    GROUP BY l_returnflag
    """,
)
def q_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE TEMPORARY FUNCTION ... RETURN expr):
    the engine's sanctioned way to package reusable business logic —
    unlike a Python UDF the body INLINES into the plan at analysis
    time, so Catalyst still pushes predicates through it, codegen
    fuses it, and no Python worker is involved (the oracle is just
    the inlined expression; the plan-level no-Python assertion in
    tests/test_oracle.py holds). Used both as a projection and
    inside a filter to prove pushdown survives the indirection."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged_price("
        "p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DOUBLE "
        "RETURN p * (1 - d) * (1 + t)"
    )
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_udf_src")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(CAST(charged_price(l_extendedprice, l_discount,
                                           l_tax) AS DECIMAL(18,6)))
                    AS DOUBLE) AS charged,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM li_udf_src
        WHERE charged_price(l_extendedprice, l_discount, l_tax)
              > l_extendedprice
        GROUP BY l_returnflag
        """
    )


_BFS_HOPS = 3


def _bfs_oracle(rounds: int) -> str:
    """Unrolled BFS twin over the shared co-purchase edge CTE. Every
    frontier/visited set is MATERIALIZED — round r references round
    r-1 twice (expansion probe + anti filter), so plain CTE inlining
    would go exponential in the round count exactly as documented on
    _kcore_oracle. The anti filter is a LEFT JOIN ... IS NULL, not
    NOT IN (the form that mismatched inside recursive members)."""
    sql = "WITH " + _copurchase_edges_sql().replace(
        "e0 AS (", "e0 AS MATERIALIZED ("
    )
    sql += """,
    und AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    mk AS (SELECT min(l_orderkey) AS k FROM lp),
    h0 AS MATERIALIZED (
      SELECT DISTINCT lp.l_partkey AS node FROM lp, mk
      WHERE lp.l_orderkey = mk.k),
    v0 AS MATERIALIZED (SELECT node, 0 AS hop FROM h0)"""
    for r in range(1, rounds + 1):
        sql += f""",
    h{r} AS MATERIALIZED (
      SELECT n.node FROM (
        SELECT DISTINCT und.v AS node
        FROM h{r - 1} f JOIN und ON und.u = f.node) n
      LEFT JOIN v{r - 1} vis ON vis.node = n.node
      WHERE vis.node IS NULL),
    v{r} AS MATERIALIZED (
      SELECT node, hop FROM v{r - 1}
      UNION ALL SELECT node, {r} AS hop FROM h{r})"""
    sql += f"""
    SELECT node, CAST(hop AS INT) AS hop FROM v{rounds}
    """
    return sql


@query("graph_bfs_hops", oracle=_bfs_oracle(_BFS_HOPS))
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search: exact min-hop distance (0-3)
    from a seed basket's parts over the co-purchase graph — the
    "related products within k hops" / blast-radius primitive.
    Classic frontier BFS: each round expands the CURRENT frontier
    only (never the whole visited set) through the undirected edge
    list, anti-joins the visited set to keep first-discovery hops,
    and localCheckpoints both (lineage doubles per round otherwise —
    same discipline as graph_k_core). All keyed shuffles; frontier
    size is bounded by the graph's neighborhood growth, and the edge
    list carries the shared mega-basket cap (operators/baskets), so
    a hub basket cannot quadratically explode an expansion round.
    Seeds: the parts of the sharded graph's minimum order key
    (deterministic, data-derived). No reference counterpart
    (SURVEY §2.9 graph family)."""
    from etl_pyspark_spark.operators.baskets import capped_basket_items

    lp = capped_basket_items(
        read_table(spark, sf_dir, "lineitem").where(
            F.col("l_orderkey") % 10 == 0
        ),
        "l_orderkey",
        "l_partkey",
    ).localCheckpoint(storageLevel=DISK_CKPT)
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(storageLevel=DISK_CKPT)
    mk = F.broadcast(lp.agg(F.min("l_orderkey").alias("k")))
    seeds = (
        lp.join(mk, F.col("l_orderkey") == F.col("k"))
        .select(F.col("l_partkey").alias("node"))
        .distinct()
        .localCheckpoint(storageLevel=DISK_CKPT)
    )
    visited = seeds.withColumn("hop", F.lit(0)).localCheckpoint(storageLevel=DISK_CKPT)
    frontier = seeds
    for h in range(1, _BFS_HOPS + 1):
        frontier = (
            frontier.join(und, frontier["node"] == und["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "anti")
            .localCheckpoint(storageLevel=DISK_CKPT)
        )
        visited = visited.unionAll(
            frontier.withColumn("hop", F.lit(h))
        ).localCheckpoint(storageLevel=DISK_CKPT)
    return visited.select("node", F.col("hop").cast("int").alias("hop"))


@query(
    "boilerplate_coverage_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      {_WS_TOKENS_SQL.format(col="text")} AS toks
               FROM documents),
    g AS (SELECT t.doc_id, s.s AS s,
                 array_to_string(t.toks[s.s:s.s + 4], ' ') AS gram
          FROM t, UNNEST(range(1, len(t.toks) - 4 + 1)) AS s(s)),
    df AS (SELECT gram, count(DISTINCT doc_id) AS ndocs
           FROM g GROUP BY 1),
    top AS MATERIALIZED (
      SELECT gram FROM df ORDER BY ndocs DESC, gram ASC LIMIT 20),
    gm AS MATERIALIZED (
      SELECT g.doc_id, g.s FROM g JOIN top USING (gram)),
    cov AS (SELECT gm.doc_id, p.p AS p
            FROM gm, UNNEST(range(gm.s, gm.s + 5)) AS p(p)
            GROUP BY 1, 2),
    c AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY 1)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
           floor(CAST(COALESCE(c.n_covered, 0) AS DOUBLE)
                 / CAST(len(t.toks) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS coverage_ratio
    FROM t LEFT JOIN c USING (doc_id)
    """,
)
def q_boilerplate_coverage_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate coverage: what fraction of each document's token
    positions is covered by any of the corpus's 20 most
    document-frequent 5-grams — the C4/RefinedWeb-style boilerplate
    screen for corpora without line structure (headers, footers, and
    template phrases surface as high-document-frequency n-grams).
    Tokenize once, enumerate 5-gram start positions with built-in
    higher-order functions (no Python), reduce to corpus document
    frequency, broadcast the tiny top-k boilerplate dim back, and
    count DISTINCT covered positions per doc (overlapping matches
    must not double-count — the distinct on (doc, position) is the
    interval-union made set-wise). Scale shape: the df reduce is the
    one big shuffle (map-side combinable); top-k is
    TakeOrderedAndProject; coverage re-expands only the MATCHED
    grams' 5 positions each. No reference counterpart (SURVEY §2.9
    LLM text-quality family)."""
    from etl_pyspark_spark.functions import text as T

    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", T.ws_tokens(F.col("text")).alias("toks")
    ).localCheckpoint(storageLevel=DISK_CKPT)
    g = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                # sequence(1, n) DESCENDS when n < 1 — short docs must
                # yield an empty position list, not [1, 0]
                F.when(
                    F.size("toks") >= 5,
                    F.sequence(F.lit(1), F.size("toks") - 4),
                ).otherwise(F.expr("array()").cast("array<int>")),
                lambda s: F.concat_ws(" ", F.slice("toks", s, 5)),
            )
        ).alias("s0", "gram"),
    ).select(
        "doc_id", (F.col("s0") + 1).alias("s"), "gram"
    )
    df_ = g.groupBy("gram").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    top = F.broadcast(
        df_.orderBy(F.col("ndocs").desc(), F.col("gram").asc())
        .limit(20)
        .select("gram")
    )
    cov = (
        g.join(top, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + 4)
            ).alias("p"),
        )
        .distinct()
    )
    c = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_covered")
    )
    return (
        t.join(c, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_covered"), F.lit(0))
            .cast("bigint")
            .alias("n_covered"),
            pround(
                F.coalesce(F.col("n_covered"), F.lit(0)).cast("double")
                / F.size("toks").cast("double"),
                6,
            ).alias("coverage_ratio"),
        )
    )


@query(
    "l_diversity_audit",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 100.0) AS INT))
                AS BIGINT) AS n_distinct_sensitive,
           (count(DISTINCT CAST(floor(c_acctbal / 100.0) AS INT)) < 3)
             AS l_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the privacy gate one step past
    k_anonymity_audit: a quasi-identifier group can be large (k-safe)
    yet still leak if everyone in it shares the same SENSITIVE value
    (homogeneity attack). Per (nation, segment) group, count DISTINCT
    sensitive buckets (account balance in 100-unit bands) and flag
    groups below l=3. Same one-pass partial-agg shape as the k audit;
    the distinct count is per group, never global. No reference
    counterpart (SURVEY §2.9 release-gate family)."""
    c = read_table(spark, sf_dir, "customer")
    nd = F.count_distinct(
        F.floor(F.col("c_acctbal") / F.lit(100.0)).cast("int")
    )
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
        nd.cast("bigint").alias("n_distinct_sensitive"),
        (nd < 3).alias("l_risk"),
    )


@query(
    "event_pattern_match",
    oracle="""
    WITH s AS (SELECT user_id,
                      string_agg(substr(event_type, 1, 1), ''
                                 ORDER BY ts, event_id) AS seq,
                      count(*) AS n_events
               FROM events WHERE ts IS NOT NULL GROUP BY user_id)
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           regexp_matches(seq, 'v.*c.*p') AS matched
    FROM s
    """,
)
def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching (MATCH_RECOGNIZE-lite): does each user's
    time-ordered journey contain view -> click -> purchase in that
    order (gaps allowed)? The journey collapses to a compact initial
    string per user — one groupBy with an in-group array_sort on the
    (ts, event_id) tiebreak, the user_event_sequence idiom — and the
    pattern is a single regex over it, evaluated in codegen. Scale
    shape: per-user event counts are application-bounded (the same
    bound every sessionization op leans on), so the collected array
    is small; nothing global, no window. NULL timestamps are dropped
    up front like every other temporal events query — Spark's
    array_sort puts a NULL ts field first while DuckDB's string_agg
    ORDER BY defaults NULLS LAST, so an unfiltered journey string
    would silently diverge across engines on NULL-bearing data. No
    reference counterpart (SURVEY §2.9 sequence-analytics family)."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: F.substring(s["event_type"], 1, 1),
        ),
        "",
    )
    return ev.groupBy("user_id").agg(
        seq.alias("_seq"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    ).select(
        "user_id",
        "n_events",
        F.col("_seq").rlike("v.*c.*p").alias("matched"),
    )


@query(
    "effect_size_cohens_d",
    oracle=f"""
    WITH g AS (SELECT
        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS na,
        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             AS BIGINT) AS nb,
        sum(CASE WHEN event_type = 'click'
                 THEN CAST(value AS DECIMAL(18,6)) END) AS sa,
        sum(CASE WHEN event_type = 'view'
                 THEN CAST(value AS DECIMAL(18,6)) END) AS sb,
        sum(CASE WHEN event_type = 'click'
                 THEN CAST(value * value AS DECIMAL(38,12)) END) AS qa,
        sum(CASE WHEN event_type = 'view'
                 THEN CAST(value * value AS DECIMAL(38,12)) END) AS qb
      FROM events WHERE value IS NOT NULL)
    SELECT na AS n_click, nb AS n_view,
           {sql_pround(
        "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
        " / sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)"
        "          * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))"
        "        + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)"
        "          * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))"
        "       / CAST(na + nb - 2 AS DOUBLE))", 9
    )} AS cohens_d
    FROM g
    """,
)
def q_effect_size_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized mean difference (click vs view values)
    — the effect-size companion to the family's significance tests
    (mann_whitney_u says WHETHER the populations differ; d says by
    HOW MUCH in pooled-SD units). Sufficient statistics only: counts
    and decimal-exact Σx / Σx² per group fold in one pass (the x*x
    product is a single double multiplication, identical in both
    engines, cast to decimal before the order-free sum); the d
    formula is one fixed-order double tree with a single sqrt.
    Scale shape: one map-side-combinable aggregate over the scan —
    the cheapest possible two-sample statistic. No reference
    counterpart (SURVEY §2.9 statistics family)."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    is_a = F.col("event_type") == "click"
    is_b = F.col("event_type") == "view"
    g = ev.agg(
        F.sum(is_a.cast("int")).cast("bigint").alias("na"),
        F.sum(is_b.cast("int")).cast("bigint").alias("nb"),
        F.sum(
            F.when(is_a, F.col("value").cast("decimal(18,6)"))
        ).alias("sa"),
        F.sum(
            F.when(is_b, F.col("value").cast("decimal(18,6)"))
        ).alias("sb"),
        F.sum(
            F.when(
                is_a,
                (F.col("value") * F.col("value")).cast("decimal(38,12)"),
            )
        ).alias("qa"),
        F.sum(
            F.when(
                is_b,
                (F.col("value") * F.col("value")).cast("decimal(38,12)"),
            )
        ).alias("qb"),
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    sa_d = F.col("sa").cast("double")
    sb_d = F.col("sb").cast("double")
    ssa = F.col("qa").cast("double") - sa_d * sa_d / na_d
    ssb = F.col("qb").cast("double") - sb_d * sb_d / nb_d
    pooled = (ssa + ssb) / (F.col("na") + F.col("nb") - 2).cast("double")
    return g.select(
        F.col("na").alias("n_click"),
        F.col("nb").alias("n_view"),
        pround(
            (sa_d / na_d - sb_d / nb_d) / F.sqrt(pooled), 9
        ).alias("cohens_d"),
    )


def _pr_curve_oracle() -> str:
    cuts = "\n      UNION ALL\n".join(
        f"""      SELECT {q} AS decile,
             min(CASE WHEN cum_cnt >= ceil({q / 10} * n) THEN value END)
               AS threshold
      FROM cc"""
        for q in range(1, 10)
    )
    return f"""
    WITH d AS (SELECT value, count(*) AS cnt,
                      sum(CASE WHEN event_type IN ('purchase', 'signup')
                               THEN 1 ELSE 0 END) AS pos
               FROM events WHERE value IS NOT NULL GROUP BY value),
    c AS (SELECT value, cnt, pos,
                 CAST(sum(cnt) OVER (ORDER BY value
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_cnt,
                 CAST(sum(pos) OVER (ORDER BY value
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_pos
          FROM d),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(sum(pos) AS BIGINT) AS p FROM d),
    cc AS (SELECT c.*, t.n, t.p FROM c, t),
    cuts AS (
{cuts}),
    pr AS (SELECT cu.decile,
                  CAST(cc.value AS DOUBLE) AS threshold,
                  cc.n - cc.cum_cnt + cc.cnt AS pred_pos,
                  cc.p - cc.cum_pos + cc.pos AS tp,
                  cc.p AS p
           FROM cuts cu JOIN cc ON cc.value = cu.threshold)
    SELECT CAST(decile AS INT) AS decile, threshold,
           CAST(pred_pos AS BIGINT) AS n_pred_pos,
           CAST(tp AS BIGINT) AS tp,
           {sql_pround(
        "CAST(tp AS DOUBLE) / CAST(pred_pos AS DOUBLE)", 9
    )} AS precision_at,
           {sql_pround("CAST(tp AS DOUBLE) / CAST(p AS DOUBLE)", 9)}
             AS recall_at,
           {sql_pround(
        "2 * CAST(tp AS DOUBLE) / CAST(pred_pos + p AS DOUBLE)", 9
    )} AS f1_at
    FROM pr
    """


@query("precision_recall_curve", oracle=_pr_curve_oracle())
def q_precision_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 at the score's nine decile thresholds
    ("predict positive when value >= cut") — the operating-point
    curve beside roc_auc_exact's single scalar, using the family's
    shared machinery end to end: reduce to DISTINCT scores, ONE
    with_global_cumsum_multi pass for both cumulative counts (never
    SinglePartition), discrete-quantile cuts (smallest value whose
    cumulative count reaches ceil(q*n) — the winsorize rule, so both
    engines select the identical stored score), and counts-at-cut by
    an equi-join back to the distinct-score axis. F1 is computed as
    2*tp/(pred_pos + actual_pos) — ONE integer-derived division, not
    the P*R composition (fewer double ops, same value). No reference
    counterpart (SURVEY §2.9 eval family)."""
    from etl_pyspark_spark.operators.ranks import (
        with_global_cumsum_multi,
    )

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    d = ev.groupBy("value").agg(
        F.count(F.lit(1)).cast("int").alias("cnt"),
        F.sum(
            F.col("event_type").isin("purchase", "signup").cast("int")
        ).alias("pos"),
    )
    c = with_global_cumsum_multi(d, ["value"], ["cnt", "pos"])
    t = F.broadcast(
        d.agg(
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("p"),
        )
    )
    cc = c.crossJoin(t).transform(scoped_persist)
    cuts_row = cc.agg(
        *[
            F.min(
                F.when(
                    F.col("cum_cnt")
                    >= F.ceil(F.lit(q / 10) * F.col("n")),
                    F.col("value"),
                )
            ).alias(f"t{q}")
            for q in range(1, 10)
        ]
    )
    cuts = F.broadcast(
        cuts_row.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(q).cast("int").alias("decile"),
                            F.col(f"t{q}").alias("threshold"),
                        )
                        for q in range(1, 10)
                    ]
                )
            ).alias("s")
        ).select("s.decile", "s.threshold")
    )
    pr = cuts.join(cc, cc["value"] == cuts["threshold"])
    pred_pos = F.col("n") - F.col("cum_cnt") + F.col("cnt")
    tp = F.col("p") - F.col("cum_pos") + F.col("pos")
    return pr.select(
        "decile",
        F.col("threshold").cast("double").alias("threshold"),
        pred_pos.cast("bigint").alias("n_pred_pos"),
        tp.cast("bigint").alias("tp"),
        pround(
            tp.cast("double") / pred_pos.cast("double"), 9
        ).alias("precision_at"),
        pround(tp.cast("double") / F.col("p").cast("double"), 9).alias(
            "recall_at"
        ),
        pround(
            F.lit(2) * tp.cast("double")
            / (pred_pos + F.col("p")).cast("double"),
            9,
        ).alias("f1_at"),
    )


def _golden_record_oracle() -> str:
    from etl_pyspark_spark.dedup.components import (
        sql_components_over_pairs,
    )
    from etl_pyspark_spark.dedup.minhash import (
        sql_minhash_pairs,
        sql_shingles_cte,
    )

    return (
        "WITH RECURSIVE "
        + sql_shingles_cte()
        + ", "
        + sql_minhash_pairs(final_name="pairs")
        + ", "
        + sql_components_over_pairs("pairs", final_name="comp")
        + """,
    members AS (SELECT c.component_id, d.doc_id, d.lang, d.source,
                       d.n_chars
                FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
    lang_mode AS (
      SELECT component_id, lang FROM (
        SELECT component_id, lang,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY count(*) DESC, lang ASC) AS rk
        FROM members GROUP BY component_id, lang)
      WHERE rk = 1),
    src_mode AS (
      SELECT component_id, source FROM (
        SELECT component_id, source,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY count(*) DESC, source ASC) AS rk
        FROM members GROUP BY component_id, source)
      WHERE rk = 1)
    SELECT m.component_id,
           CAST(count(*) AS BIGINT) AS n_members,
           min(lm.lang) AS golden_lang,
           min(sm.source) AS golden_source,
           CAST(max(m.n_chars) AS BIGINT) AS max_chars,
           CAST(min(m.doc_id) AS BIGINT) AS record_id
    FROM members m
    JOIN lang_mode lm USING (component_id)
    JOIN src_mode sm USING (component_id)
    GROUP BY m.component_id
    """
    )


