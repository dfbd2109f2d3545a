"""Query family: records_quality (mechanically split from registry.py — see core)."""

from __future__ import annotations

from etl_pyspark_spark.checkpoint import DISK_CKPT, scoped_family_persist

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    SparkSession,
    os,
    pround,
    query,
    read_table,
    sql_pround,
)
from etl_pyspark_spark.queries.text_analysis import _WS_TOKENS_SQL, _ngram_sql
from etl_pyspark_spark.sources.layouts import _SCRATCH
from etl_pyspark_spark.queries.graph_temporal import (
    _copurchase_edge_count,
    _copurchase_edges,
    _copurchase_edges_sql,
)
from etl_pyspark_spark.queries.timeseries_entity import _golden_record_oracle

@query("golden_record_merge", oracle=_golden_record_oracle())
def q_golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record construction: where
    dedup_canonical_selection keeps one WHOLE row per duplicate
    cluster, the MDM-style golden record merges per FIELD — the
    cluster's modal language and source (count-desc, value-asc
    tiebreak so the mode is deterministic), its max n_chars, and the
    min doc_id as the stable record key. Field modes are per-cluster
    count reduces plus a row_number over the component partitioning
    (WindowGroupLimit shape, partitioned, tiny next to the corpus);
    clusters come from the session-shared dedup build, so the
    marginal cost is the merge logic only. No reference counterpart
    (SURVEY §2.9 dedup/MDM family)."""
    from pyspark.sql.window import Window

    from etl_pyspark_spark.dedup.shared import dup_components

    docs = read_table(spark, sf_dir, "documents")
    comp = dup_components(spark, sf_dir)
    members = comp.join(
        docs.select("doc_id", "lang", "source", "n_chars"), "doc_id"
    ).transform(scoped_family_persist)

    def field_mode(col: str, out: str) -> DataFrame:
        w = Window.partitionBy("component_id").orderBy(
            F.col("cnt").desc(), F.col(col).asc()
        )
        return (
            members.groupBy("component_id", col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("component_id", F.col(col).alias(out))
        )

    base = members.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.min("doc_id").cast("bigint").alias("record_id"),
    )
    return (
        base.join(field_mode("lang", "golden_lang"), "component_id")
        .join(field_mode("source", "golden_source"), "component_id")
        .select(
            "component_id",
            "n_members",
            "golden_lang",
            "golden_source",
            "max_chars",
            "record_id",
        )
    )


@query(
    "cuped_variance_reduction",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS variant,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                      THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS x,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                      THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS y
      FROM events WHERE value IS NOT NULL GROUP BY user_id),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                           AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                           AS DECIMAL(38,10))) AS DOUBLE) AS sxy
      FROM per_user),
    v AS (
      SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n0,
             CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END)
                  AS DOUBLE) AS sx0,
             CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END)
                  AS DOUBLE) AS sy0,
             CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END)
                  AS DOUBLE) AS sx1,
             CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END)
                  AS DOUBLE) AS sy1
      FROM per_user),
    th AS (
      SELECT n, sx / CAST(n AS DOUBLE) AS mean_x,
             (sxy - sx * sy / CAST(n AS DOUBLE))
               / (sxx - sx * sx / CAST(n AS DOUBLE)) AS theta
      FROM g)
    SELECT th.n AS n_users,
           {sql_pround("th.theta", 9)} AS theta,
           {sql_pround(
        "v.sy0 / CAST(v.n0 AS DOUBLE) - v.sy1 / CAST(v.n1 AS DOUBLE)", 9
    )} AS diff_raw,
           {sql_pround(
        "(v.sy0 / CAST(v.n0 AS DOUBLE)"
        " - th.theta * (v.sx0 / CAST(v.n0 AS DOUBLE) - th.mean_x))"
        " - (v.sy1 / CAST(v.n1 AS DOUBLE)"
        " - th.theta * (v.sx1 / CAST(v.n1 AS DOUBLE) - th.mean_x))", 9
    )} AS diff_cuped
    FROM th, v
    """,
)
def q_cuped_variance_reduction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data): the
    standard variance-reduction adjustment every experimentation
    platform applies — per user, pre-period activity X predicts
    post-period metric Y; theta = cov(X,Y)/var(X) over all users,
    and the reported treatment effect is the difference of
    theta-adjusted means instead of raw means. Everything reduces to
    six sufficient statistics: per-user X/Y fold as exact decimals
    (order-free), the cross-products X², XY are single double
    multiplications quantized to DECIMAL(38,10) before the order-free
    sum, and theta/means/diffs are one fixed-order double tree over
    the 1-row fold. Scale shape: one per-user reduce (map-side
    combinable) feeding two 1-row aggregates — the cheapest possible
    shape; nothing finer than user_id ever shuffles. No reference
    counterpart (SURVEY §2.9 experimentation family, beside
    ab_test_proportions)."""
    cut = F.lit("2024-01-15").cast("timestamp")
    zero = F.lit(0).cast("decimal(18,6)")
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("ts") < cut, F.col("value").cast("decimal(18,6)")
            ).otherwise(zero)
        ).alias("x"),
        F.sum(
            F.when(
                F.col("ts") >= cut, F.col("value").cast("decimal(18,6)")
            ).otherwise(zero)
        ).alias("y"),
    ).withColumn("variant", F.col("user_id") % 2).transform(scoped_family_persist)
    xd = F.col("x").cast("double")
    yd = F.col("y").cast("double")
    g = F.broadcast(
        per_user.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum((xd * xd).cast("decimal(38,10)"))
            .cast("double")
            .alias("sxx"),
            F.sum((xd * yd).cast("decimal(38,10)"))
            .cast("double")
            .alias("sxy"),
        )
    )
    dzero = F.lit(0).cast("decimal(28,6)")
    v = F.broadcast(
        per_user.agg(
            F.sum((F.col("variant") == 0).cast("int"))
            .cast("bigint")
            .alias("n0"),
            F.sum(F.when(F.col("variant") == 0, F.col("x")).otherwise(dzero))
            .cast("double")
            .alias("sx0"),
            F.sum(F.when(F.col("variant") == 0, F.col("y")).otherwise(dzero))
            .cast("double")
            .alias("sy0"),
            F.sum((F.col("variant") == 1).cast("int"))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("variant") == 1, F.col("x")).otherwise(dzero))
            .cast("double")
            .alias("sx1"),
            F.sum(F.when(F.col("variant") == 1, F.col("y")).otherwise(dzero))
            .cast("double")
            .alias("sy1"),
        )
    )
    nd = F.col("n").cast("double")
    mean_x = F.col("sx") / nd
    theta = (F.col("sxy") - F.col("sx") * F.col("sy") / nd) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / nd
    )
    m0y = F.col("sy0") / F.col("n0").cast("double")
    m1y = F.col("sy1") / F.col("n1").cast("double")
    m0x = F.col("sx0") / F.col("n0").cast("double")
    m1x = F.col("sx1") / F.col("n1").cast("double")
    return g.crossJoin(v).select(
        F.col("n").alias("n_users"),
        pround(theta, 9).alias("theta"),
        pround(m0y - m1y, 9).alias("diff_raw"),
        pround(
            (m0y - theta * (m0x - mean_x))
            - (m1y - theta * (m1x - mean_x)),
            9,
        ).alias("diff_cuped"),
    )


@query(
    "heaps_law_vocab_growth",
    oracle=f"""
    WITH dt AS (SELECT doc_id, u.term
                FROM documents,
                     UNNEST({_WS_TOKENS_SQL.format(col="text")})
                       AS u(term)),
    first_occ AS (SELECT term, min(doc_id) AS doc_id FROM dt
                  GROUP BY term),
    newt AS (SELECT doc_id, count(*) AS n_new FROM first_occ
             GROUP BY doc_id),
    j AS (SELECT d.doc_id, COALESCE(n.n_new, 0) AS n_new_types
          FROM documents d LEFT JOIN newt n USING (doc_id))
    SELECT doc_id,
           CAST(n_new_types AS BIGINT) AS n_new_types,
           CAST(sum(n_new_types) OVER (ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS vocab_size
    FROM j
    """,
)
def q_heaps_law_vocab_growth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Heaps'-law vocabulary growth curve: per document (in doc_id
    ingest order), how many token TYPES appear for the first time,
    and the running vocabulary size — the curve a corpus team plots
    to decide when more data stops buying new vocabulary (and the
    empirical input to tokenizer capacity planning). First
    occurrences are a single min-reduce on the token axis (never a
    scan ordered by time); the running total runs on
    with_global_cumsum's range-exchange machinery, never a
    SinglePartition window. Scale shape: the (token -> min doc)
    reduce is the one corpus-wide shuffle, map-side combinable; the
    cumulative pass moves |documents| rows, not tokens. No reference
    counterpart (SURVEY §2.9 corpus-analytics family)."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.operators.ranks import with_global_cumsum

    docs = read_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.col("text"))).alias("term")
    )
    first_occ = dt.groupBy("term").agg(F.min("doc_id").alias("doc_id"))
    newt = first_occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    j = docs.select("doc_id").join(newt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_new"), F.lit(0))
        .cast("int")
        .alias("n_new_types"),
    )
    c = with_global_cumsum(j, ["doc_id"], "n_new_types", "vocab_size")
    return c.select(
        "doc_id",
        F.col("n_new_types").cast("bigint").alias("n_new_types"),
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
    )


_LINKPRED_MID_CAP = 1024


@query(
    "link_prediction_jaccard",
    oracle="WITH "
    + _copurchase_edges_sql().replace("e0 AS (", "e0 AS MATERIALIZED (")
    + f""",
    und AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS MATERIALIZED (
      SELECT u AS node, count(*) AS d FROM und GROUP BY u),
    mid AS (SELECT node FROM deg WHERE d <= {_LINKPRED_MID_CAP}),
    wedge AS (SELECT a.v AS u, b.v AS w
              FROM und a
              JOIN mid m ON m.node = a.u
              JOIN und b ON a.u = b.u AND a.v < b.v),
    common AS (SELECT u, w, count(*) AS cn FROM wedge GROUP BY u, w),
    nonadj AS (SELECT c.u, c.w, c.cn FROM common c
               LEFT JOIN e0 e ON e.u = c.u AND e.v = c.w
               WHERE e.u IS NULL),
    sc AS (SELECT n.u, n.w, n.cn,
                  CAST(n.cn AS DOUBLE)
                    / CAST(du.d + dw.d - n.cn AS DOUBLE) AS jac
           FROM nonadj n
           JOIN deg du ON du.node = n.u
           JOIN deg dw ON dw.node = n.w)
    SELECT u, w, CAST(cn AS BIGINT) AS n_common,
           floor(jac * 1000000000.0 + 0.5) / 1000000000.0 AS jaccard
    FROM sc ORDER BY jac DESC, u ASC, w ASC LIMIT 50
    """,
)
def q_link_prediction_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link prediction by neighborhood Jaccard: for non-adjacent node
    pairs at distance 2 in the co-purchase graph, score
    |N(u) ∩ N(v)| / |N(u) ∪ N(v)| and keep the top 50 — the classic
    common-neighbors recommender ("customers who buy these also
    buy..."). Common-neighbor counting is the wedge join through the
    middle node, which expands d(m)² per middle and CANNOT be
    degree-oriented away like triangles (both endpoints are needed
    per wedge) — so middles above degree 1024 are excluded by a
    documented cap, the same guard philosophy as the shared
    mega-basket cap (fixture max degree is 53, so the cap is
    invisible at any tested scale but bounds the celebrity-node
    quadratic at 100 TB). Union size comes from degrees, no second
    pass; the final ranking is TakeOrderedAndProject on the raw
    double (both engines order the identical IEEE value, ties broken
    by the pair key). No reference counterpart (SURVEY §2.9 graph /
    recsys family)."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(storageLevel=DISK_CKPT)
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # Every join against deg/mid/edges carries a FACT-scale probe side
    # (und / the wedge-pair table), so the build side must never force
    # a sort of the probe: broadcast while the graph is small,
    # shuffle-hash once it isn't (bounded build partitions hash
    # per-task; the huge probe side never sorts).  The cutover uses
    # the REAL memoized edge count, AQE-style, because the planner's
    # estimate flips these joins to SortMergeJoin right past the
    # broadcast threshold (~30x bench scale) and re-sorts the ~30x
    # wedge table three times — measured 45x wall for 30x data; the
    # count-driven strategy restored sublinear scaling (21.8x) while
    # keeping the 1x broadcast plan.
    n_edges = _copurchase_edge_count(spark, sf_dir)
    if n_edges <= 1_000_000:
        dim = F.broadcast
    else:
        dim = lambda df: df.hint("shuffle_hash")  # noqa: E731
    mid = deg.where(F.col("d") <= _LINKPRED_MID_CAP).select("node")
    a = und.select(F.col("u").alias("m"), F.col("v").alias("pu"))
    b = und.select(F.col("u").alias("m"), F.col("v").alias("pw"))
    wedge = (
        a.join(dim(mid.withColumnRenamed("node", "m")), "m")
        .join(b, "m")
        .where(F.col("pu") < F.col("pw"))
        .select(F.col("pu").alias("u"), F.col("pw").alias("w"))
    )
    common = wedge.groupBy("u", "w").agg(F.count(F.lit(1)).alias("cn"))
    nonadj = common.join(
        edges.hint("shuffle_hash"),
        (edges["u"] == common["u"]) & (edges["v"] == common["w"]),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dw = deg.select(F.col("node").alias("w"), F.col("d").alias("dw"))
    sc = nonadj.join(dim(du), "u").join(dim(dw), "w").select(
        "u",
        "w",
        "cn",
        (
            F.col("cn").cast("double")
            / (F.col("du") + F.col("dw") - F.col("cn")).cast("double")
        ).alias("jac"),
    )
    return (
        sc.orderBy(F.col("jac").desc(), F.col("u").asc(), F.col("w").asc())
        .limit(50)
        .select(
            "u",
            "w",
            F.col("cn").cast("bigint").alias("n_common"),
            pround(F.col("jac"), 9).alias("jaccard"),
        )
    )


def _qini_oracle() -> str:
    cuts = "\n      UNION ALL\n".join(
        f"      SELECT {k} AS decile, ceil({k / 10} * n) AS cut FROM t"
        for k in range(1, 11)
    )
    return f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS INT) AS t,
             CAST(sum(CAST(COALESCE(value, 0) AS DECIMAL(18,6)))
                  AS DOUBLE) AS score,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS y
      FROM events GROUP BY user_id),
    c AS (
      SELECT user_id,
             CAST(sum(1) OVER w AS BIGINT) AS cum_one,
             CAST(sum(t) OVER w AS BIGINT) AS cum_nt,
             CAST(sum(1 - t) OVER w AS BIGINT) AS cum_nc,
             CAST(sum(t * y) OVER w AS BIGINT) AS cum_yt,
             CAST(sum((1 - t) * y) OVER w AS BIGINT) AS cum_yc
      FROM per_user
      WINDOW w AS (ORDER BY score DESC, user_id
                   ROWS UNBOUNDED PRECEDING)),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_user),
    cuts AS (
{cuts}),
    pr AS (SELECT cu.decile, c.cum_one, c.cum_nt, c.cum_nc,
                  c.cum_yt, c.cum_yc
           FROM cuts cu JOIN c ON c.cum_one = cu.cut)
    SELECT CAST(decile AS INT) AS decile,
           cum_one AS n_at,
           cum_nt AS n_treat, cum_nc AS n_ctrl,
           cum_yt AS conv_treat, cum_yc AS conv_ctrl,
           CASE WHEN cum_nc = 0 THEN NULL ELSE
             {sql_pround(
        "CAST(cum_yt AS DOUBLE) - CAST(cum_yc AS DOUBLE)"
        " * CAST(cum_nt AS DOUBLE) / CAST(cum_nc AS DOUBLE)", 9
    )} END AS qini
    FROM pr
    """


@query("uplift_qini_curve", oracle=_qini_oracle())
def q_uplift_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift evaluation: rank users by a targeting
    score (their total event value), and at each population decile
    report incremental conversions — treated converters minus
    control converters scaled to the treated population
    (Qini(k) = Yt(k) - Yc(k)·Nt(k)/Nc(k)), the standard audit for
    "does targeting the top-scored users actually cause lift".
    Treatment is the deterministic user_id-parity split shared with
    ab_test_proportions. All five cumulative series (population,
    treated, control, converters of each) come from ONE
    with_global_cumsum_multi pass over the score-ranked user axis
    (never SinglePartition); decile boundaries are exact row-count
    hits (cum_one == ceil(k·n/10) — population rank increments by 1
    per user, so every boundary exists), and Qini is a fixed-order
    double tree per boundary row. Scale shape: per-user reduce, one
    range exchange, a 10-row broadcast of cuts. No reference
    counterpart (SURVEY §2.9 experimentation family)."""
    from etl_pyspark_spark.operators.ranks import (
        with_global_cumsum_multi,
    )

    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.coalesce(F.col("value"), F.lit(0)).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("score"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("y"),
    ).select(
        "user_id",
        "score",
        "y",
        (F.col("user_id") % 2).cast("int").alias("t"),
        (-F.col("score")).alias("negscore"),
        F.lit(1).alias("one"),
        (F.col("user_id") % 2).cast("int").alias("nt"),
        (1 - F.col("user_id") % 2).cast("int").alias("nc"),
    ).withColumn(
        "yt", (F.col("t") * F.col("y")).cast("int")
    ).withColumn(
        "yc", ((1 - F.col("t")) * F.col("y")).cast("int")
    ).transform(scoped_family_persist)  # read by the cumulative pass AND the totals fold
    c = with_global_cumsum_multi(
        per_user,
        ["negscore", "user_id"],
        ["one", "nt", "nc", "yt", "yc"],
    )
    tot = F.broadcast(
        per_user.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    cuts = F.broadcast(
        tot.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("int").alias("decile"),
                            F.ceil(F.lit(k / 10) * F.col("n")).alias(
                                "cut"
                            ),
                        )
                        for k in range(1, 11)
                    ]
                )
            ).alias("s")
        ).select("s.decile", "s.cut")
    )
    pr = cuts.join(c, c["cum_one"] == cuts["cut"])
    qini = F.when(
        F.col("cum_nc") == 0, F.lit(None).cast("double")
    ).otherwise(
        pround(
            F.col("cum_yt").cast("double")
            - F.col("cum_yc").cast("double")
            * F.col("cum_nt").cast("double")
            / F.col("cum_nc").cast("double"),
            9,
        )
    )
    return pr.select(
        "decile",
        F.col("cum_one").cast("bigint").alias("n_at"),
        F.col("cum_nt").cast("bigint").alias("n_treat"),
        F.col("cum_nc").cast("bigint").alias("n_ctrl"),
        F.col("cum_yt").cast("bigint").alias("conv_treat"),
        F.col("cum_yc").cast("bigint").alias("conv_ctrl"),
        qini.alias("qini"),
    )


@query(
    "ab_required_sample_size",
    oracle=f"""
    WITH per_user AS (SELECT user_id,
                             max(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) AS y
                      FROM events GROUP BY user_id),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(y) AS BIGINT) AS conv_users
          FROM per_user),
    p AS (SELECT n_users, conv_users,
                 CAST(conv_users AS DOUBLE) / CAST(n_users AS DOUBLE)
                   AS pb
          FROM g)
    SELECT n_users, conv_users,
           {sql_pround("pb", 9)} AS p_baseline,
           {sql_pround("0.1 * pb", 9)} AS mde_abs,
           CAST(ceil(2.801585 * 2.801585 * 2.0 * pb * (1 - pb)
                     / ((0.1 * pb) * (0.1 * pb))) AS BIGINT)
             AS n_per_variant
    FROM p
    """,
)
def q_ab_required_sample_size(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Experiment power analysis: users-per-variant needed to detect
    a 10% relative lift on the observed baseline conversion at
    alpha=0.05 (two-sided) and 80% power —
    n = 2(z_a+z_b)^2 p(1-p) / delta^2, the planning number every
    A/B platform prints next to a test readout. z_{{0.975}}+z_{{0.8}}
    is the shared 6-decimal literal 2.801585 (inverse-normal is not
    cross-engine computable); baseline p comes from exact per-user
    counts and the rest is one fixed-order double tree ending in a
    ceil. One per-user reduce plus a 1-row fold. No reference
    counterpart (SURVEY §2.9 experimentation family)."""
    ev = read_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("y")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("y").cast("bigint").alias("conv_users"),
    )
    pb = F.col("conv_users").cast("double") / F.col("n_users").cast(
        "double"
    )
    mde = F.lit(0.1) * pb
    zsum = F.lit(2.801585)
    return g.select(
        "n_users",
        "conv_users",
        pround(pb, 9).alias("p_baseline"),
        pround(mde, 9).alias("mde_abs"),
        F.ceil(
            zsum * zsum * F.lit(2.0) * pb * (F.lit(1) - pb)
            / (mde * mde)
        )
        .cast("bigint")
        .alias("n_per_variant"),
    )


@query(
    "ngram_novelty_decay",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_WS_TOKENS_SQL.format(col="text")} AS toks
               FROM documents),
    g AS (SELECT doc_id, unnest({_ngram_sql("toks", 8)}) AS gram FROM t),
    fo AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
    d AS (SELECT g.doc_id,
                 count(*) AS n_grams,
                 count(*) FILTER (fo.first_doc < g.doc_id) AS n_repeat
          FROM g JOIN fo USING (gram) GROUP BY g.doc_id)
    SELECT documents.doc_id,
           CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_repeat, 0) AS BIGINT) AS n_repeat,
           {sql_pround(
        "CAST(COALESCE(n_repeat, 0) AS DOUBLE)"
        " / GREATEST(COALESCE(n_grams, 0), 1)", 6
    )} AS repeat_ratio
    FROM documents LEFT JOIN d ON documents.doc_id = d.doc_id
    """,
)
def q_ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-order n-gram novelty: per document, what fraction of
    its token 8-grams was ALREADY SEEN in an earlier document
    (doc_id order) — the corpus-level duplication-pressure curve
    (substring_dup_spans asks "is this span duplicated anywhere";
    this asks "was it new when it arrived", the signal that tells a
    crawl when marginal data stops adding content, the span-level
    sibling of heaps_law_vocab_growth's type counts). Shape is the
    substring-dup pipeline with min(first doc) in place of the
    occurrence count: grams 60-bit-hashed BEFORE the shuffle, the
    first-occurrence reduce map-side combinable, one keyed join
    back, one per-doc rollup; parity holds unless md5 collides
    within the corpus (2^-60 per pair). No reference counterpart
    (SURVEY §2.9 corpus-analytics family)."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    docs = read_table(spark, sf_dir, "documents")
    toked = spread(docs).select(
        "doc_id", T.ws_tokens(F.col("text")).alias("toks")
    )
    g = toked.select(
        "doc_id",
        F.explode(T.ngrams_from_tokens(F.col("toks"), 8)).alias("gram"),
    ).select("doc_id", T.portable_hash60(F.col("gram")).alias("gh"))
    fo = g.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    d = (
        g.join(fo, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(
                F.when(F.col("first_doc") < F.col("doc_id"), 1)
            ).alias("n_repeat"),
        )
    )
    zero = F.lit(0).cast("bigint")
    n_grams = F.coalesce(F.col("n_grams"), zero)
    n_rep = F.coalesce(F.col("n_repeat"), zero)
    return (
        docs.select("doc_id")
        .join(d, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_rep.alias("n_repeat"),
            pround(
                n_rep.cast("double") / F.greatest(n_grams, F.lit(1)),
                6,
            ).alias("repeat_ratio"),
        )
    )


@query(
    "time_range_window_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           CAST(count(value) OVER w AS BIGINT) AS n_24h,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS sum_24h
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                           AND CURRENT ROW)
    """,
)
def q_time_range_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-INTERVAL RANGE frame: each event's trailing-24-hour count
    and value sum for its user — the sliding-by-time window (fraud
    velocity checks, rate features) that row offsets cannot express
    because event spacing is irregular. The numeric-RANGE sibling is
    window_range_frame; this is the temporal form, written through
    the SQL expression API (the python Window API only takes integer
    offsets). The windowed sum folds DECIMALs — window engines
    accumulate in different orders (running vs segment tree), so a
    double sum would drift in the last ulp across engines. Scale
    shape: partitioned by user, one keyed exchange; per-user frames
    are application-bounded like every sessionization op."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    w = (
        "OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)"
    )
    return ev.select(
        "event_id",
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("epoch_s"),
        F.expr(f"count(value) {w}").cast("bigint").alias("n_24h"),
        F.expr(f"sum(CAST(value AS DECIMAL(18,6))) {w}")
        .cast("double")
        .alias("sum_24h"),
    )


@query(
    "impute_missing_values",
    oracle="""
    WITH nn AS (SELECT event_type, value, count(*) AS cnt
                FROM events WHERE value IS NOT NULL
                GROUP BY event_type, value),
    c AS (SELECT event_type, value,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY value
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type) AS tot
          FROM nn),
    med AS (SELECT event_type, min(value) AS median_v
            FROM c WHERE 2 * cum >= tot GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           CAST(COALESCE(e.value, m.median_v) AS DOUBLE)
             AS value_imputed,
           (e.value IS NULL) AS was_imputed
    FROM events e JOIN med m USING (event_type)
    """,
)
def q_impute_missing_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation — the standard ML-prep repair for a numeric
    column with NULLs: each missing value takes its group's DISCRETE
    median (smallest value whose doubled cumulative count reaches the
    group total — the exact order statistic, so both engines select
    the identical stored value; interpolated medians differ in the
    last ulp). The median search reduces to the per-(type, value)
    count axis first (reduce-first, like every quantile in the
    engine) with a PARTITIONED cumulative window, then one broadcast
    join patches the fact rows. Scale shape: the imputation dim is
    |types| rows; the fact table is touched exactly once."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    nn = (
        ev.where(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    med = F.broadcast(
        nn.select(
            "event_type",
            "value",
            F.sum("cnt").over(wc).alias("cum"),
            F.sum("cnt").over(wt).alias("tot"),
        )
        .where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("event_type")
        .agg(F.min("value").alias("median_v"))
    )
    return ev.join(med, "event_type").select(
        "event_id",
        "event_type",
        F.coalesce(F.col("value"), F.col("median_v"))
        .cast("double")
        .alias("value_imputed"),
        F.col("value").isNull().alias("was_imputed"),
    )


@query(
    "target_encoding_smoothed",
    oracle=f"""
    WITH g AS (SELECT CAST(count(value) AS BIGINT) AS n_all,
                      CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                        AS s_all
               FROM events WHERE value IS NOT NULL),
    c AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_cat,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS s_cat
          FROM events WHERE value IS NOT NULL GROUP BY event_type)
    SELECT c.event_type, c.n_cat,
           {sql_pround(
        "(c.s_cat + 10.0 * (g.s_all / CAST(g.n_all AS DOUBLE)))"
        " / CAST(c.n_cat + 10 AS DOUBLE)", 9
    )} AS encoded
    FROM c, g
    """,
)
def q_target_encoding_smoothed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Smoothed target (mean) encoding with a Bayesian prior of
    weight m=10 — the leakage-safe categorical feature encoder:
    enc(cat) = (Σ_cat + m·global_mean) / (n_cat + m), shrinking rare
    categories toward the prior. Sums fold as exact decimals; the
    encoding is a fixed-order double tree per category over the
    1-row global fold (broadcast). One pass over the facts. No
    reference counterpart (SURVEY §2.9 feature-engineering family,
    beside feature_hashing_vectorize)."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    g = F.broadcast(
        ev.agg(
            F.count("value").cast("bigint").alias("n_all"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("s_all"),
        )
    )
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cat"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("s_cat"),
    )
    gmean = F.col("s_all") / F.col("n_all").cast("double")
    return c.crossJoin(g).select(
        "event_type",
        "n_cat",
        pround(
            (F.col("s_cat") + F.lit(10.0) * gmean)
            / (F.col("n_cat") + 10).cast("double"),
            9,
        ).alias("encoded"),
    )


@query(
    "insert_overwrite_dynamic_partitions",
    oracle="""
    WITH full_load AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS n,
             CAST(sum(CAST(COALESCE(value, 0) AS DECIMAL(18,6)))
                  AS DOUBLE) AS val
      FROM events GROUP BY 1, 2),
    reload AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS n,
             CAST(sum(CAST(COALESCE(value, 0) AS DECIMAL(18,6)))
                  AS DOUBLE) AS val
      FROM events
      WHERE event_type IN ('click', 'view') AND value >= 1.0
      GROUP BY 1, 2),
    final_state AS (
      SELECT * FROM full_load
      WHERE event_type NOT IN ('click', 'view')
      UNION ALL SELECT * FROM reload)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
             AS total_value
    FROM final_state GROUP BY event_type
    """,
)
def q_insert_overwrite_dynamic_partitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the idempotent backfill
    primitive of a partitioned lake: a full load writes per-type
    daily rollups partitioned by event_type, then a corrected reload
    of JUST two types (with a revised filter) overwrites ONLY the
    partitions it carries — untouched partitions survive, no
    read-modify-write, no manual partition enumeration (static
    overwrite mode would wipe the whole table; per-partition deletes
    don't scale past a handful). Re-reading the final directory
    proves the semantics: replaced types show the filtered numbers,
    all others the original load. The layout dir is per-SF so runs
    at different scale factors can't poison each other's oracle
    comparisons. Per-day decimal sums survive the parquet round trip
    losslessly (6-decimal doubles), so the final rollup can re-fold
    them as decimals. Reference parity: the reference's only write
    path is full-file replacement (parquet_slicer.py:53-58); partition
    -granular idempotent reload is SURVEY §2.9 lake-management
    growth."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"{_SCRATCH}/dyn_overwrite_{tag}"
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.coalesce(F.col("value"), F.lit(0)).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("val"),
    )
    daily.write.partitionBy("event_type").mode("overwrite").parquet(out)
    upd = (
        ev.where(
            F.col("event_type").isin("click", "view")
            & (F.col("value") >= 1.0)
        )
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.coalesce(F.col("value"), F.lit(0)).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("val"),
        )
    )
    upd.write.partitionBy("event_type").option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum(F.col("val").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "min_cost_supplier_q2",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice / l_quantity AS DECIMAL(18,6)))
               AS unit_cost
      FROM lineitem WHERE l_quantity > 0
      GROUP BY 1, 2),
    eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'),
    offers AS (
      SELECT c.l_partkey, c.l_suppkey, c.unit_cost,
             e.s_name, e.s_acctbal, e.n_name
      FROM cost c JOIN eu e ON e.s_suppkey = c.l_suppkey),
    best AS (
      SELECT l_partkey, min(unit_cost) AS best_cost
      FROM offers GROUP BY l_partkey)
    SELECT o.l_partkey AS p_partkey, p.p_type, p.p_size,
           o.s_name, o.n_name,
           CAST(o.s_acctbal AS DOUBLE) AS s_acctbal,
           CAST(o.unit_cost AS DOUBLE) AS unit_cost
    FROM offers o
    JOIN best b ON b.l_partkey = o.l_partkey
                AND o.unit_cost = b.best_cost
    JOIN part p ON p.p_partkey = o.l_partkey
    WHERE p.p_size = 15
    ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC,
             o.l_suppkey ASC
    LIMIT 100
    """,
)
def q_min_cost_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each size-15 part,
    the EUROPE supplier(s) offering the lowest unit cost, ranked by
    account balance — the correlated-min + join-back composition over
    a four-table dim chain (the fixtures have no partsupp, so
    lineitem stands in as the part-supplier bridge with
    min(extendedprice/quantity) as supply cost, per the adaptation
    note on the other TPC-H shapes). Unit costs quantize to
    DECIMAL(18,6) so the min and the equality join-back select
    identical values in both engines (a raw double min would carry
    last-ulp division noise into the equi-join). The supplier dim
    chain broadcasts; the correlated min is min_per_group_join_back
    at part granularity; the final ranking is TakeOrderedAndProject
    with a total tie-break."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    p = read_table(spark, sf_dir, "part")
    cost = (
        li.where(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                (
                    F.col("l_extendedprice") / F.col("l_quantity")
                ).cast("decimal(18,6)")
            ).alias("unit_cost")
        )
    )
    eu = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(
            r.where(F.col("r_name") == "EUROPE"),
            n.n_regionkey == r.r_regionkey,
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = cost.join(eu, cost.l_suppkey == eu.s_suppkey)
    best = offers.groupBy("l_partkey").agg(
        F.min("unit_cost").alias("best_cost")
    )
    out = (
        offers.join(best, "l_partkey")
        .where(F.col("unit_cost") == F.col("best_cost"))
        .join(
            F.broadcast(
                p.where(F.col("p_size") == 15).select(
                    "p_partkey", "p_type", "p_size"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    return (
        out.orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
            F.col("l_suppkey").asc(),
        )
        .limit(100)
        .select(
            "p_partkey",
            "p_type",
            "p_size",
            "s_name",
            "n_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            F.col("unit_cost").cast("double").alias("unit_cost"),
        )
    )


@query(
    "systematic_sample",
    oracle="""
    WITH r AS (SELECT doc_id, n_chars,
                      row_number() OVER (ORDER BY n_chars, doc_id)
                        AS rk
               FROM documents)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS BIGINT) AS sample_rank
    FROM r WHERE (rk - 1) % 20 = 0
    """,
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling along a sort axis — the
    stratified-by-construction sample QA teams pull when they want
    coverage across the whole size distribution rather than a
    uniform-random draw (which over-represents the mode): rank every
    document by (n_chars, doc_id) and keep each 20th. The rank is
    with_global_rank's range-exchange + broadcast-offset machinery —
    never a SinglePartition window — making this the sampling-family
    face of the same primitive curriculum/packing queries use. Scale
    shape: one range exchange, then a modulo filter projection."""
    from etl_pyspark_spark.operators.ranks import with_global_rank

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    ranked = with_global_rank(
        docs, ["n_chars", "doc_id"], rank_col="sample_rank"
    )
    return ranked.where((F.col("sample_rank") - 1) % 20 == 0).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("sample_rank").cast("bigint").alias("sample_rank"),
    )


@query(
    "wow_growth_rate",
    oracle=f"""
    WITH w AS (SELECT event_type,
                      CAST(date_trunc('week', ts) AS DATE) AS week,
                      count(*) AS n
               FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    l AS (SELECT event_type, week, n,
                 lag(n) OVER (PARTITION BY event_type ORDER BY week)
                   AS prev_n
          FROM w)
    SELECT event_type, week,
           CAST(n AS BIGINT) AS n_events,
           CAST(prev_n AS BIGINT) AS prev_events,
           CASE WHEN prev_n IS NULL OR prev_n = 0 THEN NULL ELSE
             {sql_pround(
        "(CAST(n AS DOUBLE) - CAST(prev_n AS DOUBLE))"
        " / CAST(prev_n AS DOUBLE)", 6
    )} END AS wow_growth
    FROM l
    """,
)
def q_wow_growth_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the KPI-dashboard
    staple: weekly counts, a lag window PARTITIONED by type (the
    weekly rollup is |types|x|weeks| rows, so the window input is
    bounded by construction AND partitioned — never the raw fact
    table, never SinglePartition), and a guarded percentage change
    (NULL for the first week and zero-baselines, identically on both
    engines)."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    w = ev.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).agg(F.count(F.lit(1)).alias("n"))
    lw = Window.partitionBy("event_type").orderBy("week")
    l_ = w.select(
        "event_type",
        "week",
        F.col("n").cast("bigint").alias("n_events"),
        F.lag("n").over(lw).cast("bigint").alias("prev_events"),
    )
    return l_.select(
        "event_type",
        "week",
        "n_events",
        "prev_events",
        F.when(
            F.col("prev_events").isNull() | (F.col("prev_events") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            pround(
                (
                    F.col("n_events").cast("double")
                    - F.col("prev_events").cast("double")
                )
                / F.col("prev_events").cast("double"),
                6,
            )
        )
        .alias("wow_growth"),
    )


@query(
    "basket_lift_rules",
    oracle="""
    WITH parts AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
             AS n_baskets FROM parts),
    sup AS (SELECT l_partkey, count(*) AS n_i FROM parts GROUP BY 1),
    pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                     count(*) AS n_ab
              FROM parts a JOIN parts b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 3)
    SELECT p.part_a, p.part_b,
           CAST(p.n_ab AS BIGINT) AS n_both,
           CAST(sa.n_i AS BIGINT) AS n_a,
           CAST(sb.n_i AS BIGINT) AS n_b,
           floor(CAST(p.n_ab AS DOUBLE) / CAST(sa.n_i AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS confidence_ab,
           floor(CAST(p.n_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
                 / (CAST(sa.n_i AS DOUBLE) * CAST(sb.n_i AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pairs p
    JOIN sup sa ON sa.l_partkey = p.part_a
    JOIN sup sb ON sb.l_partkey = p.part_b
    CROSS JOIN nb
    ORDER BY CAST(p.n_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
             / (CAST(sa.n_i AS DOUBLE) * CAST(sb.n_i AS DOUBLE)) DESC,
             p.part_a ASC, p.part_b ASC
    LIMIT 50
    """,
)
def q_basket_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (Apriori level 2): for part pairs with
    support >= 3 baskets, confidence P(b|a) and lift
    P(a,b)/(P(a)P(b)) — basket_part_pairs' raw co-occurrence turned
    into the rule metrics a recommender or store-layout analysis
    actually consumes. Counts are exact integers (pair support from
    the capped self-join, item supports one reduce, basket total a
    1-row broadcast); confidence and lift are single-division /
    fixed-order double trees, and the top-50 ranks on the RAW lift
    expression (identical IEEE value both engines) with a total
    tie-break — TakeOrderedAndProject, never a global sort. The
    support floor prunes the rule space BEFORE the dimension joins,
    the standard Apriori anti-monotonicity cut."""
    from etl_pyspark_spark.operators.baskets import capped_baskets

    li = read_table(spark, sf_dir, "lineitem")
    # ONE basket aggregate (collect_set dedup fused map-side, the
    # shared hash-rank cap applied inside the row) feeds all three
    # derivations — basket count, item supports, pair supports — via
    # in-row explodes; the old shape paid a distinct + hash-rank
    # window over memberships AND a self-join (identical outputs, see
    # operators/baskets.capped_baskets for the shape and its
    # mega-basket buffer tradeoff)
    baskets = capped_baskets(li, "l_orderkey", "l_partkey", out="ps").transform(
        scoped_family_persist
    )
    nb = F.broadcast(
        baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    )
    sup = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    pairs = (
        baskets.select(F.explode("ps").alias("part_a"), "ps")
        .select("part_a", F.explode("ps").alias("part_b"))
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    sa = sup.select(
        F.col("l_partkey").alias("part_a"), F.col("n_i").alias("na")
    )
    sb = sup.select(
        F.col("l_partkey").alias("part_b"), F.col("n_i").alias("nb_")
    )
    j = pairs.join(sa, "part_a").join(sb, "part_b").crossJoin(nb)
    lift = (
        F.col("n_ab").cast("double") * F.col("n_baskets").cast("double")
    ) / (F.col("na").cast("double") * F.col("nb_").cast("double"))
    return (
        j.orderBy(
            lift.desc(), F.col("part_a").asc(), F.col("part_b").asc()
        )
        .limit(50)
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("bigint").alias("n_both"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb_").cast("bigint").alias("n_b"),
            pround(
                F.col("n_ab").cast("double") / F.col("na").cast("double"),
                6,
            ).alias("confidence_ab"),
            pround(lift, 6).alias("lift"),
        )
    )


@query(
    "pareto_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                 * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM lineitem GROUP BY 1),
    t AS (SELECT CAST(sum(rev_c) AS BIGINT) AS total_c FROM rev),
    c AS (SELECT l_partkey, rev_c,
                 CAST(sum(rev_c) OVER (ORDER BY rev_c DESC,
                                       l_partkey ASC
                                       ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_c
          FROM rev)
    SELECT c.l_partkey,
           c.rev_c AS revenue_cents,
           floor(CAST(c.cum_c AS DOUBLE) / CAST(t.total_c AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS cum_share,
           CASE WHEN CAST(c.cum_c AS DOUBLE) / CAST(t.total_c AS DOUBLE)
                     <= 0.8 THEN 'A'
                WHEN CAST(c.cum_c AS DOUBLE) / CAST(t.total_c AS DOUBLE)
                     <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c, t
    """,
)
def q_pareto_abc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pareto / ABC classification: rank parts by revenue and label
    the heads that carry the first 80% of cumulative revenue 'A',
    the next 15% 'B', the tail 'C' — the inventory-management /
    catalog-curation standard. Per-line revenue quantizes to integer
    cents BEFORE any summation (double sums are order-dependent;
    cent sums are exact), the descending cumulative total runs on
    with_global_cumsum's range-exchange machinery (cent totals
    negated for the descending order, never a SinglePartition
    window), and each class label is one division against the 1-row
    broadcast total. Scale shape: one part-keyed reduce, one range
    exchange — the same cost as any global sort of the part dim."""
    from etl_pyspark_spark.operators.ranks import with_global_cumsum

    li = read_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * F.lit(100.0)
                + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("rev_c")
    ).withColumn("neg_rev", -F.col("rev_c")).transform(scoped_family_persist)
    t = F.broadcast(
        rev.agg(F.sum("rev_c").cast("bigint").alias("total_c"))
    )
    c = with_global_cumsum(
        rev, ["neg_rev", "l_partkey"], "rev_c", "cum_c"
    )
    share = F.col("cum_c").cast("double") / F.col("total_c").cast(
        "double"
    )
    return c.crossJoin(t).select(
        "l_partkey",
        F.col("rev_c").alias("revenue_cents"),
        pround(share, 6).alias("cum_share"),
        F.when(share <= 0.8, F.lit("A"))
        .when(share <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


def _split_leakage_oracle() -> str:
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
    sides AS (SELECT doc_id,
                     CASE WHEN ('0x' || substr(md5('split:'
                                  || CAST(doc_id AS VARCHAR)), 1, 15))
                               ::BIGINT % 100 < 95
                          THEN 'train' ELSE 'test' END AS side
              FROM documents),
    labeled AS (SELECT least(a.side, b.side) AS side_a,
                       greatest(a.side, b.side) AS side_b
                FROM pairs p
                JOIN sides a ON a.doc_id = p.doc_id_a
                JOIN sides b ON b.doc_id = p.doc_id_b)
    SELECT side_a, side_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM labeled GROUP BY 1, 2
    """
    )


@query("split_leakage_audit", oracle=_split_leakage_oracle())
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: how many verified near-duplicate
    pairs STRADDLE the train_test_split_assign boundary — the
    eval-hygiene check benchmark_decontaminate (exact n-gram
    containment vs an external benchmark) cannot do for WITHIN-corpus
    splits, and the reason dedup must run before splitting (a test
    doc whose near-twin is in training inflates every metric).
    Composes two session-shared artifacts: the dedup family's
    verified pair table (paid once by dedup_shared_build) and the
    same salted portable-hash split rule as the assignment query, so
    the audit's marginal cost is two broadcast-joins and a 3-row
    rollup."""
    from etl_pyspark_spark.dedup.shared import verified_pairs
    from etl_pyspark_spark.functions import text as T

    docs = read_table(spark, sf_dir, "documents")
    side = F.when(
        T.portable_hash60(
            F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
        )
        % 100
        < 95,
        F.lit("train"),
    ).otherwise(F.lit("test"))
    sides = F.broadcast(docs.select("doc_id", side.alias("side")))
    pairs = verified_pairs(spark, sf_dir)
    labeled = (
        pairs.join(
            sides.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("side").alias("sa"),
            ),
            "doc_id_a",
        )
        .join(
            sides.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("side").alias("sb"),
            ),
            "doc_id_b",
        )
        .select(
            F.least("sa", "sb").alias("side_a"),
            F.greatest("sa", "sb").alias("side_b"),
        )
    )
    return labeled.groupBy("side_a", "side_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


_IPF_ROUNDS = 3


def _ipf_oracle(rounds: int) -> str:
    """Unrolled IPF twin: micro-unit bigint weights, one row scaling
    and one column scaling per round, each a floor(w_d * ratio + 0.5)
    requantization so cross-cell sums stay exact integers between
    rounds (double margin sums would drift order-dependently)."""
    sql = """
    WITH c0 AS MATERIALIZED (
      SELECT c_nationkey AS nk, c_mktsegment AS seg,
             CAST(count(*) * 1000000 AS BIGINT) AS w
      FROM customer GROUP BY 1, 2),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS tot,
                 CAST(count(DISTINCT nk) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT seg) AS BIGINT) AS n_cols
          FROM c0)"""
    prev = "c0"
    for r in range(1, rounds + 1):
        sql += f""",
    r{r} AS MATERIALIZED (
      SELECT p.nk, p.seg,
             CAST(floor(CAST(p.w AS DOUBLE)
                        * ((CAST(t.tot AS DOUBLE)
                            / CAST(t.n_rows AS DOUBLE))
                           / CAST(s.sw AS DOUBLE)) + 0.5) AS BIGINT)
               AS w
      FROM {prev} p
      JOIN (SELECT nk, CAST(sum(w) AS BIGINT) AS sw
            FROM {prev} GROUP BY nk) s ON s.nk = p.nk, t),
    c{r} AS MATERIALIZED (
      SELECT p.nk, p.seg,
             CAST(floor(CAST(p.w AS DOUBLE)
                        * ((CAST(t.tot AS DOUBLE)
                            / CAST(t.n_cols AS DOUBLE))
                           / CAST(s.sw AS DOUBLE)) + 0.5) AS BIGINT)
               AS w
      FROM r{r} p
      JOIN (SELECT seg, CAST(sum(w) AS BIGINT) AS sw
            FROM r{r} GROUP BY seg) s ON s.seg = p.seg, t)"""
        prev = f"c{r}"
    sql += f"""
    SELECT nk AS c_nationkey, seg AS c_mktsegment,
           w AS weight_micro
    FROM {prev}
    """
    return sql


@query("survey_raking_ipf", oracle=_ipf_oracle(_IPF_ROUNDS))
def q_survey_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking / iterative proportional fitting: calibrate the
    (nation x segment) customer cell counts so BOTH margins match
    uniform targets (total/|nations| per nation, total/|segments| per
    segment) — the census/survey-weighting standard (Deming-Stephan),
    and the same kernel as Sinkhorn matrix scaling. Three unrolled
    rounds of row-then-column scaling; after every scaling the
    weights REQUANTIZE to bigint micro-units (floor(w*ratio + 0.5)),
    so every margin sum between rounds is an exact integer — the
    scaling ratio is then one double division tree over exact
    operands, identical in both engines (free-running double weights
    would accumulate order-dependent margin sums across rounds). At
    scale the cell table is |nations|x|segments| regardless of fact
    rows: one fact reduce, then each round is two keyed reduces and
    two broadcast joins on the tiny cell table — the pagerank_int
    iteration discipline without even needing checkpoints. No
    reference counterpart (SURVEY §2.9 statistics family)."""
    c = read_table(spark, sf_dir, "customer")
    cells = c.groupBy(
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(
        (F.count(F.lit(1)) * 1_000_000).cast("bigint").alias("w")
    ).localCheckpoint(storageLevel=DISK_CKPT)
    t = F.broadcast(
        cells.agg(
            F.sum("w").cast("bigint").alias("tot"),
            F.count_distinct("nk").cast("bigint").alias("n_rows"),
            F.count_distinct("seg").cast("bigint").alias("n_cols"),
        )
    )

    def scale(df: DataFrame, key: str, target_col: str) -> DataFrame:
        margins = df.groupBy(key).agg(
            F.sum("w").cast("bigint").alias("sw")
        )
        ratio = (
            F.col("tot").cast("double") / F.col(target_col).cast("double")
        ) / F.col("sw").cast("double")
        return (
            df.join(F.broadcast(margins), key)
            .crossJoin(t)
            .select(
                "nk",
                "seg",
                F.floor(F.col("w").cast("double") * ratio + F.lit(0.5))
                .cast("bigint")
                .alias("w"),
            )
        )

    w = cells
    for _ in range(_IPF_ROUNDS):
        w = scale(w, "nk", "n_rows")
        # Truncate lineage once per round: each scale() references its
        # input TWICE (margin aggregation + the join back), so without
        # a checkpoint the physical plan doubles per scaling step —
        # 2^(2*rounds) copies of the base subtree, re-planned AND
        # re-executed (measured: a 7400-line plan and 3.3 s at sf0.1
        # for a 125-row table). The cell table is |nations|x|segments|
        # regardless of fact rows, so the per-round checkpoint is a
        # constant-size materialization at any scale.
        w = scale(w, "seg", "n_cols").localCheckpoint(
            storageLevel=DISK_CKPT
        )
    return w.select(
        F.col("nk").alias("c_nationkey"),
        F.col("seg").alias("c_mktsegment"),
        F.col("w").alias("weight_micro"),
    )


@query(
    "dau_mau_stickiness",
    oracle=f"""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events WHERE ts IS NOT NULL),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
    mau AS (SELECT d.day, count(DISTINCT u.user_id) AS mau
            FROM days d JOIN ud u
              ON u.day <= d.day AND u.day > d.day - INTERVAL 28 DAY
            GROUP BY d.day)
    SELECT d.day,
           CAST(a.dau AS BIGINT) AS dau,
           CAST(m.mau AS BIGINT) AS mau,
           {sql_pround(
        "CAST(a.dau AS DOUBLE) / CAST(m.mau AS DOUBLE)", 6
    )} AS stickiness
    FROM days d JOIN dau a USING (day) JOIN mau m USING (day)
    """,
)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the product-health staple: daily
    actives over trailing-28-day actives. Sliding-window DISTINCT
    cannot ride a window frame (distinct doesn't decompose), so the
    standard exact form is the one used here: reduce to the DISTINCT
    (user, day) table first (the one fact-table pass), then a
    bounded range join of that table against the day spine — work is
    |active user-days| x O(28), independent of raw event volume, and
    the join is the interval_overlap_join shape Spark executes as a
    keyed-broadcast range probe at this dimensionality. At 100 TB the
    user-day table is the materialized activity rollup every growth
    stack maintains anyway."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct().transform(scoped_family_persist)
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    d_spine = days.select(F.col("day").alias("dday"))
    mau = (
        d_spine.join(
            ud,
            (F.col("day") <= F.col("dday"))
            & (F.col("day") > F.date_sub(F.col("dday"), 28)),
        )
        .groupBy("dday")
        .agg(F.count_distinct("user_id").alias("mau"))
        .withColumnRenamed("dday", "day")
    )
    return (
        days.join(dau, "day")
        .join(mau, "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("mau").cast("bigint").alias("mau"),
            pround(
                F.col("dau").cast("double") / F.col("mau").cast("double"),
                6,
            ).alias("stickiness"),
        )
    )


@query(
    "new_returning_daily",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events WHERE ts IS NOT NULL),
    first_seen AS (SELECT user_id, min(day) AS first_day FROM ud
                   GROUP BY user_id)
    SELECT u.day,
           CAST(sum(CASE WHEN u.day = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN u.day > f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning
    FROM ud u JOIN first_seen f USING (user_id)
    GROUP BY u.day
    """,
)
def q_new_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New vs returning active users per day — the acquisition/
    retention split on every growth dashboard: a user's first active
    day classifies them 'new' exactly once, 'returning' every active
    day after. First-seen is one min-reduce on the user axis (the
    heaps_law first-occurrence pattern on users instead of tokens)
    joined back to the distinct user-day table; both shuffles are
    keyed on user_id and map-side combinable."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct().transform(scoped_family_persist)
    first_seen = ud.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    return (
        ud.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("n_new"),
            F.sum((F.col("day") > F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("n_returning"),
        )
    )


@query(
    "activity_frequency_histogram",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events WHERE ts IS NOT NULL),
    per_user AS (SELECT user_id, count(*) AS active_days FROM ud
                 GROUP BY user_id)
    SELECT CAST(active_days AS BIGINT) AS active_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY active_days
    """,
)
def q_activity_frequency_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The power-user curve (L30 histogram): how many users were
    active on exactly k distinct days — the engagement-depth
    distribution whose right-lean distinguishes a habit product from
    a drive-by one. Two keyed reduces over the distinct user-day
    table; the histogram axis is bounded by the calendar, the
    user axis never leaves its hash partitioning."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    per_user = ud.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("active_days")
    )
    return per_user.groupBy("active_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    ).select(
        F.col("active_days").cast("bigint").alias("active_days"),
        "n_users",
    )


@query(
    "order_cohort_ltv",
    oracle=f"""
    WITH first_order AS (
      SELECT o_custkey, CAST(min(year(o_orderdate)) AS INT) AS cohort
      FROM orders GROUP BY o_custkey),
    rev AS (
      SELECT f.cohort,
             CAST(year(o.o_orderdate) AS INT) - f.cohort AS age,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS rev_c,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active
      FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2),
    sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
           FROM first_order GROUP BY cohort),
    c AS (SELECT r.cohort, r.age, r.n_active, s.cohort_size,
                 CAST(sum(r.rev_c) OVER (PARTITION BY r.cohort
                                         ORDER BY r.age
                                         ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_rev_c
          FROM rev r JOIN sz s USING (cohort))
    SELECT cohort, age, n_active, cohort_size,
           {sql_pround(
        "CAST(cum_rev_c AS DOUBLE) / 100.0"
        " / CAST(cohort_size AS DOUBLE)", 6
    )} AS ltv_per_customer
    FROM c
    """,
)
def q_order_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    year, cumulative revenue per cohort member at each cohort age —
    the LTV table every subscription/commerce business steers by
    (cohort_retention counts WHO comes back; this prices what they
    bring). Revenue quantizes to integer cents before any sum; the
    cumulative runs in a window PARTITIONED by cohort whose input is
    the |cohorts| x |ages| rollup (bounded by the calendar on both
    axes, never fact rows); the final per-member division is one
    double op. First-order assignment is a min-reduce on the
    customer axis — the first-occurrence pattern again."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    first_order = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("int").alias("cohort")
    )
    rev = (
        o.join(first_order, "o_custkey")
        .groupBy(
            "cohort",
            (F.year("o_orderdate").cast("int") - F.col("cohort")).alias(
                "age"
            ),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("rev_c"),
            F.count_distinct("o_custkey").cast("bigint").alias(
                "n_active"
            ),
        )
    )
    sz = first_order.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = rev.join(F.broadcast(sz), "cohort").select(
        "cohort",
        "age",
        "n_active",
        "cohort_size",
        F.sum("rev_c").over(w).cast("bigint").alias("cum_rev_c"),
    )
    return c.select(
        "cohort",
        "age",
        "n_active",
        "cohort_size",
        pround(
            F.col("cum_rev_c").cast("double")
            / F.lit(100.0)
            / F.col("cohort_size").cast("double"),
            6,
        ).alias("ltv_per_customer"),
    )


@query(
    "seasonal_residual_anomaly",
    oracle=f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n
               FROM events WHERE ts IS NOT NULL
                 AND event_type = 'click'
               GROUP BY 1),
    dw AS (SELECT day, n, dayofweek(day) AS dow FROM d),
    m AS (SELECT dow,
                 CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS expected
          FROM dw GROUP BY dow),
    r AS (SELECT dw.day, dw.n, m.expected,
                 abs(CAST(dw.n AS DOUBLE) - m.expected) AS absresid
          FROM dw JOIN m USING (dow)),
    med AS (SELECT min(absresid) AS mad FROM (
              SELECT absresid,
                     sum(1) OVER (ORDER BY absresid
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                     count(*) OVER () AS tot
              FROM r)
            WHERE 2 * cum >= tot)
    SELECT r.day, r.n AS n_events,
           {sql_pround("r.expected", 6)} AS expected,
           {sql_pround("CAST(r.n AS DOUBLE) - r.expected", 6)}
             AS residual,
           (r.absresid > 3 * med.mad) AS is_anomaly
    FROM r, med
    """,
)
def q_seasonal_residual_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonality-aware anomaly detection (STL-lite): daily click
    counts deseasonalized by their day-of-week mean, then flagged
    where the residual exceeds 3x the MAD — the robust alerting rule
    that survives both weekly rhythm (which a raw threshold trips
    on) and outlier contamination (which a stddev rule trips on).
    Composes the engine's established exact pieces: integer day
    counts, one double division per weekday mean, and the MAD as a
    DISCRETE median (2*cum >= tot) over the |days|-bounded residual
    axis via with_global_cumsum — never a SinglePartition window.
    anomaly_daily_counts is the unseasonal sibling; this is the one
    you can page on."""
    from etl_pyspark_spark.operators.ranks import with_global_cumsum

    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & (F.col("event_type") == "click")
    )
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    dw = d.select("day", "n", F.dayofweek("day").alias("dow"))
    m = dw.groupBy("dow").agg(
        (
            F.sum("n").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("expected")
    )
    r = dw.join(F.broadcast(m), "dow").select(
        "day",
        "n",
        "expected",
        F.abs(F.col("n").cast("double") - F.col("expected")).alias(
            "absresid"
        ),
    ).withColumn("one", F.lit(1)).transform(scoped_family_persist)
    c = with_global_cumsum(r, ["absresid", "day"], "one", "cum")
    med = F.broadcast(
        c.crossJoin(
            F.broadcast(
                r.agg(F.count(F.lit(1)).cast("bigint").alias("tot"))
            )
        )
        .where(2 * F.col("cum") >= F.col("tot"))
        .agg(F.min("absresid").alias("mad"))
    )
    return r.crossJoin(med).select(
        "day",
        F.col("n").alias("n_events"),
        pround(F.col("expected"), 6).alias("expected"),
        pround(
            F.col("n").cast("double") - F.col("expected"), 6
        ).alias("residual"),
        (F.col("absresid") > 3 * F.col("mad")).alias("is_anomaly"),
    )


@query(
    "conversion_wilson_ci",
    oracle=f"""
    WITH per_user AS (SELECT user_id,
                             max(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) AS y
                      FROM events GROUP BY user_id),
    seg AS (SELECT user_id % 5 AS segment,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS k
            FROM per_user GROUP BY 1)
    SELECT CAST(segment AS INT) AS segment, n, k,
           {sql_pround("CAST(k AS DOUBLE) / CAST(n AS DOUBLE)", 9)}
             AS p_hat,
           {sql_pround(
        "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"
        " + 1.959964 * 1.959964 / (2 * CAST(n AS DOUBLE))"
        " - 1.959964 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
        "   * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
        "   / CAST(n AS DOUBLE)"
        "   + 1.959964 * 1.959964"
        "     / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
        " / (1 + 1.959964 * 1.959964 / CAST(n AS DOUBLE))", 9
    )} AS wilson_lo,
           {sql_pround(
        "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"
        " + 1.959964 * 1.959964 / (2 * CAST(n AS DOUBLE))"
        " + 1.959964 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
        "   * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
        "   / CAST(n AS DOUBLE)"
        "   + 1.959964 * 1.959964"
        "     / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
        " / (1 + 1.959964 * 1.959964 / CAST(n AS DOUBLE))", 9
    )} AS wilson_hi
    FROM seg
    """,
)
def q_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence intervals on per-segment conversion —
    the interval every honest dashboard should draw instead of a
    bare proportion (Wilson stays inside [0,1] and behaves at small
    n where the Wald interval collapses). Segments are a
    deterministic user_id%5 partition; counts are exact bigints; the
    Wilson bounds are one fixed-order double tree per segment with
    the z=1.959964 literal shared across engines (inverse-normal is
    not cross-engine computable) and a single sqrt (correctly
    rounded identically). One per-user reduce, one 5-group fold."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("y")
    )
    seg = per_user.groupBy(
        (F.col("user_id") % 5).cast("int").alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("k"),
    )
    z = F.lit(1.959964)
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    half = z * F.sqrt(
        p * (F.lit(1) - p) / nd + z * z / (F.lit(4) * nd * nd)
    )
    center = p + z * z / (F.lit(2) * nd)
    denom = F.lit(1) + z * z / nd
    return seg.select(
        "segment",
        "n",
        "k",
        pround(p, 9).alias("p_hat"),
        pround((center - half) / denom, 9).alias("wilson_lo"),
        pround((center + half) / denom, 9).alias("wilson_hi"),
    )


@query(
    "forecast_backtest_mape",
    oracle=f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n
               FROM events WHERE ts IS NOT NULL GROUP BY 1),
    f AS (SELECT a.day, a.n AS actual, p.n AS forecast
          FROM d a JOIN d p ON p.day = a.day - INTERVAL 7 DAY),
    ape AS (SELECT day, actual, forecast,
                   CAST(floor(abs(CAST(actual AS DOUBLE)
                                  - CAST(forecast AS DOUBLE))
                              / CAST(actual AS DOUBLE)
                              * 1000000000.0 + 0.5) AS BIGINT)
                     AS ape_n
            FROM f WHERE actual > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           {sql_pround(
        "CAST(sum(ape_n) AS DOUBLE) / count(*) / 1000000000.0", 9
    )} AS mape,
           {sql_pround(
        "CAST(max(ape_n) AS DOUBLE) / 1000000000.0", 9
    )} AS worst_ape
    FROM ape
    """,
)
def q_forecast_backtest_mape(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast backtest: score the seasonal-naive forecast
    (same weekday last week) against daily actuals with MAPE and the
    worst single-day error — the evaluation loop that keeps any
    forecasting pipeline honest, and the baseline every fancier
    model must beat (if it can't beat naive-seasonal, ship
    naive-seasonal). The seven-day self-join is the date-spine
    pattern on the |days|-bounded rollup; each APE quantizes to a
    1e-9 integer before the cross-day sum so the mean is
    order-free."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).transform(scoped_family_persist)
    a = d.select(F.col("day"), F.col("n").alias("actual"))
    p = d.select(
        F.date_add(F.col("day"), 7).alias("day"),
        F.col("n").alias("forecast"),
    )
    f = a.join(p, "day").where(F.col("actual") > 0)
    ape_n = F.floor(
        F.abs(
            F.col("actual").cast("double")
            - F.col("forecast").cast("double")
        )
        / F.col("actual").cast("double")
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    return f.select(ape_n.alias("ape_n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        pround(
            F.sum("ape_n").cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000000.0),
            9,
        ).alias("mape"),
        pround(
            F.max("ape_n").cast("double") / F.lit(1000000000.0), 9
        ).alias("worst_ape"),
    )


@query(
    "tv_distance_drift",
    oracle=f"""
    WITH lab AS (SELECT event_type,
                        CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                             THEN 'a' ELSE 'b' END AS half
                 FROM events WHERE ts IS NOT NULL),
    c AS (SELECT event_type,
                 CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END)
                      AS BIGINT) AS na,
                 CAST(sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END)
                      AS BIGINT) AS nb
          FROM lab GROUP BY event_type),
    t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
                 CAST(sum(nb) AS BIGINT) AS tb FROM c),
    s AS (SELECT CAST(sum(abs(CAST(c.na AS DECIMAL(38,0)) * t.tb
                              - CAST(c.nb AS DECIMAL(38,0)) * t.ta))
                      AS DECIMAL(38,0)) AS num,
                 min(t.ta) AS ta, min(t.tb) AS tb,
                 CAST(count(*) AS BIGINT) AS n_categories
          FROM c, t)
    SELECT n_categories, ta AS n_first_half, tb AS n_second_half,
           {sql_pround(
        "CAST(num AS DOUBLE)"
        " / (2 * CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))", 9
    )} AS tv_distance
    FROM s
    """,
)
def q_tv_distance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the first- and second-half
    event-type distributions — the drift divergence with NO
    logarithm (KL/JS need cross-engine log, which doesn't exist;
    chisq_event_type_drift weights by expected counts, TV is the
    plain L1/2 with the 'largest possible probability difference of
    any event' reading). Integer cross-products keep the sum exact:
    TV = Σ|na_i*tb - nb_i*ta| / (2*ta*tb), accumulated as
    DECIMAL(38,0) (the ks_two_sample trick applied to categories
    instead of a CDF), ONE double division at the end. One 5-group
    reduce, two 1-row folds."""
    cut = F.lit("2024-01-16").cast("timestamp")
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    c = ev.groupBy("event_type").agg(
        F.sum((F.col("ts") < cut).cast("int")).cast("bigint").alias("na"),
        F.sum((F.col("ts") >= cut).cast("int"))
        .cast("bigint")
        .alias("nb"),
    ).transform(scoped_family_persist)
    t = F.broadcast(
        c.agg(
            F.sum("na").cast("bigint").alias("ta"),
            F.sum("nb").cast("bigint").alias("tb"),
        )
    )
    s = c.crossJoin(t).agg(
        F.sum(
            F.abs(
                F.col("na").cast("decimal(38,0)") * F.col("tb")
                - F.col("nb").cast("decimal(38,0)") * F.col("ta")
            )
        )
        .cast("decimal(38,0)")
        .alias("num"),
        F.min("ta").alias("ta"),
        F.min("tb").alias("tb"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
    )
    return s.select(
        "n_categories",
        F.col("ta").alias("n_first_half"),
        F.col("tb").alias("n_second_half"),
        pround(
            F.col("num").cast("double")
            / (
                F.lit(2)
                * F.col("ta").cast("double")
                * F.col("tb").cast("double")
            ),
            9,
        ).alias("tv_distance"),
    )


def _xcorr_oracle(max_lag: int) -> str:
    return f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(sum(CASE WHEN event_type = 'click'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS x,
                      CAST(sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS y
               FROM events WHERE ts IS NOT NULL GROUP BY 1),
    lags AS (SELECT CAST(unnest(range(0, {max_lag + 1})) AS INT)
               AS lag),
    p AS (SELECT l.lag, a.x, b.y
          FROM lags l
          JOIN d a ON TRUE
          JOIN d b ON b.day = a.day + CAST(l.lag AS INT)),
    g AS (SELECT lag,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM p GROUP BY lag)
    SELECT lag, n,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1000000000.0 + 0.5) / 1000000000.0 AS pearson_r
    FROM g
    """


@query("lagged_cross_correlation", oracle=_xcorr_oracle(7))
def q_lagged_cross_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lead-lag discovery: Pearson correlation between daily clicks
    and purchases LAGGED 0-7 days — does engagement predict
    conversion, and at what delay (the answer is the lag with max
    |r|; marketing mix models and capacity planners both start
    here). The series pair table at each lag comes from one
    date-spine shift-join of the |days|-bounded rollup (8 lags x
    ~30 days = a few hundred rows from ONE fact pass); everything
    else is integer sufficient statistics per lag and a single
    fixed-order double tree with one sqrt — revenue_autocorrelation's
    machinery pointed across two series instead of one."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("bigint")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("y"),
    ).localCheckpoint(storageLevel=DISK_CKPT)
    lags = F.broadcast(
        spark.range(0, 8).select(F.col("id").cast("int").alias("lag"))
    )
    a = d.select("day", "x")
    b = d.select(F.col("day").alias("bday"), "y")
    p = (
        lags.crossJoin(a)
        .join(
            b,
            F.col("bday")
            == F.expr("date_add(day, lag)"),
        )
    )
    g = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            nd * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return g.select(
        "lag", "n", pround(num / den, 9).alias("pearson_r")
    )


