"""Query family: eval_stats (mechanically split from registry.py — see core)."""

from __future__ import annotations

from etl_pyspark_spark.checkpoint import scoped_persist

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
from etl_pyspark_spark.queries.text_analysis import (
    _STOP_HITS_SQL,
    _WS_TOKENS_SQL,
    _ngram_sql,
    _sql_str_list,
)
from etl_pyspark_spark.queries._shared import _ORACLE_SF
from etl_pyspark_spark.sources.io import read_parquet
from etl_pyspark_spark.sources.layouts import (
    deflate_sizes_dir,
    ensure_deflate_sizes,
    ensure_skipping_lineitem,
    skipping_lineitem_dir,
)
from etl_pyspark_spark.queries.semdedup_tokenizer import _EQUIDEPTH_BINS

# ---------------------------------------------------------------------------
# Evaluation / distribution statistics (SURVEY §2.9 growth: the
# exact-order-statistics machinery applied to model-eval and
# data-drift gates a training pipeline runs per snapshot)
# ---------------------------------------------------------------------------

_AUC_POS = "('purchase', 'signup')"


@query(
    "roc_auc_exact",
    oracle=f"""
    WITH d AS (SELECT value, count(*) AS cnt,
                      sum(CASE WHEN event_type IN {_AUC_POS}
                               THEN 1 ELSE 0 END) AS pos
               FROM events WHERE value IS NOT NULL GROUP BY value),
    c AS (SELECT value, cnt, pos,
                 CAST(sum(cnt) OVER (ORDER BY value
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum
          FROM d),
    g AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                 CAST(sum(cnt) - sum(pos) AS BIGINT) AS n,
                 sum(CAST(pos * (2 * cum - cnt + 1) AS DECIMAL(38,0))) AS s
          FROM c)
    SELECT p AS n_pos, n AS n_neg,
           {sql_pround(
               "(CAST(s AS DOUBLE) - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE)"
               " + 1.0)) / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE))", 9
           )} AS auc
    FROM g
    """,
)
def q_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a score column against a binary label via the
    tie-aware Mann-Whitney rank-sum identity — the eval gate a
    quality-classifier pipeline runs on every corpus snapshot, as one
    distributed aggregate instead of a sort-and-sweep. AUC =
    (R_pos - P(P+1)/2) / (P*N) where R_pos is the sum of AVERAGE
    ranks of positives; per distinct score v with count c and
    inclusive cumulative count m, 2*avgrank = 2m - c + 1, so the
    whole statistic reduces to one integer sum over DISTINCT scores
    (reduce-first: the fixture's 10k events hold 6.6k distinct
    values; ties are the reason avgrank matters). Cumulative counts
    come from operators/ranks.with_global_cumsum (range exchange +
    per-partition-id window — never SinglePartition); products
    accumulate as DECIMAL(38,0) so the sum is exact and
    overflow-safe at 100 TB row counts, then ONE double expression
    at the end (IEEE ops identical in both engines, pround(9)).
    No reference counterpart (SURVEY §2.9 eval-gate growth)."""
    from etl_pyspark_spark.operators.ranks import with_global_cumsum

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    pos_types = ("purchase", "signup")
    d = ev.groupBy("value").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.col("event_type").isin(*pos_types).cast("int")
        ).alias("pos"),
    )
    c = with_global_cumsum(d, ["value"], "cnt", "cum")
    g = c.agg(
        F.sum("pos").cast("bigint").alias("p"),
        (F.sum("cnt") - F.sum("pos")).cast("bigint").alias("n"),
        F.sum(
            (
                F.col("pos")
                * (2 * F.col("cum") - F.col("cnt") + 1)
            ).cast("decimal(38,0)")
        ).alias("s"),
    )
    pd_ = F.col("p").cast("double")
    nd = F.col("n").cast("double")
    auc = (F.col("s").cast("double") - pd_ * (pd_ + 1.0)) / (
        2.0 * pd_ * nd
    )
    return g.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        pround(auc, 9).alias("auc"),
    )


@query(
    "ks_two_sample",
    oracle=f"""
    WITH d AS (SELECT value,
                      sum(CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END) AS ca,
                      sum(CASE WHEN event_type = 'view'
                               THEN 1 ELSE 0 END) AS cb
               FROM events WHERE value IS NOT NULL
               GROUP BY value HAVING ca + cb > 0),
    c AS (SELECT value,
                 CAST(sum(ca) OVER (ORDER BY value
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_a,
                 CAST(sum(cb) OVER (ORDER BY value
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_b
          FROM d),
    t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb FROM d),
    s AS (SELECT value,
                 abs(CAST(cum_a AS DECIMAL(38,0)) * nb
                     - CAST(cum_b AS DECIMAL(38,0)) * na) AS num,
                 na, nb
          FROM c, t)
    SELECT {sql_pround(
        "CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))", 9
    )} AS ks_d,
           CAST(value AS DOUBLE) AS at_value,
           na AS n_a, nb AS n_b
    FROM s ORDER BY num DESC, value ASC LIMIT 1
    """,
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic (max CDF gap)
    between two event populations — the distribution-drift gate a
    corpus refresh runs before retraining. Reduce-first: both
    empirical CDFs live on the DISTINCT value axis; BOTH cumulative
    counts come from one pass of with_global_cumsum_multi (one range
    exchange, two per-partition running sums — never
    SinglePartition). The gap is kept as the INTEGER cross-product
    |cum_a*n_b - cum_b*n_a| (DECIMAL(38,0), overflow-safe, no
    division inside the argmax) so the max and its arg are exact;
    the single division to D happens once on the 1-row result.
    Argmax is a TakeOrderedAndProject (num DESC, value ASC), never a
    global sort. No reference counterpart (SURVEY §2.9)."""
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
        )
        .filter(F.col("ca") + F.col("cb") > 0)
        # read by the cumulative pass and the totals aggregate
        .transform(scoped_persist)
    )
    c = with_global_cumsum_multi(d, ["value"], ["ca", "cb"])
    tot = F.broadcast(
        d.agg(
            F.sum("ca").cast("bigint").alias("na"),
            F.sum("cb").cast("bigint").alias("nb"),
        )
    )
    s = c.crossJoin(tot).select(
        "value",
        F.abs(
            F.col("cum_ca").cast("decimal(38,0)") * F.col("nb")
            - F.col("cum_cb").cast("decimal(38,0)") * F.col("na")
        ).alias("num"),
        "na",
        "nb",
    )
    return (
        s.orderBy(F.col("num").desc(), F.col("value").asc())
        .limit(1)
        .select(
            pround(
                F.col("num").cast("double")
                / (
                    F.col("na").cast("double")
                    * F.col("nb").cast("double")
                ),
                9,
            ).alias("ks_d"),
            F.col("value").cast("double").alias("at_value"),
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
        )
    )


@query(
    "weighted_median_groups",
    oracle="""
    WITH d AS (SELECT l_returnflag AS flag, l_quantity AS qty,
                      sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS w
               FROM lineitem GROUP BY 1, 2),
    c AS (SELECT flag, qty, w,
                 sum(w) OVER (PARTITION BY flag ORDER BY qty
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(w) OVER (PARTITION BY flag) AS tot
          FROM d)
    SELECT flag, CAST(min(qty) AS DOUBLE) AS weighted_median_qty,
           CAST(min(tot) AS DOUBLE) AS total_weight
    FROM c WHERE 2 * cum >= tot GROUP BY flag
    """,
)
def q_weighted_median_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group WEIGHTED median: the smallest quantity at which
    cumulative revenue weight reaches half the group's total — the
    'median unit size by value' statistic plain medians
    (grouped_median_udaf) can't give. Reduce-first: cumulative
    weights run over DISTINCT (group, qty) pairs (lineitem's 50
    distinct quantities per flag, not 60k rows), windows partition BY
    GROUP (parallel across groups, never SinglePartition). Weights
    accumulate as DECIMAL(18,6) so the running sum is exact and
    order-independent; the half-total test is the integer-safe
    ``2*cum >= tot`` (doubling a decimal is exact — no division,
    no .5 threshold drift)."""
    li = read_table(spark, sf_dir, "lineitem")
    d = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("qty"),
    ).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,6)")
        ).alias("w")
    )
    from pyspark.sql.window import Window as W

    wc = (
        W.partitionBy("flag")
        .orderBy("qty")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy("flag")
    c = d.select(
        "flag",
        "qty",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("flag")
        .agg(
            F.min("qty").cast("double").alias("weighted_median_qty"),
            F.min("tot").cast("double").alias("total_weight"),
        )
    )


def _token_class_oracle() -> str:
    ws = _WS_TOKENS_SQL.format(col="text")
    return f"""
    WITH t AS (SELECT (lang = 'en') AS is_en, unnest({ws}) AS token
               FROM documents WHERE text IS NOT NULL),
    cnt AS (SELECT token,
                   sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS a,
                   sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS b
            FROM t GROUP BY token),
    tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
                   CAST(sum(b) AS BIGINT) AS tb FROM cnt)
    SELECT token, CAST(a AS BIGINT) AS cnt_en,
           CAST(b AS BIGINT) AS cnt_other,
           {sql_pround(
               "((CAST(a AS DOUBLE) + 0.5) / (CAST(ta - a AS DOUBLE) + 0.5))"
               " / ((CAST(b AS DOUBLE) + 0.5)"
               " / (CAST(tb - b AS DOUBLE) + 0.5))", 6
           )} AS assoc
    FROM cnt, tot
    WHERE a + b >= 20
    ORDER BY assoc DESC, token ASC LIMIT 40
    """


@query("token_class_association", oracle=_token_class_oracle())
def q_token_class_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-class keyness: which tokens mark the 'en' slice of the
    corpus vs everything else — the feature-selection statistic
    behind lightweight quality/domain classifiers (Monroe et al.'s
    'Fightin' Words' odds-ratio form, Haldane-corrected with +0.5 so
    zero counts stay finite). Log-free by the engine's standard
    idiom (cross-engine libm drift): the odds ratio itself is
    reported — the same ranking as log-odds since log is monotone —
    computed from INTEGER token counts via three correctly-rounded
    IEEE divisions both engines evaluate bit-identically, then
    pround(6). One token-count shuffle; class totals ride a
    broadcast 1-row aggregate; top-40 is TakeOrderedAndProject with
    a total tiebreak. No reference counterpart (SURVEY §2.9)."""
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        (F.col("lang") == "en").alias("is_en"),
        F.explode(ws_tokens(F.col("text"))).alias("token"),
    )
    cnt = toks.groupBy("token").agg(
        F.sum(F.col("is_en").cast("int")).alias("a"),
        F.sum((~F.col("is_en")).cast("int")).alias("b"),
    ).transform(scoped_persist)  # read by the totals aggregate and the keyness probe
    tot = F.broadcast(
        cnt.agg(
            F.sum("a").cast("bigint").alias("ta"),
            F.sum("b").cast("bigint").alias("tb"),
        )
    )
    ad = F.col("a").cast("double")
    bd = F.col("b").cast("double")
    assoc = ((ad + 0.5) / ((F.col("ta") - F.col("a")).cast("double") + 0.5)) / (
        (bd + 0.5) / ((F.col("tb") - F.col("b")).cast("double") + 0.5)
    )
    return (
        cnt.filter(F.col("a") + F.col("b") >= 20)
        .crossJoin(tot)
        .select(
            "token",
            F.col("a").cast("bigint").alias("cnt_en"),
            F.col("b").cast("bigint").alias("cnt_other"),
            pround(assoc, 6).alias("assoc"),
        )
        .orderBy(F.col("assoc").desc(), F.col("token").asc())
        .limit(40)
    )


@query(
    "gini_customer_spend",
    oracle=f"""
    WITH s AS (SELECT o_custkey,
                      sum(CAST(o_totalprice AS DECIMAL(18,6))) AS x
               FROM orders GROUP BY 1),
    r AS (SELECT x, CAST(x * 1000000 AS BIGINT) AS xi,
                 row_number() OVER (ORDER BY x, o_custkey) AS rnk
          FROM s),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS DOUBLE) AS sx,
                 CAST(sum(xi) AS BIGINT) AS sxi,
                 sum(CAST(rnk AS DECIMAL(19,0))
                     * CAST(xi AS DECIMAL(19,0))) AS srx
          FROM r)
    SELECT n AS n_customers, sx AS total_spend,
           {sql_pround(
               "2.0 * CAST(srx AS DOUBLE)"
               " / (CAST(n AS DOUBLE) * CAST(sxi AS DOUBLE))"
               " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)", 9
           )} AS gini
    FROM g
    """,
)
def q_gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer spend concentration — the
    inequality/skew summary a sampling-quota planner reads before
    assigning per-source budgets (a corpus whose weight is
    Gini-0.9-concentrated in a few sources needs capping;
    source_quota_cap is the enforcement half). G = 2*sum(r_i*x_i) /
    (n*sum(x)) - (n+1)/n over spend sorted ascending: the per-row
    global rank comes from operators/ranks.with_global_rank (range
    exchange + literal per-partition offsets, never a SinglePartition
    window — THE classic Gini scale-killer). Spend is micro-unit-quantized
    (x*1e6 as BIGINT, exact since x is DECIMAL(18,6)) so rank*spend
    products accumulate as DECIMAL(19,0)*DECIMAL(19,0) ->
    DECIMAL(38,0): exact and overflow-safe at 100 TB customer
    counts; ONE double expression at the end (correctly-rounded IEEE
    in both engines), pround(9). No reference counterpart."""
    from etl_pyspark_spark.operators.ranks import with_global_rank

    orders = read_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(
            F.col("o_totalprice").cast("decimal(18,6)")
        ).alias("x")
    )
    spend = spend.withColumn(
        "xi", (F.col("x") * 1000000).cast("bigint")
    )
    ranked = with_global_rank(spend, ["x", "o_custkey"], "rnk")
    g = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("xi").cast("bigint").alias("sxi"),
        F.sum(
            F.col("rnk").cast("decimal(19,0)")
            * F.col("xi").cast("decimal(19,0)")
        ).alias("srx"),
    )
    nd = F.col("n").cast("double")
    gini = 2.0 * F.col("srx").cast("double") / (
        nd * F.col("sxi").cast("double")
    ) - (nd + 1.0) / nd
    return g.select(
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_spend"),
        pround(gini, 9).alias("gini"),
    )


_LANGID_CASE_CTE = f"""
      SELECT doc_id, lang AS meta,
        {_STOP_HITS_SQL.format(col='text', stops=_sql_str_list(['the','and','of','to','a','in','is','that']))} AS sc_en,
        {_STOP_HITS_SQL.format(col='text', stops=_sql_str_list(['der','die','das','und','ist','nicht','ein','zu']))} AS sc_de,
        {_STOP_HITS_SQL.format(col='text', stops=_sql_str_list(['el','la','de','que','y','en','un','es']))} AS sc_es,
        {_STOP_HITS_SQL.format(col='text', stops=_sql_str_list(['le','la','et','les','des','un','une','est']))} AS sc_fr
      FROM documents
"""


@query(
    "langid_agreement_kappa",
    oracle=f"""
    WITH s AS ({_LANGID_CASE_CTE}),
    p AS (SELECT meta,
           CASE WHEN sc_en = greatest(sc_en, sc_de, sc_es, sc_fr) AND sc_en > 0 THEN 'en'
                WHEN sc_de = greatest(sc_en, sc_de, sc_es, sc_fr) AND sc_de > 0 THEN 'de'
                WHEN sc_es = greatest(sc_en, sc_de, sc_es, sc_fr) AND sc_es > 0 THEN 'es'
                WHEN sc_fr = greatest(sc_en, sc_de, sc_es, sc_fr) AND sc_fr > 0 THEN 'fr'
                ELSE 'und' END AS pred
          FROM s),
    conf AS (SELECT meta, pred, count(*) AS cnt FROM p GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN meta = pred THEN cnt ELSE 0 END)
                        AS BIGINT) AS diag
            FROM conf),
    r AS (SELECT meta AS cls, CAST(sum(cnt) AS BIGINT) AS rt
          FROM conf GROUP BY 1),
    c AS (SELECT pred AS cls, CAST(sum(cnt) AS BIGINT) AS ct
          FROM conf GROUP BY 1),
    rc AS (SELECT sum(CAST(rt AS DECIMAL(19,0)) * CAST(ct AS DECIMAL(19,0)))
                    AS src
           FROM r JOIN c USING (cls))
    SELECT n AS n_docs, diag AS n_agree,
           {sql_pround("CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)", 9)} AS po,
           {sql_pround(
               "CAST(src AS DOUBLE)"
               " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))", 9
           )} AS pe,
           {sql_pround(
               "CAST(CAST(diag AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))"
               " - src AS DOUBLE)"
               " / CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))"
               " - src AS DOUBLE)", 9
           )} AS kappa
    FROM tot, rc
    """,
)
def q_langid_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the engine's heuristic language-ID
    (functions/text.language_id — the text_language_id query's
    classifier) and the corpus's metadata label — the
    annotator-agreement gate that tells a pipeline whether its cheap
    classifier is trustworthy enough to route documents. Chance
    agreement uses the integer identity kappa = (diag*n - sum(r_k*c_k))
    / (n^2 - sum(r_k*c_k)): confusion cells, row/column marginals and
    their products all stay integers (DECIMAL(19,0)*DECIMAL(19,0)
    products, overflow-safe), with ONE double division at the end.
    Shape at scale: the corpus reduces to the |classes|^2 confusion
    table first; marginal products ride a |classes|-row join."""
    from etl_pyspark_spark.functions import text as T
    from etl_pyspark_spark.sources.io import spread

    docs = spread(read_table(spark, sf_dir, "documents"))
    staged = docs.select(
        F.col("lang").alias("meta"),
        "text",
        T.ws_tokens(F.lower(F.col("text"))).alias("__ltoks"),
    )
    p = staged.select(
        "meta",
        T.language_id(F.col("text"), ltoks=F.col("__ltoks")).alias("pred"),
    )
    conf = p.groupBy("meta", "pred").agg(
        F.count(F.lit(1)).alias("cnt")
    ).transform(scoped_persist)  # read by the totals and both marginal rollups
    tot = conf.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("meta") == F.col("pred"), F.col("cnt")).otherwise(0)
        )
        .cast("bigint")
        .alias("diag"),
    )
    r = conf.groupBy(F.col("meta").alias("cls")).agg(
        F.sum("cnt").cast("bigint").alias("rt")
    )
    c = conf.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("cnt").cast("bigint").alias("ct")
    )
    rc = r.join(c, "cls").agg(
        F.sum(
            F.col("rt").cast("decimal(19,0)")
            * F.col("ct").cast("decimal(19,0)")
        ).alias("src")
    )
    g = tot.crossJoin(F.broadcast(rc))
    nd = F.col("n").cast("double")
    dd = F.col("diag").cast("double")
    num = (
        F.col("diag").cast("decimal(19,0)")
        * F.col("n").cast("decimal(19,0)")
        - F.col("src")
    ).cast("double")
    den = (
        F.col("n").cast("decimal(19,0)") * F.col("n").cast("decimal(19,0)")
        - F.col("src")
    ).cast("double")
    return g.select(
        F.col("n").alias("n_docs"),
        F.col("diag").alias("n_agree"),
        pround(dd / nd, 9).alias("po"),
        pround(F.col("src").cast("double") / (nd * nd), 9).alias("pe"),
        pround(num / den, 9).alias("kappa"),
    )


@query(
    "chisq_event_type_drift",
    oracle=f"""
    WITH cells AS (SELECT event_type, user_id % 2 AS seg,
                          count(*) AS o
                   FROM events WHERE user_id IS NOT NULL
                   GROUP BY 1, 2),
    ty AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
           FROM cells GROUP BY 1),
    sg AS (SELECT seg, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS t,
                   CAST(count(DISTINCT seg) AS BIGINT) AS s
            FROM cells),
    terms AS (
      SELECT {sql_pround(
          "((CAST(o AS DOUBLE) * CAST(n AS DOUBLE)"
          " - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))"
          " * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)"
          " - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))"
          " / ((CAST(r AS DOUBLE) * CAST(c AS DOUBLE))"
          " * CAST(n AS DOUBLE))", 6
      )} AS term, n, t, s
      FROM cells JOIN ty USING (event_type) JOIN sg USING (seg), tot),
    g AS (SELECT max(n) AS n, max(t) AS t, max(s) AS s,
                 CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS chi2
          FROM terms)
    SELECT n AS n_events, t AS n_types, chi2,
           {sql_pround(
               "sqrt(chi2 / (CAST(n AS DOUBLE)"
               " * CAST(least(t - 1, s - 1) AS DOUBLE)))", 9
           )} AS cramers_v
    FROM g
    """,
)
def q_chisq_event_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity test of the event-type mix across two
    user segments, plus Cramer's V effect size — the categorical
    companion to ks_two_sample in a drift-gate suite (KS covers
    numeric columns, chi-square the categorical ones). Per-cell terms
    use the cross-multiplied identity (o*n - r*c)^2 / (r*c*n) ==
    n*(o - e)^2/e: marginals and counts enter as exact integers,
    each term is correctly-rounded IEEE double arithmetic written
    IDENTICALLY on both sides, pround(6)-quantized, then
    decimal-summed (order-independent — term order differs across
    engines' partitionings). sqrt IS deterministic cross-engine
    (IEEE 754 requires correct rounding for sqrt, unlike log/exp —
    why V can be reported but PSI/G-test can't without the
    engine's log-free idiom). Shape at scale: the stream reduces to
    |types|x|segments| cells first; marginals ride broadcast
    joins."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("seg")
    ).agg(F.count(F.lit(1)).alias("o")).transform(scoped_persist)  # 4 consumers
    ty = cells.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("r")
    )
    sg = cells.groupBy("seg").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("t"),
        F.countDistinct("seg").cast("bigint").alias("s"),
    )
    j = (
        cells.join(F.broadcast(ty), "event_type")
        .join(F.broadcast(sg), "seg")
        .crossJoin(F.broadcast(tot))
    )
    od = F.col("o").cast("double")
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    cd = F.col("c").cast("double")
    term = pround(
        ((od * nd - rd * cd) * (od * nd - rd * cd)) / ((rd * cd) * nd), 6
    )
    g = j.agg(
        F.max("n").alias("n"),
        F.max("t").alias("t"),
        F.max("s").alias("s"),
        F.sum(term.cast("decimal(18,6)")).cast("double").alias("chi2"),
    )
    v = F.sqrt(
        F.col("chi2")
        / (
            F.col("n").cast("double")
            * F.least(F.col("t") - 1, F.col("s") - 1).cast("double")
        )
    )
    return g.select(
        F.col("n").alias("n_events"),
        F.col("t").alias("n_types"),
        F.col("chi2"),
        pround(v, 9).alias("cramers_v"),
    )


_CM_DEPTH = 4
_CM_WIDTH = 1024


def _countmin_oracle() -> str:
    ws = _WS_TOKENS_SQL.format(col="text")
    seeds = "[" + ", ".join(str(i) for i in range(_CM_DEPTH)) + "]"
    return f"""
    WITH toks AS (SELECT unnest({ws}) AS tok
                  FROM documents WHERE text IS NOT NULL),
    tokc AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    sd AS (SELECT unnest({seeds}) AS seed),
    hb AS (SELECT tok, cnt, seed,
                  ('0x' || substr(md5('cm' || seed || ':' || tok), 1, 15))
                    ::BIGINT % {_CM_WIDTH} AS bucket
           FROM tokc, sd),
    sk AS (SELECT seed, bucket, CAST(sum(cnt) AS BIGINT) AS bcnt
           FROM hb GROUP BY 1, 2),
    top AS (SELECT tok, cnt FROM tokc
            ORDER BY cnt DESC, tok ASC LIMIT 30)
    SELECT top.tok AS token, CAST(top.cnt AS BIGINT) AS true_cnt,
           CAST(min(sk.bcnt) AS BIGINT) AS est_cnt
    FROM top JOIN hb ON top.tok = hb.tok
    JOIN sk USING (seed, bucket)
    GROUP BY 1, 2
    """


@query("countmin_frequency_estimate", oracle=_countmin_oracle())
def q_countmin_frequency_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan) over the token
    stream, probed for the 30 most frequent tokens and reported
    against TRUE counts — the fixed-memory frequency estimator whose
    one-sided error (est >= true, over-count only from collisions)
    the side-by-side columns exhibit. The 4x1024 (_CM_DEPTH x
    _CM_WIDTH) sketch hashes with the engine's portable 60-bit md5
    (identical in
    Spark/DuckDB/Python — why the whole sketch is EXACTLY
    oracle-checkable, unlike engine-internal hash sketches such as
    approx_count_distinct's HLL which get rows-only checks).
    Shape at scale: counts collapse to DISTINCT tokens map-side
    first, the depth-fold explodes distinct tokens (not occurrences),
    and the sketch itself is a bounded d*w-row table — the broadcast
    side of the probe join; top-30 is TakeOrderedAndProject."""
    from etl_pyspark_spark.functions.text import portable_hash60, ws_tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tokc = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # read by the sketch build, the probe join, AND the top-30
        # argmax — persist the |vocabulary| table instead of
        # re-exploding the corpus three times
        .transform(scoped_persist)
    )
    seeds = F.array([F.lit(i) for i in range(_CM_DEPTH)])
    hb = tokc.select(
        "tok",
        "cnt",
        F.explode(seeds).alias("seed"),
    ).withColumn(
        "bucket",
        portable_hash60(
            F.concat(
                F.lit("cm"),
                F.col("seed").cast("string"),
                F.lit(":"),
                F.col("tok"),
            )
        )
        % _CM_WIDTH,
    ).transform(scoped_persist)
    sk = hb.groupBy("seed", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("bcnt")
    )
    top = tokc.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(30)
    return (
        top.join(hb, "tok")
        .join(F.broadcast(sk), ["seed", "bucket"])
        .groupBy(F.col("tok").alias("token"))
        .agg(
            F.max(top["cnt"]).cast("bigint").alias("true_cnt"),
            F.min("bcnt").cast("bigint").alias("est_cnt"),
        )
    )


@query(
    "daily_event_correlation",
    oracle=f"""
    WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                      sum(CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END) AS x,
                      sum(CASE WHEN event_type = 'view'
                               THEN 1 ELSE 0 END) AS y
               FROM events GROUP BY 1),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                   AS sxy,
                 sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                   AS sxx,
                 sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                   AS syy
          FROM d)
    SELECT n AS n_days,
           {sql_pround(
               "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
               " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
               " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
               " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
               " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
               " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 9
           )} AS r_pearson
    FROM g
    """,
)
def q_daily_event_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation between two daily event-count series
    (clicks vs views) — the cheap do-these-signals-move-together
    check run before building composite engagement metrics. Spark's
    built-in corr() is a float accumulator whose partial-merge order
    differs run to run; instead the five sufficient statistics
    (sum x, sum y, sum xy, sum x^2, sum y^2) accumulate as EXACT
    integers (DECIMAL(19,0) products -> DECIMAL(38,0) sums,
    overflow-safe), and the textbook formula runs once on the 1-row
    result — correctly-rounded IEEE mul/sub/div plus sqrt (IEEE
    sqrt is correctly rounded, so cross-engine safe), pround(9).
    Shape at scale: events reduce to one row per day map-side; the
    moment aggregate is a second map-side collapse."""
    day = F.to_date(F.date_trunc("day", "ts")).alias("day")
    d = (
        read_table(spark, sf_dir, "events")
        .groupBy(day)
        .agg(
            F.sum(
                (F.col("event_type") == "click").cast("int")
            ).alias("x"),
            F.sum(
                (F.col("event_type") == "view").cast("int")
            ).alias("y"),
        )
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    g = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    r = (nd * F.col("sxy").cast("double") - sxd * syd) / (
        F.sqrt(nd * F.col("sxx").cast("double") - sxd * sxd)
        * F.sqrt(nd * F.col("syy").cast("double") - syd * syd)
    )
    return g.select(
        F.col("n").alias("n_days"),
        pround(r, 9).alias("r_pearson"),
    )


def _calibration_oracle() -> str:
    b = _EQUIDEPTH_BINS
    return f"""
    WITH d AS (SELECT value, count(*) AS cnt FROM events
               WHERE value IS NOT NULL GROUP BY value),
    c AS (SELECT value,
                 CAST(sum(cnt) OVER (ORDER BY value
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
                 CAST(sum(cnt) OVER () AS BIGINT) AS n
          FROM d),
    p AS (SELECT CAST(unnest(range(1, {b})) AS DOUBLE) / {b} AS prob),
    cuts AS (
      SELECT p.prob,
             (SELECT min(value) FROM c
              WHERE cum >= greatest(1, ceil(p.prob
                                            * (SELECT max(n) FROM c))))
               AS cut
      FROM p),
    bn AS (SELECT e.value,
                  CASE WHEN e.event_type IN {_AUC_POS}
                       THEN 1 ELSE 0 END AS pos,
                  (SELECT count(*) FROM cuts WHERE cuts.cut < e.value)
                    AS bin
           FROM events e WHERE e.value IS NOT NULL)
    SELECT CAST(bin AS INT) AS bin,
           count(*) AS n_events,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           {sql_pround(
               "CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 9
           )} AS pos_rate,
           {sql_pround(
               "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
               " / CAST(count(*) AS DOUBLE)", 9
           )} AS mean_score
    FROM bn GROUP BY bin
    """


@query("score_calibration_bins", oracle=_calibration_oracle())
def q_score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) curve for a score against a binary
    label: equal-population score deciles x observed positive rate
    vs mean score per bin — the companion readout to roc_auc_exact
    (AUC says the ranking works; calibration says the score VALUES
    mean what they claim — the gate before using scores as sampling
    weights). Decile edges are the exact discrete quantiles from
    operators/quantiles (bracketed rank search, never
    SinglePartition), landed as literals so binning is a scan-speed
    higher-order filter; per-bin stats are one keyed aggregate.
    Means use the exact-decimal-sum / single-double-division idiom;
    rates are one integer ratio, pround(9)."""
    from etl_pyspark_spark.operators.quantiles import (
        exact_discrete_quantiles,
    )

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    probs = [i / _EQUIDEPTH_BINS for i in range(1, _EQUIDEPTH_BINS)]
    cuts = exact_discrete_quantiles(ev, "value", probs)
    arr = "array(" + ",".join(
        f"CAST({c!r} AS DOUBLE)" for c in cuts
    ) + ")"
    pos_types = ("purchase", "signup")
    return (
        ev.select(
            F.expr(f"size(filter({arr}, c -> c < value))")
            .cast("int")
            .alias("bin"),
            "value",
            F.col("event_type").isin(*pos_types).cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            pround(
                F.sum("pos").cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("pos_rate"),
            pround(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("mean_score"),
        )
    )


def _containment_oracle() -> str:
    from etl_pyspark_spark.dedup.minhash import sql_shingles_cte

    cont = "CAST(n_inter AS DOUBLE) / CAST(n_self AS DOUBLE)"
    return f"""
    WITH {sql_shingles_cte()},
    hashed AS (SELECT DISTINCT doc_id,
                      ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h60
               FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS n_inter
              FROM hashed a JOIN hashed b
                ON a.h60 = b.h60 AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    directed AS (
      SELECT id_a AS doc_id, id_b AS container_id, n_inter FROM inter
      UNION ALL
      SELECT id_b AS doc_id, id_a AS container_id, n_inter FROM inter),
    sized AS (SELECT d.doc_id, d.container_id, d.n_inter,
                     s.n_sh AS n_self
              FROM directed d JOIN sizes s ON s.doc_id = d.doc_id)
    SELECT doc_id, container_id,
           {sql_pround(cont, 6)} AS containment
    FROM sized WHERE {cont} >= 0.7
    """


@query("dedup_containment", oracle=_containment_oracle())
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle-set containment
    C(A in B) = |A n B| / |A| — catches what Jaccard structurally
    cannot: a short document wholly quoted inside a much longer one
    scores high containment but low Jaccard (the union is dominated
    by the big doc), the classic quoted-boilerplate / doc-in-doc
    case in web corpora (Broder'97 distinguishes resemblance vs
    containment for exactly this). Candidates come from the
    DIRECTIONAL prefix filter over the rarest-first ordered sets
    (dedup/shared.py doc_hash_sets_rarest): C(A in B) >= t forces
    |A n B| >= ceil(t*|A|), so A must share one of its first
    |A| - ceil(t*|A|) + 1 rarest shingles with B — only that prefix
    of the contained side is indexed, joined against full postings
    (the container side carries no floor on its overlap fraction,
    so it cannot be prefix-pruned). Lossless, so the inverted-index
    oracle is unchanged; the pre-r9 full posting self-join measured
    ~22x wall for 10x data on the low-diversity native fixture.
    Prefix length and the |B| >= t*|A| length filter use integer
    arithmetic (t = 7/10) — a float ceil that rounds past the true
    ceiling would shorten a prefix and DROP pairs.

    Because the container side indexes its FULL postings (no prefix
    bound exists for it), the join also applies PPJoin's POSITIONAL
    filter (Xiao et al., WWW'08): both lists share one global order,
    so for the first shared shingle at 1-based positions (pa, pb),
    |A n B| <= 1 + min(|A|-pa, |B|-pb) — every qualifying pair
    survives via its first-match row (which provably sits inside A's
    prefix), while a random pair whose only early match is a common
    shingle late in both orders is dropped BEFORE the distinct
    shuffle and the array verify. Verification intersects the two
    bundled arrays JVM-side; the final >= 0.7 test stays the
    oracle's double division. Threshold 0.7."""
    from etl_pyspark_spark.dedup.shared import doc_hash_sets_rarest

    sets = doc_hash_sets_rarest(spark, sf_dir)
    # ceil(0.7*n) = floor((7n + 9) / 10), exact in int64
    plen = (
        F.col("n_sh")
        - F.floor((F.lit(7) * F.col("n_sh") + F.lit(9)) / F.lit(10))
        + 1
    )
    pref = sets.select(
        F.col("doc_id").alias("id_a"),
        F.posexplode(F.slice(F.col("hs"), F.lit(1), plen)).alias(
            "pa0", "h60"
        ),
        F.col("n_sh").alias("n_a"),
    )
    full = sets.select(
        F.col("doc_id").alias("id_b"),
        F.posexplode("hs").alias("pb0", "h60"),
        F.col("n_sh").alias("n_b"),
    )
    # elements strictly after the matched position (posexplode is
    # 0-based: remaining = n - (pos0 + 1))
    rem_a = F.col("n_a") - F.col("pa0") - 1
    rem_b = F.col("n_b") - F.col("pb0") - 1
    cand = (
        pref.join(full, "h60")
        .where(
            (F.col("id_a") != F.col("id_b"))
            # |B| >= |A n B| >= t*|A|, integer form 7*|A| <= 10*|B|
            & (F.lit(7) * F.col("n_a") <= F.lit(10) * F.col("n_b"))
            # positional: |A n B| <= 1 + min(rem_a, rem_b) must still
            # reach t*|A|; integer form 10*(1+min) >= 7*|A|
            & (
                F.lit(10) * (F.lit(1) + F.least(rem_a, rem_b))
                >= F.lit(7) * F.col("n_a")
            )
        )
        # NO pre-verify distinct: multi-token prefix matches duplicate
        # a candidate ~1.03x (measured sf1native), far cheaper to
        # re-verify than to shuffle 40M+ rows for dedup; the output
        # dedups AFTER the >= 0.7 filter, where rows are ~1e4 not 1e7
        .select("id_a", "id_b", "n_a")
    )
    # verify as a lookup of the per-doc set dictionary: while the
    # corpus is small the dictionary rides a BROADCAST hint, so
    # candidates (the big side on adversarial low-diversity corpora —
    # 43M at native sf1.0) stream through two broadcast-hash joins and
    # the array_intersect in ONE stage, never shuffling. dict_hint
    # GATES the hint on measured corpus bytes (8 GB broadcast limit /
    # driver memory): above the cap the same pair of joins runs as a
    # shuffled hash join on the sets table — the asymptotics
    # (candidates x intersect) are unchanged either way.
    from etl_pyspark_spark.dedup.shared import corpus_bytes_of, dict_hint

    cb = corpus_bytes_of(sf_dir)
    ver = (
        cand.join(
            dict_hint(
                sets.select(
                    F.col("doc_id").alias("id_a"), F.col("hs").alias("hs_a")
                ),
                cb,
            ),
            "id_a",
        )
        .join(
            dict_hint(
                sets.select(
                    F.col("doc_id").alias("id_b"), F.col("hs").alias("hs_b")
                ),
                cb,
            ),
            "id_b",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
        )
    )
    cont = F.col("n_inter").cast("double") / F.col("n_a").cast("double")
    return (
        ver.where(cont >= 0.7)
        .select(
            F.col("id_a").alias("doc_id"),
            F.col("id_b").alias("container_id"),
            pround(cont, 6).alias("containment"),
        )
        .distinct()
    )


_COLLOC_MIN_DF = 25
_COLLOC_MIN_PAIR = 10


def _collocation_oracle() -> str:
    ws = _WS_TOKENS_SQL.format(col="text")
    lift = (
        "(CAST(cab AS DOUBLE) * CAST(nd AS DOUBLE))"
        " / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))"
    )
    return f"""
    WITH dt AS (SELECT DISTINCT doc_id, unnest({ws}) AS tok
                FROM documents WHERE text IS NOT NULL),
    dfreq AS (SELECT tok, count(*) AS c FROM dt GROUP BY tok
              HAVING count(*) >= {_COLLOC_MIN_DF}),
    nd AS (SELECT count(DISTINCT doc_id) AS nd FROM dt),
    ft AS (SELECT dt.doc_id, dt.tok FROM dt JOIN dfreq USING (tok)),
    pairs AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS cab
              FROM ft a JOIN ft b
                ON a.doc_id = b.doc_id AND a.tok < b.tok
              GROUP BY 1, 2 HAVING count(*) >= {_COLLOC_MIN_PAIR}),
    sized AS (SELECT p.tok_a, p.tok_b, p.cab,
                     fa.c AS ca, fb.c AS cb, nd.nd
              FROM pairs p
              JOIN dfreq fa ON fa.tok = p.tok_a
              JOIN dfreq fb ON fb.tok = p.tok_b, nd)
    SELECT tok_a, tok_b, CAST(cab AS BIGINT) AS n_docs_both,
           {sql_pround(lift, 6)} AS lift
    FROM sized
    ORDER BY {sql_pround(lift, 6)} DESC, tok_a ASC, tok_b ASC
    LIMIT 30
    """


@query("token_collocation_lift", oracle=_collocation_oracle())
def q_token_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation discovery: token pairs that co-occur in documents
    far more than independence predicts, ranked by LIFT
    p(a,b)/(p(a)p(b)) = c_ab*N/(c_a*c_b) — the log-free monotone
    twin of PMI (the engine's standard dodge of cross-engine libm
    drift; same ranking). The pair space is support-PRUNED before
    pairing (Apriori downward closure: a pair seen in >=
    _COLLOC_MIN_PAIR docs needs both tokens in >= that many, so the
    df >= _COLLOC_MIN_DF broadcast semi-filter loses nothing above
    threshold while collapsing the quadratic per-doc blow-up to
    frequent tokens only — THE knob that keeps per-doc pairing
    bounded at 100 TB). Doc frequencies are distinct (doc, token)
    counts; lift is three exact integers in one correctly-rounded
    double expression, pround(6); top-30 is TakeOrderedAndProject
    with full tiebreak."""
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    dt = docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok")
    ).distinct().transform(scoped_persist)  # read by dfreq, the doc count, and ft
    dfreq = (
        dt.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _COLLOC_MIN_DF)
        .transform(scoped_persist)  # read by the prune filter and both size joins
    )
    nd = F.broadcast(
        dt.agg(F.countDistinct("doc_id").alias("nd"))
    )
    ft = dt.join(F.broadcast(dfreq.select("tok")), "tok")
    a = ft.select("doc_id", F.col("tok").alias("tok_a"))
    b = ft.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= _COLLOC_MIN_PAIR)
    )
    sized = (
        pairs.join(
            F.broadcast(
                dfreq.select(
                    F.col("tok").alias("tok_a"), F.col("c").alias("ca")
                )
            ),
            "tok_a",
        )
        .join(
            F.broadcast(
                dfreq.select(
                    F.col("tok").alias("tok_b"), F.col("c").alias("cb")
                )
            ),
            "tok_b",
        )
        .crossJoin(nd)
    )
    lift = pround(
        (F.col("cab").cast("double") * F.col("nd").cast("double"))
        / (F.col("ca").cast("double") * F.col("cb").cast("double")),
        6,
    )
    return (
        sized.select(
            "tok_a",
            "tok_b",
            F.col("cab").cast("bigint").alias("n_docs_both"),
            lift.alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(), F.col("tok_a").asc(), F.col("tok_b").asc()
        )
        .limit(30)
    )


def _inverted_index_oracle() -> str:
    ws = _WS_TOKENS_SQL.format(col="text")
    return f"""
    WITH toks AS (SELECT doc_id, unnest({ws}) AS tok
                  FROM documents WHERE text IS NOT NULL),
    tf AS (SELECT tok, doc_id, count(*) AS tf
           FROM toks GROUP BY 1, 2)
    SELECT tok AS term,
           count(*) AS doc_freq,
           CAST(sum(tf) AS BIGINT) AS coll_freq,
           string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id)
             AS postings
    FROM tf GROUP BY tok HAVING count(*) >= 25
    """


@query("inverted_index_postings", oracle=_inverted_index_oracle())
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per term, document frequency,
    collection frequency, and the doc_id-ordered posting list with
    term frequencies — the materialized structure behind
    bm25_rank_search (which computes scores on the fly; a serving
    stack builds THIS once and probes it). One (doc, term) rollup,
    one per-term rollup; the posting string is built
    executor-side from collect_list + array_sort + transform (JVM
    codegen, no Python, deterministic order by doc_id regardless of
    partitioning — same idiom as feature_hashing_vectorize). The
    df >= 25 floor bounds the emitted slice; at 100 TB the full
    index would partition BY TERM RANGE into posting shards (the
    natural bucketing for query-time term lookup)."""
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tf = (
        docs.select(
            "doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy(F.col("tok").alias("term"))
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.sum("tf").cast("bigint").alias("coll_freq"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "tf"))
                    ),
                    lambda s: F.concat_ws(
                        ":",
                        s["doc_id"].cast("string"),
                        s["tf"].cast("string"),
                    ),
                ),
            ).alias("postings"),
        )
        .filter(F.col("doc_freq") >= 25)
    )


@query(
    "shard_source_diversity",
    oracle=f"""
    WITH s AS (
      SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 8 AS shard_id,
             source
      FROM documents),
    c AS (SELECT shard_id, source, count(*) AS c
          FROM s GROUP BY 1, 2),
    g AS (SELECT shard_id,
                 CAST(sum(c) AS BIGINT) AS n,
                 count(*) AS n_sources,
                 sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
                   AS s2
          FROM c GROUP BY 1)
    SELECT CAST(shard_id AS BIGINT) AS shard_id, n AS n_docs, n_sources,
           {sql_pround(
               "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s2 AS DOUBLE))"
               " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))", 9
           )} AS simpson_diversity,
           {sql_pround(
               "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
               " / CAST(s2 AS DOUBLE)", 9
           )} AS effective_sources
    FROM g
    """,
)
def q_shard_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixing-quality check on the training-shard assignment: per
    shard, the Gini-Simpson diversity 1 - sum(p_i^2) of document
    SOURCES plus the effective source count 1/sum(p_i^2) — a
    data-loader shard dominated by one source trains on correlated
    batches even when doc counts balance (shard_assignment checks
    size balance; this checks COMPOSITION balance). Simpson is the
    engine's log-free stand-in for Shannon entropy (same monotone
    diversity ordering, pure rational arithmetic — no cross-engine
    libm): (n^2 - sum(c_i^2)) / n^2 from exact integer counts
    (DECIMAL(19,0) squares, overflow-safe), one double expression
    per shard, pround(9). Shape at scale: one (shard, source)
    rollup, then a |shards|-row reduce."""
    from etl_pyspark_spark.functions import text as T

    docs = read_table(spark, sf_dir, "documents")
    shard = (
        T.portable_hash60(
            F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))
        )
        % 8
    )
    c = docs.select(shard.alias("shard_id"), "source").groupBy(
        "shard_id", "source"
    ).agg(F.count(F.lit(1)).alias("c"))
    cd = F.col("c").cast("decimal(19,0)")
    g = c.groupBy("shard_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(cd * cd).alias("s2"),
    )
    nd = F.col("n").cast("double")
    s2d = F.col("s2").cast("double")
    return g.select(
        F.col("shard_id").cast("bigint").alias("shard_id"),
        F.col("n").alias("n_docs"),
        "n_sources",
        pround((nd * nd - s2d) / (nd * nd), 9).alias("simpson_diversity"),
        pround((nd * nd) / s2d, 9).alias("effective_sources"),
    )


_SKEW_DIAG_PARTS = 32


@query(
    "skew_join_diagnostics",
    oracle=f"""
    WITH k AS (SELECT l_partkey, count(*) AS c
               FROM lineitem GROUP BY 1),
    t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_keys
          FROM k),
    hot AS (SELECT l_partkey, c FROM k
            ORDER BY c DESC, l_partkey ASC LIMIT 1)
    SELECT hot.l_partkey AS hottest_key,
           CAST(hot.c AS BIGINT) AS max_key_count,
           t.n AS n_rows, t.n_keys,
           {sql_pround(
               "CAST(hot.c AS DOUBLE) / CAST(t.n AS DOUBLE)", 9
           )} AS top_share,
           {sql_pround(
               "CAST(hot.c AS DOUBLE) * CAST(t.n_keys AS DOUBLE)"
               " / CAST(t.n AS DOUBLE)", 6
           )} AS skew_factor,
           CAST((hot.c * {_SKEW_DIAG_PARTS} + t.n - 1) // t.n AS INT)
             AS suggested_salt
    FROM hot, t
    """,
)
def q_skew_join_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew profiler for a join/agg key — the diagnostic a
    pipeline runs BEFORE choosing between plain hash join, AQE skew
    split, and explicit salting (the engine's salted_join /
    agg_salted_hot_keys are the cures; this measures the disease):
    hottest key, its share of rows, skew factor (hottest / mean key
    mass = c_max * n_keys / n), and the salting fan-out that would
    level the hot key across 32 shuffle partitions —
    ceil(c_max * P / n) as pure integer arithmetic ((c*P + n-1) div
    n, bit-identical in both engines; doubles only in the reported
    ratios, pround'd). Shape at scale: one per-key rollup (partial
    map-side), a 1-row TakeOrdered argmax, a broadcast of two
    scalars."""
    li = read_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("c")
    ).transform(scoped_persist)  # read by the totals and the hottest-key argmax
    t = F.broadcast(
        k.agg(
            F.sum("c").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        )
    )
    hot = k.orderBy(F.col("c").desc(), F.col("l_partkey").asc()).limit(1)
    j = hot.crossJoin(t)
    cd = F.col("c").cast("double")
    nd = F.col("n").cast("double")
    return j.select(
        F.col("l_partkey").alias("hottest_key"),
        F.col("c").cast("bigint").alias("max_key_count"),
        F.col("n").alias("n_rows"),
        F.col("n_keys"),
        pround(cd / nd, 9).alias("top_share"),
        pround(cd * F.col("n_keys").cast("double") / nd, 6).alias(
            "skew_factor"
        ),
        F.expr(
            f"(c * {_SKEW_DIAG_PARTS} + n - 1) div n"
        ).cast("int").alias("suggested_salt"),
    )


def _event_seq_oracle() -> str:
    return f"""
    WITH u AS (SELECT user_id,
                      list(event_type ORDER BY ts, event_id) AS toks
               FROM events WHERE user_id IS NOT NULL
               GROUP BY user_id),
    g AS (SELECT unnest({_ngram_sql('toks', 3)}) AS pattern FROM u)
    SELECT pattern, count(*) AS n_occurrences
    FROM g GROUP BY pattern
    ORDER BY n_occurrences DESC, pattern ASC LIMIT 20
    """


@query("event_sequence_ngrams", oracle=_event_seq_oracle())
def q_event_sequence_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, the counting core: the 20 most
    frequent 3-step event-type journeys across all users (the
    input to funnel design — user_event_sequence renders individual
    journeys; this aggregates the corpus of them). Per user the
    ordered type array comes from array_sort over (ts, event_id,
    type) structs inside ONE groupBy (no window, total tiebreak so
    both engines see identical sequences); trigrams come from the
    shared JVM higher-order n-gram builder
    (functions/text.ngrams_from_tokens — projected array first, the
    documented CSE trap), then one count rollup. Top-20 is
    TakeOrderedAndProject with pattern tiebreak. Per-user state is
    the user's own event list — bounded fan-in, never a global
    sort."""
    from etl_pyspark_spark.functions.text import ngrams_from_tokens

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ).alias("toks")
    )
    g = u.select(
        F.explode(ngrams_from_tokens(F.col("toks"), 3)).alias("pattern")
    )
    return (
        g.groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pattern").asc())
        .limit(20)
    )


@query(
    "stream_drift_monitor",
    oracle=f"""
    WITH w AS (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                 AS window_start_s,
               event_type, count(*) AS o
          FROM events GROUP BY 1, 2),
    base AS (SELECT event_type, count(*) AS ct FROM events GROUP BY 1),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM base),
    wn AS (SELECT window_start_s, CAST(sum(o) AS BIGINT) AS nw
           FROM w GROUP BY 1),
    terms AS (
      SELECT w.window_start_s,
             {sql_pround(
                 "((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)"
                 " - CAST(nw AS DOUBLE) * CAST(ct AS DOUBLE))"
                 " * (CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)"
                 " - CAST(nw AS DOUBLE) * CAST(ct AS DOUBLE)))"
                 " / ((CAST(nw AS DOUBLE) * CAST(ct AS DOUBLE))"
                 " * CAST(nn AS DOUBLE))", 6
             )} AS term, nw
      FROM w
      JOIN base USING (event_type)
      JOIN wn USING (window_start_s), tot)
    SELECT window_start_s, max(nw) AS n_events,
           CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS chi2
    FROM terms GROUP BY window_start_s
    """,
)
def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: per 1-hour event-time window, a
    chi-square score of the window's event-type mix against the
    whole-corpus baseline — the alert a serving pipeline fires when
    the live traffic mix walks away from what the model trained on
    (chisq_event_type_drift is the batch A/B form; this is the
    per-window continuous form). The window counts come from the
    REAL Structured Streaming tumbling aggregation (watermark +
    AvailableNow replay, streaming/windows.tumbling_counts — batch
    equivalence is the oracle); scoring joins the closed windows
    against a BROADCAST static baseline — the production shape,
    where the baseline is a published table and scoring runs on
    window close. Same cross-multiplied integer identity and
    pround-then-decimal-sum as the batch test; per-window terms are
    |types| rows."""
    from etl_pyspark_spark.streaming.windows import tumbling_counts

    w = tumbling_counts(spark, sf_dir).select(
        "window_start_s",
        "event_type",
        F.col("n_events").alias("o"),
    )
    ev = read_table(spark, sf_dir, "events")
    base = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("ct"))
    tot = ev.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    wn = w.groupBy("window_start_s").agg(
        F.sum("o").cast("bigint").alias("nw")
    )
    j = (
        w.join(F.broadcast(base), "event_type")
        .join(wn, "window_start_s")
        .crossJoin(F.broadcast(tot))
    )
    od = F.col("o").cast("double")
    nnd = F.col("nn").cast("double")
    nwd = F.col("nw").cast("double")
    ctd = F.col("ct").cast("double")
    term = pround(
        ((od * nnd - nwd * ctd) * (od * nnd - nwd * ctd))
        / ((nwd * ctd) * nnd),
        6,
    )
    return j.groupBy("window_start_s").agg(
        F.max("nw").alias("n_events"),
        F.sum(term.cast("decimal(18,6)")).cast("double").alias("chi2"),
    )


def _cluster_histogram_oracle() -> str:
    from etl_pyspark_spark.dedup.components import sql_components_over_pairs
    from etl_pyspark_spark.dedup.minhash import sql_minhash_pairs, sql_shingles_cte

    return (
        "WITH RECURSIVE "
        + sql_shingles_cte()
        + ", "
        + sql_minhash_pairs(final_name="pairs")
        + ", "
        + sql_components_over_pairs("pairs", final_name="comp")
        + """,
    csizes AS (SELECT component_id, count(*) AS cluster_size
               FROM comp GROUP BY 1)
    SELECT cluster_size, count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
    FROM csizes GROUP BY cluster_size
    """
    )


@query("dedup_cluster_size_histogram", oracle=_cluster_histogram_oracle())
def q_dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dedup REPORT: duplicate-cluster size distribution plus, per
    size, how many documents the keep-one-per-cluster policy would
    delete — the summary a data owner reads before approving a
    corpus-shrinking dedup run (clusters of 2 are usually true dups;
    a 500-doc cluster is usually boilerplate that needs a different
    policy). Rolls up the session-shared component labels
    (dedup/shared.py — pairs and labels derived once per session);
    two keyed aggregates over the |duplicate-docs| table, never the
    corpus."""
    from etl_pyspark_spark.dedup.shared import dup_components

    comp = dup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_removable"),
    )


@query(
    "score_percentile_harmonize",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS pr
      FROM documents)
    SELECT doc_id, source, n_chars,
           {sql_pround("pr", 9)} AS source_percentile
    FROM r
    """,
)
def q_score_percentile_harmonize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source score harmonization: replace a raw per-document
    score with its percentile WITHIN its source — the rank transform
    that makes scores comparable across sources whose raw scales
    differ (a 0.6 from classifier A and a 0.9 from classifier B may
    be the same quality; mixing corpora on raw scores silently
    over-samples the generous scorer — this is the fix applied
    before mixture_sampling_quota-style selection).
    percent_rank = (rank-1)/(n_part-1) over a TOTAL order
    ((n_chars, doc_id) tiebreak, the engine's standard rule) is one
    exact integer ratio -> correctly-rounded double, pround(9).
    The window partitions BY SOURCE — parallel across sources,
    never SinglePartition; within one giant source the
    with_global_rank machinery is the documented escape hatch."""
    from pyspark.sql.window import Window as W

    docs = read_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        pround(F.percent_rank().over(w), 9).alias("source_percentile"),
    )


@query(
    "funnel_step_latency",
    oracle="""
    WITH c AS (SELECT user_id, min(epoch_us(ts)) AS c_us FROM events
               WHERE event_type = 'click' AND user_id IS NOT NULL
               GROUP BY 1),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
          GROUP BY 1),
    d AS (SELECT p.p_us - c.c_us AS lat_us FROM p JOIN c USING (user_id)),
    dd AS (SELECT lat_us, count(*) AS cnt FROM d GROUP BY 1),
    cc AS (SELECT lat_us,
                  CAST(sum(cnt) OVER (ORDER BY lat_us
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS cum,
                  CAST(sum(cnt) OVER () AS BIGINT) AS n
           FROM dd)
    SELECT COALESCE((SELECT max(n) FROM cc), 0) AS n_converted,
           (SELECT min(lat_us) FROM cc
            WHERE cum >= greatest(1, ceil(0.5 * (SELECT max(n) FROM cc))))
             AS p50_latency_us,
           (SELECT min(lat_us) FROM cc
            WHERE cum >= greatest(1, ceil(0.9 * (SELECT max(n) FROM cc))))
             AS p90_latency_us
    """,
)
def q_funnel_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for the click -> purchase funnel step: exact
    p50/p90 of (first purchase AFTER first click) - (first click)
    per user, in microseconds — the latency half of
    funnel_conversion's rate readout (rates say HOW MANY convert;
    this says HOW FAST, which sets attribution-window and
    stream-join watermark widths — e.g. stream_stream_join's 30-min
    tolerance should cover ~p90). Latencies are exact integer
    microsecond diffs; both order statistics run through the
    bracketed exact-rank search (operators/quantiles — never a
    SinglePartition window) and land as literals in a 1-row result.
    Shape at scale: two per-user min-aggregates (map-side partial),
    one keyed join, quantiles over the |converted-users| diff
    table."""
    from etl_pyspark_spark.operators.quantiles import (
        exact_discrete_quantiles,
    )

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.unix_micros("ts") > F.col("c_us"))
        .groupBy("user_id", "c_us")
        .agg(F.min(F.unix_micros("ts")).alias("p_us"))
    )
    # read three times (sketch pass, exact-rank pass, final count) —
    # persist the |converted-users| diff table
    d = p.select((F.col("p_us") - F.col("c_us")).alias("lat_us")).transform(scoped_persist)
    p50, p90 = exact_discrete_quantiles(d, "lat_us", [0.5, 0.9])
    return d.agg(F.count(F.lit(1)).cast("bigint").alias("n_converted")).select(
        "n_converted",
        F.lit(p50).cast("bigint").alias("p50_latency_us"),
        F.lit(p90).cast("bigint").alias("p90_latency_us"),
    )


_RRF_K = 60


@query(
    "rank_fusion_rrf",
    oracle=f"""
    WITH a AS (SELECT l_partkey,
                      sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))) AS rev
               FROM lineitem GROUP BY 1),
    b AS (SELECT l_partkey, count(DISTINCT l_orderkey) AS n_orders
          FROM lineitem GROUP BY 1),
    ra AS (SELECT l_partkey,
                  row_number() OVER (ORDER BY rev DESC, l_partkey) AS r_rev
           FROM a),
    rb AS (SELECT l_partkey,
                  row_number() OVER (ORDER BY n_orders DESC, l_partkey)
                    AS r_ord
           FROM b),
    f AS (SELECT l_partkey, r_rev, r_ord,
                 1.0 / ({_RRF_K} + r_rev) + 1.0 / ({_RRF_K} + r_ord)
                   AS rrf
          FROM ra JOIN rb USING (l_partkey))
    SELECT l_partkey AS part, CAST(r_rev AS BIGINT) AS r_rev,
           CAST(r_ord AS BIGINT) AS r_ord,
           {sql_pround("rrf", 9)} AS rrf_score
    FROM f ORDER BY rrf DESC, l_partkey ASC LIMIT 10
    """,
)
def q_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two part
    rankings — by revenue and by breadth of demand (distinct
    orders): rrf = sum_i 1/(60 + rank_i), the standard
    score-scale-free way to merge heterogeneous retrieval/ranking
    signals (the same fusion merges BM25 and embedding-cosine lists
    in a retrieval stack; here both legs are aggregates so the
    oracle is exact). Each leg's rank comes from
    operators/ranks.with_global_rank over a DESC sort key (negated
    exact decimals — never a SinglePartition window); the fused
    score is a two-term sum of correctly-rounded IEEE divisions,
    pround(9); top-10 is TakeOrderedAndProject with part
    tiebreak."""
    from etl_pyspark_spark.operators.ranks import with_global_rank

    li = read_table(spark, sf_dir, "lineitem")
    # ONE lineitem pass computes both leg measures (Spark plans the
    # mixed distinct/plain agg with a single scan + expand), and the
    # two global ranks CHAIN over that one table — r7: this replaces
    # two full lineitem aggregations plus a partkey join (one scan,
    # one shuffle, and the join eliminated; 3.2 s -> 2.3 s at sf0.1)
    ab = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("rev"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    ra = with_global_rank(
        ab.withColumn("negrev", -F.col("rev")),
        ["negrev", "l_partkey"],
        "r_rev",
    )
    f = with_global_rank(
        ra.withColumn("nego", -F.col("n_orders")),
        ["nego", "l_partkey"],
        "r_ord",
    )
    rrf = 1.0 / (_RRF_K + F.col("r_rev")) + 1.0 / (
        _RRF_K + F.col("r_ord")
    )
    return (
        f.select(
            F.col("l_partkey").alias("part"),
            F.col("r_rev").cast("bigint").alias("r_rev"),
            F.col("r_ord").cast("bigint").alias("r_ord"),
            pround(rrf, 9).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("part").asc())
        .limit(10)
    )


@query(
    "markov_prediction_accuracy",
    oracle="""
    WITH s AS (SELECT user_id, ts, event_id, event_type,
                      lead(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS nxt
               FROM events WHERE user_id IS NOT NULL),
    t AS (SELECT event_type AS cur, nxt FROM s WHERE nxt IS NOT NULL),
    c AS (SELECT cur, nxt, count(*) AS c FROM t GROUP BY 1, 2),
    pred AS (SELECT cur, nxt AS p FROM (
               SELECT cur, nxt,
                      row_number() OVER (PARTITION BY cur
                                         ORDER BY c DESC, nxt ASC) AS rn
               FROM c) WHERE rn = 1)
    SELECT count(*) AS n_transitions,
           CAST(sum(CASE WHEN t.nxt = pred.p THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           floor(CAST(sum(CASE WHEN t.nxt = pred.p THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) * 1000000000.0 + 0.5)
             / 1000000000.0 AS accuracy
    FROM t JOIN pred USING (cur)
    """,
)
def q_markov_prediction_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eval of the first-order Markov next-event model the
    event_transition_matrix query trains: predict each transition's
    next type as the corpus argmax for the current type (count DESC,
    type ASC tiebreak) and score top-1 accuracy over all transitions
    — the is-this-sequence-model-better-than-marginal baseline every
    sequence-model eval starts from. Transitions come from a lead()
    window partitioned BY USER (parallel, bounded per-user state);
    the model is a |types|-row broadcast; accuracy is one integer
    ratio, pround(9)."""
    from pyspark.sql.window import Window as W

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        # read by the model counts and the scoring join
        .transform(scoped_persist)
    )
    c = t.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    pw = W.partitionBy("cur").orderBy(
        F.col("c").desc(), F.col("nxt").asc()
    )
    pred = (
        c.withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("p"))
    )
    j = t.join(F.broadcast(pred), "cur")
    correct = F.sum(
        (F.col("nxt") == F.col("p")).cast("int")
    ).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).alias("n_transitions"),
        correct.alias("n_correct"),
        pround(
            correct.cast("double") / F.count(F.lit(1)).cast("double"), 9
        ).alias("accuracy"),
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH g AS (SELECT max(o_orderdate) AS mx FROM orders),
    rfm AS (SELECT o_custkey,
                   CAST(datediff('day', max(o_orderdate),
                                 (SELECT mx FROM g)) AS INT)
                     AS recency_days,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                        AS DOUBLE) AS monetary
            FROM orders GROUP BY 1),
    t AS (SELECT o_custkey, recency_days, n_orders, monetary,
                 ntile(4) OVER (ORDER BY recency_days, o_custkey)
                   AS r_tile,
                 ntile(4) OVER (ORDER BY n_orders DESC, o_custkey)
                   AS f_tile,
                 ntile(4) OVER (ORDER BY monetary DESC, o_custkey)
                   AS m_tile
          FROM rfm)
    SELECT o_custkey, recency_days, CAST(n_orders AS BIGINT) AS n_orders,
           monetary, r_tile, f_tile, m_tile,
           CAST(r_tile AS VARCHAR) || CAST(f_tile AS VARCHAR)
             || CAST(m_tile AS VARCHAR) AS segment
    FROM t
    """,
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic recency/frequency/monetary
    quartile labeling ('111' = best segment on the
    most-recent-first convention) that drives retention campaigns
    and, in a data-engine context, stratified sampling by customer
    value. All three quartile labelings run through
    operators/ranks.with_global_ntile (range exchange + broadcast
    offsets — NEVER the ntile-over-everything SinglePartition
    window, the canonical RFM scale-killer), each under a total
    order with the custkey tiebreak so both engines tile
    identically. Monetary sums are exact decimals; recency is an
    integer day diff from a broadcast 1-row max-date."""
    from etl_pyspark_spark.operators.ranks import with_global_ntile

    orders = read_table(spark, sf_dir, "orders")
    g = F.broadcast(orders.agg(F.max("o_orderdate").alias("mx")))
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(g)
        .select(
            "o_custkey",
            F.datediff(F.col("mx"), F.col("last_order"))
            .cast("int")
            .alias("recency_days"),
            "n_orders",
            "monetary",
        )
        .withColumn("negf", -F.col("n_orders"))
        .withColumn("negm", -F.col("monetary"))
        # read by all three ntile legs plus the output projection —
        # persist the |customers| aggregate instead of re-running the
        # orders rollup four times (same economics as the dedup
        # family's session-shared stages)
        .transform(scoped_persist)
    )
    # r12: CHAIN the three ntile legs instead of computing each on a
    # (o_custkey, tile) projection and hash-joining the three back to
    # rfm (guide §2.4 "remove shuffles outright"): a tile column is a
    # pure per-row function of the global rank under its own total
    # order, so each leg can append its column to the full frame and
    # feed the next leg directly — the three join-back exchanges (plus
    # a fourth read of rfm) disappear, leaving the three unavoidable
    # range exchanges. Same tiles per row by construction; oracle
    # unchanged.
    t = with_global_ntile(rfm, ["recency_days", "o_custkey"], 4, "r_tile")
    t = with_global_ntile(t, ["negf", "o_custkey"], 4, "f_tile")
    t = with_global_ntile(t, ["negm", "o_custkey"], 4, "m_tile")
    return (
        t.select(
            "o_custkey",
            "recency_days",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "monetary",
            "r_tile",
            "f_tile",
            "m_tile",
            F.concat(
                F.col("r_tile").cast("string"),
                F.col("f_tile").cast("string"),
                F.col("m_tile").cast("string"),
            ).alias("segment"),
        )
    )


def _minhash_estimate_oracle() -> str:
    from etl_pyspark_spark.dedup.minhash import (
        NUM_PERM,
        sql_minhash_pairs,
        sql_shingles_cte,
    )

    matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_PERM)
    )
    return (
        "WITH "
        + sql_shingles_cte()
        + ", "
        + sql_minhash_pairs(final_name="pairs")
        + f""",
    est AS (SELECT p.doc_id_a, p.doc_id_b, p.jaccard,
                   ({matches}) AS n_match
            FROM pairs p
            JOIN sig sa ON sa.doc_id = p.doc_id_a
            JOIN sig sb ON sb.doc_id = p.doc_id_b)
    SELECT doc_id_a, doc_id_b, jaccard,
           CAST(n_match AS DOUBLE) / {NUM_PERM} AS jaccard_est,
           {sql_pround(
               f"abs(CAST(n_match AS DOUBLE) / {NUM_PERM} - jaccard)", 6
           )} AS abs_err
    FROM est
    """
    )


@query("minhash_jaccard_estimate", oracle=_minhash_estimate_oracle())
def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality readout for the MinHash sketch: for every
    verified near-dup pair, the 16-permutation signature-agreement
    estimate of Jaccard NEXT TO the exact value and the absolute
    error — the calibration table that justifies (or indicts) the
    band/row choice before running LSH at corpus scale (E[match
    fraction] = J; with 16 perms the std error at J=0.5 is ~0.125,
    visible in the column). Signatures rebuild from the
    session-shared shingle hashes with the same universal-hash
    constants (dedup/minhash.PERM_CONSTANTS — deterministic md5
    arithmetic, so the whole estimator is EXACTLY oracle-checked,
    the same property countmin_frequency_estimate exhibits);
    n_match/16 is exact in binary (denominator a power of two).
    Pairs and shingles derive once per session (dedup/shared.py)."""
    from etl_pyspark_spark.dedup.minhash import NUM_PERM, P, PERM_CONSTANTS
    from etl_pyspark_spark.dedup.shared import shingle_hashes, verified_pairs

    sh = shingle_hashes(spark, sf_dir).select(
        "doc_id", (F.col("h60") % P).alias("h")
    )
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % P).alias(f"mh{i}")
            for i, (a, b) in enumerate(PERM_CONSTANTS)
        ]
    ).transform(scoped_persist)  # joined once per pair side
    pairs = verified_pairs(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("doc_id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_PERM)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_PERM)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(NUM_PERM)
    )
    est = F.col("n_match").cast("double") / NUM_PERM
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn("n_match", n_match)
        .select(
            "doc_id_a",
            "doc_id_b",
            "jaccard",
            est.alias("jaccard_est"),
            pround(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


@query(
    "histogram_merge_quantiles",
    oracle="""
    WITH e AS (SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
                 AS day_s,
               CAST(floor(epoch(ts) / 604800) * 604800 AS BIGINT)
                 AS week_s,
               CAST(least(floor(value / 25.0), 19) AS INT) AS bin,
               value
          FROM events WHERE value IS NOT NULL),
    daily AS (SELECT week_s, day_s, bin, count(*) AS c
              FROM e GROUP BY 1, 2, 3),
    weekly AS (SELECT week_s, bin, CAST(sum(c) AS BIGINT) AS c
               FROM daily GROUP BY 1, 2),
    wc AS (SELECT week_s, bin, c,
                  CAST(sum(c) OVER (PARTITION BY week_s ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS cum,
                  CAST(sum(c) OVER (PARTITION BY week_s) AS BIGINT) AS n
           FROM weekly),
    approx AS (SELECT week_s, max(n) AS n_events,
                      CAST(min(bin) * 25.0 AS DOUBLE) AS approx_p50
               FROM wc
               WHERE cum >= greatest(1, ceil(0.5 * n)) GROUP BY week_s),
    ev AS (SELECT week_s, value, count(*) AS c FROM e GROUP BY 1, 2),
    ec AS (SELECT week_s, value,
                  CAST(sum(c) OVER (PARTITION BY week_s ORDER BY value
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS cum,
                  CAST(sum(c) OVER (PARTITION BY week_s) AS BIGINT) AS n
           FROM ev),
    exact AS (SELECT week_s, CAST(min(value) AS DOUBLE) AS exact_p50
              FROM ec
              WHERE cum >= greatest(1, ceil(0.5 * n)) GROUP BY week_s)
    SELECT a.week_s AS week_start_s, a.n_events, a.approx_p50,
           x.exact_p50,
           floor(abs(a.approx_p50 - x.exact_p50) * 1000000.0 + 0.5)
             / 1000000.0 AS abs_err
    FROM approx a JOIN exact x ON a.week_s = x.week_s
    """,
)
def q_histogram_merge_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGEABLE quantile summaries: daily fixed-bin histograms
    (integer counts — the sketch every monitoring stack actually
    ships, because counts merge by addition with zero error growth)
    rolled up into weekly medians, reported NEXT TO the exact weekly
    median and the bin-resolution error — the
    estimate-vs-truth calibration pattern of
    minhash_jaccard_estimate/countmin applied to the quantile
    family (hll_sketch_rollup is the distinct-count analogue). The
    day -> week merge is a two-level keyed rollup (partial map-side
    both levels); the approx median reads the merged histogram's
    cumulative bins, the exact one runs the per-week reduce-first
    discrete-median sweep; both windows partition BY WEEK — parallel,
    never SinglePartition. Error is bounded by the 25-unit bin width
    by construction."""
    from pyspark.sql.window import Window as W

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    epoch = F.unix_timestamp("ts")
    e = ev.select(
        (F.floor(epoch / 86400) * 86400).cast("bigint").alias("day_s"),
        (F.floor(epoch / 604800) * 604800).cast("bigint").alias("week_s"),
        F.least(F.floor(F.col("value") / 25.0), F.lit(19))
        .cast("int")
        .alias("bin"),
        "value",
    )
    daily = e.groupBy("week_s", "day_s", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    weekly = daily.groupBy("week_s", "bin").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    wcum = (
        W.partitionBy("week_s")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy("week_s")
    wc = weekly.select(
        "week_s",
        "bin",
        F.sum("c").over(wcum).cast("bigint").alias("cum"),
        F.sum("c").over(wtot).cast("bigint").alias("n"),
    )
    approx = (
        wc.filter(
            F.col("cum")
            >= F.greatest(F.lit(1), F.ceil(0.5 * F.col("n")))
        )
        .groupBy("week_s")
        .agg(
            F.max("n").alias("n_events"),
            (F.min("bin") * 25.0).cast("double").alias("approx_p50"),
        )
    )
    evv = e.groupBy("week_s", "value").agg(F.count(F.lit(1)).alias("c"))
    vcum = (
        W.partitionBy("week_s")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ec = evv.select(
        "week_s",
        "value",
        F.sum("c").over(vcum).cast("bigint").alias("cum"),
        F.sum("c").over(wtot).cast("bigint").alias("n"),
    )
    exact = (
        ec.filter(
            F.col("cum")
            >= F.greatest(F.lit(1), F.ceil(0.5 * F.col("n")))
        )
        .groupBy("week_s")
        .agg(F.min("value").cast("double").alias("exact_p50"))
    )
    return approx.join(exact, "week_s").select(
        F.col("week_s").alias("week_start_s"),
        "n_events",
        "approx_p50",
        "exact_p50",
        pround(F.abs(F.col("approx_p50") - F.col("exact_p50")), 6).alias(
            "abs_err"
        ),
    )


_SKIP_LO = "1997-03-01 00:00:00"
_SKIP_HI = "1997-06-01 00:00:00"


@query(
    "layout_skipping_report",
    oracle=f"""
    WITH f AS (
      SELECT filename,
             min(l_shipdate) AS fmin, max(l_shipdate) AS fmax,
             count(*) AS n_rows
      FROM read_parquet(
        '{skipping_lineitem_dir(_ORACLE_SF)}/*.parquet',
        filename = true)
      GROUP BY filename),
    m AS (SELECT filename, n_rows,
                 (fmax < TIMESTAMP '{_SKIP_LO}'
                  OR fmin >= TIMESTAMP '{_SKIP_HI}') AS prunable
          FROM f)
    SELECT count(*) AS n_files,
           CAST(sum(CASE WHEN prunable THEN 1 ELSE 0 END) AS BIGINT)
             AS n_prunable,
           CAST(sum(CASE WHEN prunable THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_skipped,
           {sql_pround(
               "CAST(sum(CASE WHEN prunable THEN n_rows ELSE 0 END)"
               " AS DOUBLE) / CAST(sum(n_rows) AS DOUBLE)", 6
           )} AS frac_rows_skipped
    FROM m
    """,
)
def q_layout_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness report: per-FILE min/max footprint
    of the range-clustered lineitem layout against the canonical
    three-month probe window, reporting how many files (and what row
    fraction) footer statistics alone would prune — the number a
    lake administrator quotes to justify the clustering rewrite
    (range_clustered_layout runs the pruned scan; THIS measures the
    layout itself, the same way skew_join_diagnostics measures
    before salted_join cures). Per-file stats group on
    input_file_name() — Spark and the oracle read the SAME physical
    parquet files, so the report is exactly checkable; the layout
    lives in a per-SF directory so a bench at another scale can't
    invalidate the files the oracle path names."""
    dst = ensure_skipping_lineitem(spark, sf_dir)
    back = read_parquet(spark, dst).select(
        F.input_file_name().alias("fname"), "l_shipdate"
    )
    f = back.groupBy("fname").agg(
        F.min("l_shipdate").alias("fmin"),
        F.max("l_shipdate").alias("fmax"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    lo = F.lit(_SKIP_LO).cast("timestamp")
    hi = F.lit(_SKIP_HI).cast("timestamp")
    m = f.select(
        "n_rows",
        ((F.col("fmax") < lo) | (F.col("fmin") >= hi)).alias("prunable"),
    )
    skipped = F.sum(
        F.when(F.col("prunable"), F.col("n_rows")).otherwise(0)
    ).cast("bigint")
    return m.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.col("prunable").cast("int")).cast("bigint").alias(
            "n_prunable"
        ),
        skipped.alias("rows_skipped"),
        pround(
            skipped.cast("double")
            / F.sum("n_rows").cast("double"),
            6,
        ).alias("frac_rows_skipped"),
    )


@query(
    "text_compression_ratio",
    # Promoted from rows-only (r05 verdict #6): deflate output is
    # deterministic for a given zlib build, and both sides of this
    # oracle run in the same container — the SQL twin reads a per-doc
    # size table precomputed driver-side in plain Python (no Spark),
    # so the hash match value-checks the distributed Arrow/mapInPandas
    # plumbing against an independent single-process computation.
    oracle=f"""
    SELECT d.doc_id,
           CAST(octet_length(encode(COALESCE(d.text, ''))) AS BIGINT) AS raw_bytes,
           s.compressed_bytes,
           CASE WHEN octet_length(encode(COALESCE(d.text, ''))) = 0 THEN NULL
                ELSE CAST(s.compressed_bytes AS DOUBLE)
                     / CAST(octet_length(encode(COALESCE(d.text, ''))) AS DOUBLE)
           END AS compression_ratio
    FROM documents d
    JOIN read_parquet(
      '{deflate_sizes_dir(_ORACLE_SF)}/sizes.parquet') s
      USING (doc_id)
    """,
)
def q_text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (deflate level 6):
    compressed_bytes / raw_bytes per document — the cheap
    whole-document repetitiveness detector the Gopher/RedPajama
    filter stacks use alongside n-gram repetition
    (text_repetition_ratio catches LOCAL loops; deflate's 32 KB
    window catches long-range boilerplate and templating that
    n-grams miss). zlib runs in an Arrow-batched ``mapInPandas``
    (bytes cross into Python once, vectorized over each batch —
    never a row UDF); output is the id, both byte counts, and the
    ratio. Flag low ratios for removal: heavily templated text
    compresses far below the corpus norm. The query self-ensures the
    oracle's precomputed size table (untimed in bench via
    ensure_layouts)."""
    ensure_deflate_sizes(sf_dir)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def ratios(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            raw_n = raw.str.len()
            comp_n = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw_n.astype("int64"),
                    "compressed_bytes": comp_n.astype("int64"),
                    # nullable Float64 so a zero-byte doc yields an
                    # Arrow NULL (matching the oracle's CASE WHEN),
                    # not an IEEE NaN
                    "compression_ratio": (
                        comp_n / raw_n.where(raw_n > 0)
                    ).astype("Float64"),
                }
            )

    return docs.mapInPandas(
        ratios,
        "doc_id long, raw_bytes long, compressed_bytes long, "
        "compression_ratio double",
    )


@query(
    "join_asof_tolerance",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch_s,
           s.signup_epoch_s AS asof_signup_epoch_s,
           s.signup_value AS asof_signup_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
        SELECT CAST(floor(epoch(e.ts)) AS BIGINT) AS signup_epoch_s,
               e.value AS signup_value
        FROM events e
        WHERE e.event_type = 'signup' AND e.user_id = p.user_id
          AND e.ts <= p.ts AND e.ts >= p.ts - INTERVAL 7 DAY
        ORDER BY e.ts DESC LIMIT 1) s ON TRUE
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND (pandas merge_asof's
    ``tolerance``): each purchase picks up the latest prior signup
    per user only if it happened within the last 7 days — the
    attribution-window semantics real funnels need (an unbounded
    as-of blames a purchase on a signup from years ago;
    funnel_step_latency's p90 is how the 7-day width gets chosen).
    Same one-shuffle union+window engine as join_asof
    (operators/joins.asof_join): the matched right timestamp rides
    the same carry-forward window, and matches older than the bound
    null out in a post-projection — the bound costs one extra
    last() expression, never a second shuffle or a range join. The
    oracle states the semantics directly as a LATERAL
    latest-within-window probe."""
    from etl_pyspark_spark.operators.joins import asof_join

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
    out = asof_join(
        purchases,
        signups,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["signup_epoch_s", "signup_value"],
        tolerance=F.expr("INTERVAL 7 DAYS"),
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_epoch_s",
        "asof_signup_epoch_s",
        "asof_signup_value",
    )


_CHUNK_W = 64
_CHUNK_S = 48


@query(
    "doc_chunk_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_WS_TOKENS_SQL.format(col='text')} AS toks
               FROM documents WHERE text IS NOT NULL),
    c AS (SELECT doc_id, toks,
                 unnest(generate_series(0,
                        CAST(greatest(0,
                             ceil((len(toks) - {_CHUNK_W})
                                  / {_CHUNK_S}.0)) AS INT))) AS chunk_id
          FROM t)
    SELECT doc_id, chunk_id,
           CAST(chunk_id * {_CHUNK_S} AS BIGINT) AS start_token,
           array_to_string(
             toks[chunk_id*{_CHUNK_S}+1 :
                  least(chunk_id*{_CHUNK_S} + {_CHUNK_W}, len(toks))],
             ' ') AS chunk_text,
           least(chunk_id*{_CHUNK_S} + {_CHUNK_W}, len(toks))
             - chunk_id*{_CHUNK_S} AS n_tokens
    FROM c
    """,
)
def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRIDE-OVERLAP chunking (64-token windows every 48 tokens, 16
    tokens of overlap) — the retrieval-ingest idiom, distinct from
    doc_chunk_packing's disjoint training windows: overlapping
    chunks keep boundary-spanning passages findable when each chunk
    is embedded separately (the reason every RAG ingestion pipeline
    chunks with overlap). Chunk count is 1 + max(0,
    ceil((n-W)/S)) so every doc emits at least one chunk and the
    tail is always covered; slicing/joining is pure JVM array work
    over the once-projected token array (the documented CSE trap),
    exploded per chunk — no Python, no shuffle before the final
    exchange-free projection."""
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = docs.select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    n_chunks = 1 + F.greatest(
        F.lit(0),
        F.ceil((n - _CHUNK_W) / float(_CHUNK_S)).cast("int"),
    )
    c = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    sl = F.slice(
        F.col("toks"), F.col("chunk_id") * _CHUNK_S + 1, _CHUNK_W
    )
    return c.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * _CHUNK_S).cast("bigint").alias("start_token"),
        F.array_join(sl, " ").alias("chunk_text"),
        F.size(sl).alias("n_tokens"),
    )


@query(
    "grouped_trimmed_mean",
    oracle="""
    WITH d AS (SELECT l_returnflag AS flag, l_quantity AS qty,
                      count(*) AS cnt
               FROM lineitem GROUP BY 1, 2),
    c AS (SELECT flag, qty, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY qty
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
                 CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
          FROM d),
    lo AS (SELECT flag, min(qty) AS p05 FROM c
           WHERE cum >= greatest(1, ceil(0.05 * n)) GROUP BY flag),
    hi AS (SELECT flag, min(qty) AS p95 FROM c
           WHERE cum >= greatest(1, ceil(0.95 * n)) GROUP BY flag)
    SELECT l.l_returnflag AS flag,
           count(*) AS n_kept,
           CAST(lo.p05 AS DOUBLE) AS p05,
           CAST(hi.p95 AS DOUBLE) AS p95,
           floor(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS trimmed_mean_qty
    FROM lineitem l
    JOIN lo ON lo.flag = l.l_returnflag
    JOIN hi ON hi.flag = l.l_returnflag
    WHERE l.l_quantity >= lo.p05 AND l.l_quantity <= hi.p95
    GROUP BY 1, 3, 4
    """,
)
def q_grouped_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group TRIMMED mean (drop outside the group's exact discrete
    [p05, p95], average the rest) — the robust-stats member
    winsorize_values (global, CLAMPS) and grouped_percentiles
    (reports the cuts) don't cover: trimming excludes tails
    entirely, the standard treatment when tail values are suspected
    garbage rather than merely extreme. Reduce-first: both cut
    points come from per-group cumulative counts over DISTINCT
    (group, value) pairs (windows partition BY GROUP — parallel,
    never SinglePartition), land as a |groups|-row broadcast join,
    and the kept-range mean is one exact-decimal-sum /
    single-double-division pass, pround(6)."""
    li = read_table(spark, sf_dir, "lineitem")
    d = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("qty"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql.window import Window as W

    wc = (
        W.partitionBy("flag")
        .orderBy("qty")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy("flag")
    c = d.select(
        "flag",
        "qty",
        F.sum("cnt").over(wc).cast("bigint").alias("cum"),
        F.sum("cnt").over(wt).cast("bigint").alias("n"),
    ).transform(scoped_persist)  # read by both cut-point selections
    lo = (
        c.filter(
            F.col("cum")
            >= F.greatest(F.lit(1), F.ceil(0.05 * F.col("n")))
        )
        .groupBy(F.col("flag").alias("flag_lo"))
        .agg(F.min("qty").alias("p05"))
    )
    hi = (
        c.filter(
            F.col("cum")
            >= F.greatest(F.lit(1), F.ceil(0.95 * F.col("n")))
        )
        .groupBy(F.col("flag").alias("flag_hi"))
        .agg(F.min("qty").alias("p95"))
    )
    return (
        li.join(
            F.broadcast(lo), li["l_returnflag"] == lo["flag_lo"]
        )
        .join(F.broadcast(hi), li["l_returnflag"] == hi["flag_hi"])
        .where(
            (F.col("l_quantity") >= F.col("p05"))
            & (F.col("l_quantity") <= F.col("p95"))
        )
        .groupBy(
            li["l_returnflag"].alias("flag"),
            F.col("p05").cast("double").alias("p05"),
            F.col("p95").cast("double").alias("p95"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            pround(
                F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("trimmed_mean_qty"),
        )
        .select("flag", "n_kept", "p05", "p95", "trimmed_mean_qty")
    )


@query(
    "stream_topk_per_window",
    oracle="""
    WITH w AS (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                 AS window_start_s,
               user_id, count(*) AS n_events
          FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
    r AS (SELECT window_start_s, user_id, n_events,
                 row_number() OVER (PARTITION BY window_start_s
                                    ORDER BY n_events DESC, user_id ASC)
                   AS rn
          FROM w)
    SELECT window_start_s, user_id, n_events, rn
    FROM r WHERE rn <= 3
    """,
)
def q_stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: per 1-hour event-time window, the top-3
    most active users — the live 'who is hammering the API' readout.
    The per-(window, user) counts come from the REAL watermarked
    Structured Streaming aggregation (AvailableNow replay == batch,
    the engine's standard oracle bridge); ranking runs as a batch
    post-pass on the CLOSED windows (the production shape — a
    leaderboard is published per closed window, and streaming
    row_number isn't expressible mid-stream anyway). The rank window
    partitions BY WINDOW (parallel, bounded by the hour's user set,
    never SinglePartition) and Spark plans the rn <= 3 filter as
    WindowGroupLimit, so only each window's top rows ever sort."""
    from etl_pyspark_spark.streaming.windows import (
        run_to_memory_table,
        stream_events,
    )
    from pyspark.sql.window import Window as W

    sdf = stream_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # complete-mode aggregation: no eviction-driven output — skip the
    # empty flush batch
    out = run_to_memory_table(agg, spark, final_flush=False).select(
        F.unix_timestamp(F.col("window.start")).alias("window_start_s"),
        "user_id",
        "n_events",
    )
    rw = W.partitionBy("window_start_s").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    )
    return out.withColumn("rn", F.row_number().over(rw)).where(
        F.col("rn") <= 3
    )


_TOKEN_BUDGET = 10_000


@query(
    "token_budget_selection",
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars,
                      len({_WS_TOKENS_SQL.format(col='text')}) AS n_tokens
               FROM documents WHERE text IS NOT NULL),
    c AS (SELECT doc_id, n_chars, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
                                          ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_tokens
          FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens,
           cum_tokens <= {_TOKEN_BUDGET} AS selected
    FROM c
    """,
)
def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus selection: rank documents by a quality proxy
    (n_chars here; swap in any deterministic score) and admit them
    greedily until a fixed TOKEN budget exhausts — the way a
    training-mix planner fills 'take the best N-billion tokens of
    this source' quotas (importance_weighted_sample reweights;
    source_quota_cap caps per source; THIS caps by cumulative token
    mass, which is what the training run actually consumes). The
    running token total comes from
    operators/ranks.with_global_cumsum over the (score DESC, doc_id)
    total order — range exchange + per-partition offsets, never a
    SinglePartition window (the canonical mistake in budget-cut
    implementations); the cut itself is then a scan-speed
    comparison, and every doc is emitted with its admission flag so
    the rejected tail stays auditable."""
    from etl_pyspark_spark.functions.text import ws_tokens
    from etl_pyspark_spark.operators.ranks import with_global_cumsum

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = docs.select(
        "doc_id",
        "n_chars",
        F.size(ws_tokens(F.col("text"))).alias("n_tokens"),
    ).withColumn("neg_chars", -F.col("n_chars"))
    c = with_global_cumsum(
        t, ["neg_chars", "doc_id"], "n_tokens", "cum_tokens"
    )
    return c.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "cum_tokens",
        (F.col("cum_tokens") <= _TOKEN_BUDGET).alias("selected"),
    )


def _source_overlap_oracle() -> str:
    from etl_pyspark_spark.dedup.minhash import (
        sql_minhash_pairs,
        sql_shingles_cte,
    )

    return (
        "WITH "
        + sql_shingles_cte()
        + ", "
        + sql_minhash_pairs(final_name="pairs")
        + """
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_id_a
    JOIN documents db ON db.doc_id = p.doc_id_b
    GROUP BY 1, 2
    """
    )


@query("source_overlap_matrix", oracle=_source_overlap_oracle())
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-SOURCE duplication matrix: verified near-dup pairs rolled
    up by (unordered) source pair — the policy readout that tells a
    corpus owner WHICH feeds copy from which (crawl A mirroring
    crawl B wants source-level exclusion; within-source pairs want
    ordinary dedup — dedup_cluster_size_histogram sizes the
    clusters, THIS attributes them). Rides the session-shared
    verified-pair stage (dedup/shared.py); source attribution is two
    slim joins against the documents projection and a
    |sources|^2-bounded rollup. Pair keys are canonically ordered
    with least/greatest so A-B and B-A collapse."""
    from etl_pyspark_spark.dedup.shared import verified_pairs

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    pairs = verified_pairs(spark, sf_dir)
    da = docs.select(
        F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(da, "doc_id_a")
        .join(db, "doc_id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


