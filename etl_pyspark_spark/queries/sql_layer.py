"""Query family: sql_layer (mechanically split from registry.py — see core)."""

from __future__ import annotations

import pandas as pd

from etl_pyspark_spark.queries.core import (
    DataFrame,
    F,
    SparkSession,
    pround,
    query,
    read_table,
    sql_pround,
)
from etl_pyspark_spark.queries._shared import _register_views  # noqa: F401

# ---------------------------------------------------------------------------
# SQL layer: the engine is also driveable through spark.sql over temp
# views — demonstrated with TPC-H-shaped analytical queries. (The
# reference has no SQL surface at all, SURVEY.md TL;DR.)
# ---------------------------------------------------------------------------


@query(
    "sql_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue,
           CAST(year(o_orderdate) AS INT) AS order_year
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, year(o_orderdate)
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape, expressed through the spark.sql surface over
    temp views — Catalyst plans it identically to the DataFrame API
    (broadcast the filtered dims, single agg shuffle, top-N)."""
    _register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql("""
        SELECT l_orderkey,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
               CAST(year(o_orderdate) AS INT) AS order_year
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, year(o_orderdate)
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """)


@query(
    "sql_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_sql_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): 6-table join through
    spark.sql; nation/region broadcast, customer-supplier co-nation
    equi-condition rides the supplier join."""
    _register_views(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    return spark.sql("""
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """)


@query(
    "sql_correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
                              WHERE i.o_custkey = o.o_custkey)
    """,
)
def q_sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders > 2x their customer's
    average); Catalyst decorrelates it into an aggregate + join —
    no per-row re-execution, unlike a naive interpreter."""
    _register_views(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders o
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
                                  WHERE i.o_custkey = o.o_custkey)
    """)


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_prio
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() indicators (finer control
    than rollup/cube; one shuffle, expand-node fan-out before it)."""
    _register_views(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


# ---------------------------------------------------------------------------
# More aggregation surface: exact percentiles, pivot, deterministic
# sampling, approximate distinct
# ---------------------------------------------------------------------------


@query(
    "agg_percentiles",
    oracle=f"""
    SELECT o_orderstatus,
           {sql_pround('quantile_cont(o_totalprice, 0.5)', 6)} AS p50,
           {sql_pround('quantile_cont(o_totalprice, 0.9)', 6)} AS p90,
           {sql_pround('quantile_cont(o_totalprice, 0.99)', 6)} AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``). The exact form sorts per group — fine for
    bounded group counts; unbounded cardinality at 100 TB switches to
    ``percentile_approx`` (t-digest, mergeable map-side)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        pround(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        pround(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        pround(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99"),
    )


@query(
    "pivot_status_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) FILTER (o_orderstatus = 'O') AS status_O,
           count(*) FILTER (o_orderstatus = 'F') AS status_F,
           count(*) FILTER (o_orderstatus = 'P') AS status_P
    FROM orders GROUP BY 1
    """,
)
def q_pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide) with a pinned value list — pinning avoids the
    extra distinct-values job AND makes the output schema static, which
    any 100 TB pipeline wants."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select(F.year("o_orderdate").alias("order_year"), "o_orderstatus")
        .groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "order_year",
            F.coalesce("O", F.lit(0)).alias("status_O"),
            F.coalesce("F", F.lit(0)).alias("status_F"),
            F.coalesce("P", F.lit(0)).alias("status_P"),
        )
    )


@query(
    "sample_deterministic",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem
    WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
                              CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
          % 100 < 5
    """,
)
def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% deterministic hash-sample. ``df.sample()`` is seed-and-
    partitioning dependent — useless for reproducible pipelines or
    cross-engine checks; hashing the key is stable under any
    parallelism, re-run, or engine."""
    from etl_pyspark_spark.functions.text import portable_hash60

    li = read_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "_",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return li.where(portable_hash60(key) % 100 < 5).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )


@query("hll_sketch_rollup")  # no oracle: sketch estimate is estimator-specific
def q_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Spark 4 Datasketches HLL):
    per-(year, month) customer sketches union into per-year estimates
    WITHOUT touching raw data again. This is the continuous-aggregate
    pattern at 100 TB — monthly rollups store a few-KB sketch instead
    of a customer set, and any coarser grain (year, lifetime) is a
    sketch merge, not a re-scan. Rows-only driver check;
    tests/test_sketches.py bounds the estimates against exact
    countDistinct (HLL lgk=12 => ~1.6% standard error)."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
    ).agg(F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk"))
    return (
        monthly.groupBy("order_year")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_customers"
            ),
            F.count(F.lit(1)).alias("n_months"),
        )
        .orderBy("order_year")
    )


@query(
    "observed_quality_gate",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE n_chars >= 200
    """,
)
def q_observed_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline audit counters via ``Dataset.observe``: the gate both
    filters AND accumulates pass/fail metrics in the SAME job — no
    second pass over the data to know what a 100 TB filter dropped.
    The observation rides the existing plan as accumulator-style
    metrics (collected on the driver at job end); the returned rows
    are plain filter output, so the query stays fully oracle-checked
    while tests/test_sketches.py asserts the metrics agree with the
    oracle counts."""
    from pyspark.sql import Observation

    docs = read_table(spark, sf_dir, "documents")
    obs = Observation("quality_gate")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum((F.col("n_chars") >= 200).cast("long")).alias("n_pass"),
    )
    out = observed.where(F.col("n_chars") >= 200).select(
        "doc_id", "lang", "n_chars"
    )
    # stash the Observation so tests can read the metrics after an action
    out._graft_observation = obs
    return out


@query("approx_count_distinct")  # no oracle: estimator-specific result
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate (mergeable sketch — the 100 TB
    replacement for exact countDistinct's full shuffle). No SQL oracle:
    Spark's HLL++ and DuckDB's approx estimator differ by design;
    tests/test_sketches.py bounds the relative error vs exact instead."""
    o = read_table(spark, sf_dir, "orders")
    return o.agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        F.approx_count_distinct("o_orderkey", 0.02).alias("approx_orders"),
    )


# ---------------------------------------------------------------------------
# Array / map scalar functions beyond explode (SURVEY §2.9)
# ---------------------------------------------------------------------------


@query(
    "array_functions",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           list_sort(toks[1:5]) AS first5_sorted,
           list_contains(toks, 'spark') AS has_spark,
           len(list_distinct(toks)) AS n_distinct,
           list_sort(list_distinct(toks))[1] AS first_token_alpha
    FROM t
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function medley: slice/sort/contains/distinct/min — all
    JVM higher-order functions on the token array."""
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents")
    # split once, reference five times (CollapseProject keeps
    # multiply-referenced non-trivial exprs un-inlined)
    docs = docs.select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.sort_array(F.slice(toks, 1, 5)).alias("first5_sorted"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_min(F.array_distinct(toks)).alias("first_token_alpha"),
    )


@query(
    "map_functions",
    oracle="""
    SELECT event_id, 'k' AS prop_key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_value
    FROM events
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props JSON -> MapType -> exploded (key, value) rows:
    from_json(map<string,bigint>) + explode — schemaless-property
    normalization, the standard event-pipeline shape."""
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id", F.explode(m).alias("prop_key", "prop_value")
    ).select("event_id", "prop_key", "prop_value")


# ---------------------------------------------------------------------------
# Pandas UDF surface (Arrow-vectorized Python, SURVEY §2.7): only used
# where built-ins genuinely cannot express the logic; demonstrated here
# with a deterministic scorer so the oracle can still check it.
# ---------------------------------------------------------------------------


@query(
    "pandas_udf_score",
    oracle=f"""
    SELECT doc_id,
           {sql_pround('ln(1.0 + CAST(strlen(text) AS DOUBLE)) / '
                       '(1.0 + exp(-(CAST(len(list_filter(string_split(text, '
                       "' '), x -> x <> '')) AS DOUBLE) / 50.0 - 1.0)))", 6)}
             AS udf_score
    FROM documents
    """,
)
def q_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf (numpy log/sigmoid over whole
    batches — the ~10-100x-faster-than-row-Python path). Deterministic
    float64 math, so DuckDB replays it exactly."""
    from pyspark.sql.functions import pandas_udf

    # the hints are strings (`from __future__ import annotations`);
    # pandas_udf resolves them against this module's globals, hence the
    # module-level pandas import
    @pandas_udf("double")
    def score(text: pd.Series) -> pd.Series:
        import numpy as np

        n_chars = text.str.len().astype("float64")
        n_words = text.str.split(" ").map(
            lambda ts: sum(1 for t in ts if t)
        ).astype("float64")
        return pd.Series(
            np.log1p(n_chars) / (1.0 + np.exp(-(n_words / 50.0 - 1.0)))
        )

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", pround(score(F.col("text")), 6).alias("udf_score")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates, multiset ops, date/string medleys, structs,
# second window family — coverage widening per SURVEY §2.9.
# ---------------------------------------------------------------------------


@query(
    "agg_statistics",
    oracle=f"""
    SELECT l_returnflag,
           {sql_pround('avg(l_quantity)', 6)} AS avg_qty,
           {sql_pround('stddev_samp(l_quantity)', 6)} AS std_qty,
           {sql_pround('var_samp(l_quantity)', 6)} AS var_qty,
           {sql_pround('corr(l_quantity, l_extendedprice)', 4)} AS corr_qty_price,
           {sql_pround('covar_samp(l_quantity, l_extendedprice)', 6)} AS covar_qty_price,
           {sql_pround('skewness(l_quantity)', 4)} AS skew_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (avg/stddev/variance/corr/covar/
    skewness) — single-pass moment computation per group."""
    li = read_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        pround(F.avg(q), 6).alias("avg_qty"),
        pround(F.stddev_samp(q), 6).alias("std_qty"),
        pround(F.var_samp(q), 6).alias("var_qty"),
        pround(F.corr(q, p), 4).alias("corr_qty_price"),  # moment accumulation order differs beyond ~1e-6
        pround(F.covar_samp(q, p), 6).alias("covar_qty_price"),
        pround(F.skewness(q), 4).alias("skew_qty"),  # third-moment accumulation differs beyond ~1e-6
    )


@query(
    "agg_min_max_by",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice) AS top_orderkey,
           arg_min(o_orderkey, o_totalprice) AS bottom_orderkey,
           CAST(max(o_totalprice) AS DOUBLE) AS top_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) — fetch the extreme row's key
    without a self-join or window. (o_totalprice values are distinct
    per status group in the fixtures, so the arg is deterministic.)"""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("max_by(o_orderkey, o_totalprice)").alias("top_orderkey"),
        F.expr("min_by(o_orderkey, o_totalprice)").alias("bottom_orderkey"),
        F.max("o_totalprice").cast("double").alias("top_price"),
    )


@query(
    "agg_collect_list",
    oracle="""
    SELECT c_nationkey AS nationkey,
           list_sort(list(DISTINCT c_mktsegment)) AS segments,
           count(*) AS n_customers
    FROM customer GROUP BY c_nationkey
    """,
)
def q_agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set into a sorted array (collection order is partition-
    dependent, so determinism comes from sort_array — same rule as the
    oracle's list_sort)."""
    c = read_table(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.sort_array(F.collect_set("c_mktsegment")).alias("segments"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(
    "set_multiset_ops",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def q_set_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics: min of the two
    multiplicities per value) — intersectAll, the bag-algebra
    counterpart of set_intersect."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersectAll(s)


@query(
    "promo_revenue_ratio",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
             AS promo_revenue,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def q_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast
    fact-dimension join (part broadcasts; lineitem never shuffles for
    the join)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )


@query(
    "scalar_dates",
    oracle="""
    SELECT o_orderkey,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
             AS days_since_epoch_start,
           CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due_date,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
           CAST(dayofweek(o_orderdate) AS INT) AS dow,  -- 0=Sunday
           CAST(weekofyear(o_orderdate) AS INT) AS week
    FROM orders
    """,
)
def q_scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic medley: datediff, interval add, last_day,
    quarter trunc, day-of-week, ISO week."""
    o = read_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.datediff(d, F.lit("1995-01-01")).cast("bigint").alias(
            "days_since_epoch_start"
        ),
        F.date_add(d, 90).alias("due_date"),
        F.last_day(d).alias("month_end"),
        F.to_date(F.date_trunc("quarter", d)).alias("quarter_start"),
        (F.dayofweek(d) - 1).alias("dow"),  # 0=Sunday, DuckDB numbering
        F.weekofyear(d).alias("week"),
    )


@query(
    "scalar_strings2",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+)', 1) AS first_word,
           regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled_head,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
           replace(lang, 'e', 'E') AS lang_swapped,
           reverse(source) AS source_rev,
           CASE WHEN strpos(text, 'spark') > 0
                THEN strpos(text, 'spark') ELSE 0 END AS spark_pos,
           left(upper(text), 12) AS head_upper
    FROM documents
    """,
)
def q_scalar_strings2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string medley: regexp extract/replace, lpad, replace,
    reverse, instr, upper+substr — all JVM builtins."""
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_extract(t, "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace(
            F.substring(t, 1, 2_000_000_000), "[aeiou]", "_"
        ).alias("devoweled_head"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.regexp_replace("lang", "e", "E").alias("lang_swapped"),
        F.reverse("source").alias("source_rev"),
        F.instr(t, "spark").alias("spark_pos"),
        F.upper(F.substring(t, 1, 12)).alias("head_upper"),
    )


@query(
    "struct_operations",
    oracle="""
    SELECT event_id,
           {'uid': user_id, 'etype': event_type}.uid AS uid,
           {'uid': user_id, 'etype': event_type}.etype AS etype,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
    FROM events WHERE user_id % 100 = 7
    """,
)
def q_struct_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StructType construction + field access (named_struct / dot
    path) — nested types the reference never reaches."""
    ev = read_table(spark, sf_dir, "events")
    s = F.struct(
        F.col("user_id").alias("uid"), F.col("event_type").alias("etype")
    )
    return ev.where(F.col("user_id") % 100 == 7).select(
        "event_id",
        s.getField("uid").alias("uid"),
        s.getField("etype").alias("etype"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )


@query(
    "window_distribution",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           {sql_pround('percent_rank() OVER w', 6)} AS pct_rank,
           {sql_pround('cume_dist() OVER w', 6)} AS cume,
           nth_value(o_orderkey, 2) OVER w2 AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice ASC, o_orderkey ASC),
           w2 AS (PARTITION BY o_custkey
                  ORDER BY o_totalprice ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window family: percent_rank, cume_dist, nth_value
    over the full-partition frame."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(w2).alias("second_order"),
    )


@query(
    "explode_variants",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents WHERE doc_id < 20)
    SELECT doc_id, CAST(g.i - 1 AS INT) AS pos, toks[i] AS token
    FROM t, UNNEST(generate_series(1, len(toks))) AS g(i)
    """,
)
def q_explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: positional explosion (token index + value)."""
    from etl_pyspark_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(ws_tokens(F.col("text"))))
        .select("doc_id", F.col("pos").cast("int").alias("pos"),
                F.col("col").alias("token"))
    )


