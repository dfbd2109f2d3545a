"""Distributed order statistics (operators/ranks, operators/quantiles)
must agree bit-for-bit with the single-node window forms they replace
— checked in-engine here (the registry oracles check cross-engine)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pyspark_spark.operators.quantiles import exact_discrete_quantiles
from etl_pyspark_spark.operators.ranks import (
    with_global_cumsum,
    with_global_ntile,
    with_global_rank,
)
from etl_pyspark_spark.sources.io import read_table


def test_global_rank_matches_row_number(spark, oracle_sf_dir):
    ev = read_table(spark, oracle_sf_dir, "events").select(
        "event_id", "value"
    )
    got = with_global_rank(
        ev, ["value", "event_id"], "rk", num_partitions=7
    )
    w = Window.orderBy("value", "event_id")
    want = ev.withColumn("rk", F.row_number().over(w).cast("bigint"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_global_ntile_matches_ntile(spark, oracle_sf_dir):
    docs = read_table(spark, oracle_sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    # k=7 does not divide the doc count — exercises the uneven-tile
    # branch of the ANSI formula (first n%k tiles one row larger)
    got = with_global_ntile(
        docs, ["n_chars", "doc_id"], 7, "t", num_partitions=5
    )
    w = Window.orderBy("n_chars", "doc_id")
    want = docs.withColumn("t", F.ntile(7).over(w))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_global_ntile_fewer_rows_than_tiles(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x int")
    got = {
        (r["x"], r["t"])
        for r in with_global_ntile(df, ["x"], 10, "t").collect()
    }
    assert got == {(1, 1), (2, 2), (3, 3)}


def test_global_cumsum_matches_window(spark, oracle_sf_dir):
    d = (
        read_table(spark, oracle_sf_dir, "events")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    got = with_global_cumsum(d, ["value"], "cnt", "cum", num_partitions=6)
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = d.withColumn("cum", F.sum("cnt").over(w).cast("bigint"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_exact_quantiles_match_brute_force(spark, oracle_sf_dir):
    ev = read_table(spark, oracle_sf_dir, "events")
    # brute force: smallest value whose cumulative count >= ceil(q*n)
    import math

    vals = sorted(r["value"] for r in ev.select("value").collect())
    n = len(vals)
    for probs in ([0.01, 0.99], [0.5], [0.0001, 0.25, 0.75]):
        got = exact_discrete_quantiles(ev, "value", probs)
        want = [vals[max(1, math.ceil(q * n)) - 1] for q in probs]
        assert got == want, (probs, got, want)


def test_exact_quantiles_empty_and_null(spark):
    df = spark.createDataFrame([(None,), (None,)], "v double")
    assert exact_discrete_quantiles(df, "v", [0.5]) == [None]
    one = spark.createDataFrame([(3.5,)], "v double")
    assert exact_discrete_quantiles(one, "v", [0.01, 0.99]) == [3.5, 3.5]


def test_approx_bracket_contains_exact_cut(spark, oracle_sf_dir):
    """The bracket guarantee exact_discrete_quantiles rests on:
    percentile_approx at q±3/accuracy must bracket the exact discrete
    cut (GK rank error ≤ n/accuracy). Checked directly against the
    brute-force order statistic for several probes and accuracies."""
    import math

    ev = read_table(spark, oracle_sf_dir, "events")
    vals = sorted(r["value"] for r in ev.select("value").collect())
    n = len(vals)
    for accuracy in (100, 1000, 10000):
        for q in (0.01, 0.5, 0.99):
            eps = 3.0 / accuracy
            row = ev.agg(
                F.percentile_approx(
                    "value", [max(0.0, q - eps), min(1.0, q + eps)], accuracy
                ).alias("b")
            ).collect()[0]["b"]
            exact = vals[max(1, math.ceil(q * n)) - 1]
            assert row[0] <= exact <= row[1], (accuracy, q)


def test_global_cumsum_multi_matches_windows(spark, oracle_sf_dir):
    from etl_pyspark_spark.operators.ranks import with_global_cumsum_multi

    d = (
        read_table(spark, oracle_sf_dir, "events")
        .groupBy("value")
        .agg(
            F.sum((F.col("event_type") == "click").cast("int")).alias("ca"),
            F.sum((F.col("event_type") == "view").cast("int")).alias("cb"),
        )
    )
    got = with_global_cumsum_multi(d, ["value"], ["ca", "cb"], num_partitions=6)
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = d.withColumn(
        "cum_ca", F.sum("ca").over(w).cast("bigint")
    ).withColumn("cum_cb", F.sum("cb").over(w).cast("bigint"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_global_cumsum_multi_empty_input(spark):
    from etl_pyspark_spark.operators.ranks import with_global_cumsum_multi

    df = spark.createDataFrame([], "value double, ca int, cb int")
    out = with_global_cumsum_multi(df, ["value"], ["ca", "cb"])
    assert out.count() == 0
    assert {"cum_ca", "cum_cb"} <= set(out.columns)


def _python_order_stats(rows, k):
    """row_number, ntile(k), running sum and running max of ``w`` in
    ``(key, w)`` order, computed in plain Python (ANSI ntile: the
    first n % k tiles take one row more)."""
    rows = sorted(rows)
    n = len(rows)
    base, rem = divmod(n, k)
    out, run_sum, run_max = {}, 0, None
    for i, (key, w) in enumerate(rows):
        head = rem * (base + 1)
        tile = i // (base + 1) + 1 if i < head else (i - head) // base + rem + 1
        run_sum += w
        run_max = w if run_max is None else max(run_max, w)
        out[key] = (i + 1, tile, run_sum, run_max)
    return out


def test_order_statistics_edge_inputs(spark):
    """All five operators on inputs with fewer rows than partitions
    (3 rows into 8 range partitions), a single row and no rows match
    the plain-Python running statistics."""
    from etl_pyspark_spark.operators.ranks import (
        with_global_cummax,
        with_global_cumsum_multi,
    )
    from etl_pyspark_spark.sources.io import literal_frame

    k = 2
    for rows in ([(30, 5), (10, 7), (20, -2)], [(10, 4)], []):
        df = literal_frame(spark, rows, "key bigint, w bigint")
        want = _python_order_stats(rows, k)
        got = {}
        order, p = ["key"], 8
        for col, out in (
            ("rk", with_global_rank(df, order, "rk", num_partitions=p)),
            ("t", with_global_ntile(df, order, k, "t", num_partitions=p)),
            ("cs", with_global_cumsum(df, order, "w", "cs", num_partitions=p)),
            ("cw", with_global_cumsum_multi(
                df, order, ["w"], num_partitions=p
            ).withColumnRenamed("cum_w", "cw")),
            ("cm", with_global_cummax(df, order, "w", "cm", num_partitions=p)),
        ):
            assert out.columns == ["key", "w", col], out.columns
            for r in out.collect():
                got.setdefault(r["key"], {})[col] = r[col]
        assert {
            key: (g["rk"], g["t"], g["cs"], g["cm"]) for key, g in got.items()
        } == want, rows
        assert all(g["cw"] == g["cs"] for g in got.values())


def test_partition_lookup_empty_partitions_read_null(spark):
    """The per-partition literal array holds NULL for a partition id
    with no stats (an empty range partition) and the value for each
    other id."""
    from etl_pyspark_spark.operators.ranks import literal_at

    df = spark.range(4).select(F.col("id").cast("int").alias("_pid"))
    got = {
        r["_pid"]: r["v"]
        for r in df.where(F.col("_pid") != 3)
        .select("_pid", literal_at({0: 10, 2: 2**40}).alias("v"))
        .collect()
    }
    assert got == {0: 10, 1: None, 2: 2**40}
