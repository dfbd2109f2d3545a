"""Bucketed (hash-clustered) tables: shuffle-free co-located joins.

At 100 TB the dominant cost of a fact-fact or fact-dim-too-big-to-
broadcast join is the shuffle of both sides. Pre-bucketing each table
on the join key (``bucketBy(N, key)`` + ``saveAsTable``) pins an
identical hash partitioning into the table layout; a later sort-merge
join between two tables bucketed the same way reads bucket i against
bucket i directly — **no Exchange on either side**, round after
round, query after query. The write-side shuffle is paid once at
ingest instead of per-query.

Spark specifics honored here:
- bucketed layout only survives through the catalog (``saveAsTable``
  + ``spark.table``) — plain ``.parquet(path)`` round-trips lose the
  bucket metadata;
- bucket counts must match (or divide, with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``) on both
  sides;
- ``sortBy`` within buckets lets the scan satisfy the merge-join sort
  when each bucket holds one file; otherwise Spark re-sorts per
  bucket but still skips the Exchange (the expensive part).

The reference has no joins at all (SURVEY.md §2: single-table
withColumn pipeline, etl-pyspark-v1.0/app/nyc_taxi_etl.py:53-97);
this module is §2.9 growth surface, and the no-Exchange claim is
pinned by tests/test_plans.py::test_bucketed_join_no_exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_pyspark_spark.sources.io import fixture_fingerprint, read_table
from etl_pyspark_spark.sources.layouts import _SCRATCH, pay_once


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a catalog bucketed parquet table. ``path``
    makes it external at an absolute location (the default managed
    location is cwd-relative ``spark-warehouse`` — never rely on cwd)."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on
) -> DataFrame:
    """Sort-merge join of two same-bucketed catalog tables. The
    ``merge`` hint forces SMJ even when one side would broadcast, so
    the plan exercises (and tests can assert) the bucket co-location;
    at real scale both sides are too big to broadcast anyway.
    ``on`` is a callable (left_df, right_df) -> join condition, so
    differently-named bucket keys (o_custkey vs c_custkey) work."""
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table)
    return left.join(right, on(left, right))


def ensure_bucketed_fixtures(
    spark: SparkSession,
    sf_dir: str,
    num_buckets: int = 16,
    base_path: str | None = None,
) -> None:
    """Bucket orders and customer on custkey. Idempotent AND lazy: the
    ingest-time write is paid once per (fixture, num_buckets)
    (``layouts.pay_once``), and later calls (every bench/test run of
    the co-located join) only register the tables. This keeps the
    one-time layout cost out of the per-query timed path, which is
    exactly the economics bucketing buys at scale."""
    base_path = base_path or f"{_SCRATCH}/bucketed"
    tables = (
        ("orders_bkt", "orders", "o_custkey"),
        ("customer_bkt", "customer", "c_custkey"),
    )

    def build():
        for table, src, key in tables:
            write_bucketed(
                read_table(spark, sf_dir, src),
                table,
                [key],
                num_buckets,
                sort_cols=[key],
                path=f"{base_path}/{table}",
            )

    # fingerprint (mtime/size), not just path: regenerated fixture data
    # at the same path must invalidate the layout
    want = f"{fixture_fingerprint(sf_dir, 'orders', 'customer')}|{num_buckets}"
    pay_once([base_path], want, build)
    # A fresh session has an empty in-memory catalog, so REGISTER the
    # layout on disk (metadata-only DDL; Spark reads bucket ids from the
    # writer's file names) instead of re-WRITING the data.
    for table, _, key in tables:
        if not spark.catalog.tableExists(table):
            path = f"{base_path}/{table}"
            schema = spark.read.parquet(path).schema
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            spark.sql(
                f"CREATE TABLE {table} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
            )


__all__ = [
    "write_bucketed",
    "colocated_join",
    "ensure_bucketed_fixtures",
]
