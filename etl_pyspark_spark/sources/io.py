"""Sources and sinks.

Covers the reference's whole IO surface (SURVEY.md §2.1, S1-S8) with
distributed Spark primitives:

- S2/S5 parquet scans      -> ``read_parquet`` (column-pruned,
  predicate-pushed by the Parquet DataSource; the reference loads the
  whole file into one Arrow table, parquet_slicer.py:50)
- S3 row-range partitioner -> Spark's own scan splitting
  (``spark.sql.files.maxPartitionBytes``); an explicit chunked *write*
  is ``write_parquet(..., max_records_per_file=N)``
- S4/S8 zstd parquet sinks -> ``write_parquet`` (session default codec
  is zstd; see session.py)
- S6/S7 text round-trip    -> intentionally NOT reproduced (lossy,
  driver-bound; nyc_taxi_etl.py:105-119, parquet_assembler.py:17-28).
  DataFrames stay in-engine between operators.
- S8 gather/union          -> ``gather`` (``unionByName`` reduce); but
  note ``read_parquet(dir)`` already unions part-files for free.

Scale notes: no function here ever materializes data on the driver;
every reader returns a lazy DataFrame and every sink is a distributed
``df.write``. Single-file output (the reference's result.parquet) is
``coalesce=1`` — only for small results.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pyspark_spark.session import ensure_compat

#: Tables the driver generates under /root/testdata/sf*/ (TESTDATA.md)
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Distributed parquet scan (reference S2/S5 without the eager
    ``count()`` job of nyc_taxi_etl.py:43)."""
    return spark.read.parquet(path)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events fixture's parquet TIMESTAMP(NANOS) column to
    a microsecond TIMESTAMP, whatever surface the session's reader gave
    it. ``spark.sql.legacy.parquet.nanosAsLong`` only takes effect when
    present at session *build* time — a caller-provided session (the
    verify driver's, a notebook's) built with Spark 4 defaults surfaces
    nano parquet as TIMESTAMP_NTZ instead, and setting the conf at
    runtime does not change that. So branch on the observed dtype:

    - ``bigint``        (nanosAsLong took)  -> ``timestamp_micros(ts div
      1000)``. Integer ``div``: a double ``/ 1000`` would round epoch
      nanos (> 2^53) and shift some timestamps by 1 us.
    - ``timestamp_ntz`` (Spark 4 default)   -> cast to TIMESTAMP. The
      reader already truncated nanos to micros; with the session TZ
      pinned UTC (ensure_compat) the cast is value-identical — verified
      bit-exact against DuckDB's ``epoch_us`` read.
    - ``timestamp``     -> already the target surface; no-op.

    Every event-time consumer (batch ``read_table`` and streaming
    ``stream_events``) goes through this one helper — per-query
    handling is how the NTZ surface slipped through in round 1.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# --- shuffle-partition auto-sizing (r06 verdict #1) -----------------------
#
# AQE coalesces shuffle partitions DOWN, never up: a session pinned to
# `cpus` partitions (right for 32 cores at sf0.1) pushed ~20M+ rows
# per partition into spill at the 100x grow smoke until a human set
# 256. The rule "size shuffle.partitions to the job's data volume" is
# the one knob that is ALWAYS set per job on a real cluster — so the
# engine derives it from the fixture itself: the largest table's row
# count (read from parquet FOOTERS only, memoized per fixture dir),
# one partition per ~200k input rows, floored at the session's own
# configured value and capped at 4096. At bench scale (600k rows) the
# floor wins and the sf0.1 plan is byte-identical; at 30x/100x the
# derived value (90/300) keeps the widest intermediate (the wedge
# aggregation's ~700M rows) out of spill with NO manual knob. Rows,
# not bytes, because the pathological shuffles are intermediate
# EXPLOSIONS (quadratic-in-degree wedges) — compressed input bytes
# under-estimate them by 30x+.
#
# Opt out with SPARK_GRAFT_SHUFFLE_AUTOSIZE=0 (e.g. an A/B that wants
# a hand-pinned value to stick across read_table calls); session-
# builder `shuffle_partitions=` overrides act as the floor instead.

_AUTOSIZE_ROWS_PER_PARTITION = 200_000
_AUTOSIZE_MAX_PARTITIONS = 4096
_FIXTURE_MAX_ROWS: dict[str, int] = {}
_SHUFFLE_BASELINE: dict[str, int] = {}


def _fixture_max_rows(sf_dir: str) -> int:
    """Largest fixture table's row count, from parquet footers only
    (no data pages, no Spark job); memoized per fixture identity so a
    regenerated fixture at the same path re-measures.

    A footer read that FAILS (corrupt file, permission, missing
    pyarrow) logs one warning per fixture instead of being swallowed
    (r07 advice #3): a silently-inert autosize would reintroduce the
    exact 100x spill regression the feature exists to prevent, with
    no signal. Missing tables are normal (partial fixtures) and stay
    silent."""
    import os
    import sys

    key = fixture_fingerprint(sf_dir, *FIXTURE_TABLES)
    got = _FIXTURE_MAX_ROWS.get(key)
    if got is not None:
        return got
    failed: list[str] = []
    try:
        import pyarrow.parquet as pq
    except Exception as exc:  # pragma: no cover - pyarrow is baked in
        print(
            f"autosize: pyarrow unavailable ({exc}); shuffle-partition "
            f"autosizing DISABLED for {sf_dir}",
            file=sys.stderr,
        )
        _FIXTURE_MAX_ROWS[key] = 0
        return 0

    mx = 0
    for t in FIXTURE_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        n = 0
        try:
            if os.path.isdir(p):
                # directory-shaped table (grow fixtures, real lakes)
                for root, _, files in os.walk(p):
                    for f in files:
                        if f.endswith(".parquet"):
                            n += pq.ParquetFile(
                                os.path.join(root, f)
                            ).metadata.num_rows
            elif os.path.isfile(p):
                n = pq.ParquetFile(p).metadata.num_rows
        except Exception:
            failed.append(t)
            # NON-ZERO fallback (r08 verdict #5): estimate rows from
            # on-disk bytes at ~50 B/row. Compressed TPC-H-ish parquet
            # runs >= ~100 B/row, so this OVER-estimates rows — the
            # safe direction: an oversized shuffle-partition count is
            # coalesced back by AQE for free, while recording 0 rows
            # made autosize silently inert on exactly the fixture it
            # could no longer read.
            n = _table_bytes(p) // 50
        mx = max(mx, n)
    if failed:
        print(
            f"autosize: footer read FAILED for {failed} under {sf_dir}; "
            f"falling back to a bytes-derived row estimate (~50 B/row) "
            f"for those tables",
            file=sys.stderr,
        )
    _FIXTURE_MAX_ROWS[key] = mx
    return mx


def _table_bytes(p: str) -> int:
    """Total on-disk bytes of a file- or directory-shaped table; 0 if
    unreadable (the caller then degrades to an unsized table)."""
    import os

    total = 0
    try:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                for f in files:
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(root, f))
        elif os.path.isfile(p):
            total = os.path.getsize(p)
    except OSError:
        return 0
    return total


def autosize_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Set ``spark.sql.shuffle.partitions`` for this fixture's volume:
    ``clamp(session baseline, max_rows/200k, 4096)``. The baseline is
    the value the session was BUILT with (captured on first call), so
    alternating fixtures in one session re-derive per query — a 100x
    query raises it, the next sf0.1 query drops it back, and AQE
    coalesces any small case down for free. Returns the applied value
    (0 = autosize disabled/unavailable).

    Construct-then-execute-immediately assumption (r07 advice #4):
    the conf is set when ``read_table`` CONSTRUCTS the DataFrame, but
    Spark reads ``shuffle.partitions`` at EXECUTION — a plan built
    against a large fixture but executed only after a later
    ``read_table`` against a small one runs under the small value
    (perf only, never correctness). The engine's drivers (bench,
    tests, the external harness) all force each query before building
    the next, so the assumption holds there; an interleaving caller
    should re-call this right before each action."""
    import os

    if os.environ.get("SPARK_GRAFT_SHUFFLE_AUTOSIZE", "1") == "0":
        return 0
    try:
        app = spark.sparkContext.applicationId
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return 0
    base = _SHUFFLE_BASELINE.setdefault(app, cur)
    need = _fixture_max_rows(sf_dir) // _AUTOSIZE_ROWS_PER_PARTITION
    target = max(base, min(_AUTOSIZE_MAX_PARTITIONS, need))
    if cur != target:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
    return target


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver fixture table, e.g. ``read_table(spark, sf, 'lineitem')``.

    ``events.ts`` is TIMESTAMP(NANOS) in parquet; ``normalize_event_ts``
    maps every reader surface (nano-long, TIMESTAMP_NTZ, TIMESTAMP) to
    one microsecond TIMESTAMP — the same truncation DuckDB applies on
    read, so oracles agree.

    ``ensure_compat`` pins ANSI-off/UTC confs because the caller
    (e.g. the verify driver) may pass a session built with Spark 4
    defaults.

    Also auto-sizes ``spark.sql.shuffle.partitions`` to the fixture's
    volume (see ``autosize_shuffle_partitions``) — every engine query
    enters through here, so the knob tracks the data the query is
    about to shuffle.
    """
    ensure_compat(spark)
    autosize_shuffle_partitions(spark, sf_dir)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if "ts" in df.columns:
        df = normalize_event_ts(df, "ts")
    return df


def spread(df: DataFrame) -> DataFrame:
    """Repartition a scan whose file layout yields fewer splits than the
    cluster has cores — the small-file pathology (parquet splits only at
    row-group boundaries, so a single-row-group file is ONE task no
    matter how many cores exist), which serializes any CPU-heavy per-row
    stage (tokenization, hashing) onto one core.

    Guarded: a no-op whenever the scan already has at least half the
    default parallelism, which is the normal state on a real lake (many
    files / row groups), so at 100 TB this never inserts the extra
    round-robin shuffle. Call it only in front of genuinely
    compute-bound per-row stages; cheap scans don't repay the shuffle.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def read_csv(
    spark: SparkSession, path: str, header: bool = True, schema=None
) -> DataFrame:
    """CSV ingestion (replaces the reference's pandas text-result scan,
    parquet_assembler.py:17-28, with a distributed reader)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zstd",
    max_records_per_file: int | None = None,
    partition_by: list[str] | None = None,
    coalesce: int | None = None,
) -> None:
    """Distributed zstd parquet sink (reference S4/S8).

    ``max_records_per_file`` reproduces the slicer's fixed-row chunking
    (parquet_slicer.py:53-58) as a *write* option instead of a
    pre-materialization stage. ``partition_by`` gives hive-style layout
    for partition pruning at scale.
    """
    if coalesce is not None:
        df = df.coalesce(coalesce)
    writer = df.write.mode(mode).option("compression", compression)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def gather(dfs: list[DataFrame]) -> DataFrame:
    """N-way union by column name (reference assembler's pd.concat,
    parquet_assembler.py:32, without collecting to one machine)."""
    if not dfs:
        raise ValueError("gather() needs at least one DataFrame")
    return reduce(lambda a, b: a.unionByName(b), dfs)


def compact_small_files(
    spark: SparkSession, src_dir: str, dst_dir: str, target_files: int
) -> DataFrame:
    """Small-file compaction — the lake-maintenance operator every
    streaming/foreachBatch sink eventually needs (thousands of tiny
    part files destroy scan throughput: per-file open cost, tiny row
    groups, starved vectorized readers).

    Uses ``coalesce`` (narrow, no shuffle) rather than ``repartition``:
    each output task concatenates whole input files, so compaction cost
    is one read+write of the data with ZERO exchange. Use repartition
    only when output skew matters more than the shuffle."""
    df = spark.read.parquet(src_dir)
    df.coalesce(target_files).write.mode("overwrite").parquet(dst_dir)
    return spark.read.parquet(dst_dir)


def fixture_fingerprint(sf_dir: str, *tables: str) -> str:
    """Identity string for a pay-once layout marker: abspath of the
    fixture dir plus mtime_ns/size of each source parquet. Keying the
    marker on this (not the path alone) means regenerated fixture data
    at the same path triggers a rebuild instead of silently serving a
    stale layout."""
    import os

    parts = [os.path.abspath(sf_dir)]
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{t}:missing")
    return "|".join(parts)


def zorder_value(col_a, col_b, bits: int = 16):
    """Z-order (Morton) value: interleave the low ``bits`` bits of two
    non-negative integer columns — bit i of A lands at position 2i+1,
    bit i of B at 2i. Pure codegen'd shift/and/or expressions, no UDF.

    Callers pass RANKED/QUANTIZED dimensions (e.g. day number, bucket
    of a key): Z-ordering only needs the per-dimension ORDER, and
    ranking first keeps both dimensions dense so the curve interleaves
    real entropy, not empty value space."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_a = F.shiftright(col_a.cast("bigint"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(col_b.cast("bigint"), i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(bit_a, 2 * i + 1)).bitwiseOR(
            F.shiftleft(bit_b, 2 * i)
        )
    return z


def write_zordered(
    df: DataFrame,
    dst_dir: str,
    col_a,
    col_b,
    num_files: int,
    bits: int = 16,
) -> None:
    """Two-column Z-ordered parquet layout: range-partition and sort by
    the Morton value of (col_a, col_b), so each output file owns a
    compact REGION of the 2-D value space — min/max footer stats stay
    tight on BOTH columns, and a selective predicate on either (or
    both) skips most files. The multi-column generalization of
    ``write_range_clustered`` (which covers one dominant access path);
    pay the rewrite once, every 2-D-windowed scan afterwards prunes.

    ``col_a`` / ``col_b`` take names or Column EXPRESSIONS (e.g. a
    day-number derivation) — expression dims never materialize in the
    written files.
    """
    if isinstance(col_a, str):
        col_a = F.col(col_a)
    if isinstance(col_b, str):
        col_b = F.col(col_b)
    z = zorder_value(col_a, col_b, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(dst_dir)
    )


def write_range_clustered(
    df: DataFrame, dst_dir: str, cluster_col: str, num_files: int
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` on the
    cluster column (sampled range boundaries -> each output file owns
    a disjoint value interval) plus ``sortWithinPartitions`` (row
    groups within a file are ordered too).

    This is the single-column flavor of Z-ordering: every file and
    every row group carries tight min/max stats on ``cluster_col``, so
    a selective predicate at read time skips whole files and row
    groups via footer statistics. At 100 TB the clustered rewrite is
    paid once and every time-windowed scan afterwards reads only the
    matching slice — the same reason warehouses cluster fact tables on
    date. (Multi-column locality would interleave bits of several
    keys; one column covers the dominant time-window access path.)"""
    (
        df.repartitionByRange(num_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
