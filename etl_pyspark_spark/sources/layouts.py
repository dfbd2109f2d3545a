"""The engine's on-disk state: one scratch root and the pay-once layouts.

Every file the engine writes to a path of its own choosing lives under
``_SCRATCH``, ``<checkout>/.scratch``, derived from this package's
location so each checkout keeps its own. Two kinds of files live there:

- **Pay-once lake layouts** (hive-partitioned, two-spec, Z-ordered,
  range-clustered, per-fixture skipping copy, deflate sizes, bucketed):
  ingest-time rewrites of a fixture, built once and reused until the
  fixture changes. ``pay_once`` is the one rule for that. Each output
  directory holds a ``.built_for`` marker naming what it was built
  from (``sources.io.fixture_fingerprint``), and the layout is rebuilt
  unless every marker matches.
- **Query sinks** (round trips, compaction, the per-session jsonl
  sinks), which each query overwrites on every run. ``gc_scratch``
  sweeps the per-session ones that crashed runs leave behind.

Paths are built at call time from the module global ``_SCRATCH``, and
modules that write sinks import that global by name, so a harness can
move the whole tree by rebinding ``_SCRATCH`` wherever it appears.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_pyspark_spark.sources.io import (
    fixture_fingerprint,
    read_table,
    write_parquet,
    write_range_clustered,
    write_zordered,
)

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def _marker_current(marker_path: str, want: str) -> bool:
    try:
        with open(marker_path) as fh:
            return fh.read().strip() == want
    except OSError:
        return False


def _write_marker(marker_path: str, want: str) -> None:
    """Write a layout marker atomically (tmp + rename) so a concurrent
    reader never observes a half-written marker; since the marker is
    written only AFTER its layout write completes, the last rename to
    win the race matches an existing complete layout."""
    import tempfile

    d = os.path.dirname(marker_path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".marker.")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(want)
        os.replace(tmp, marker_path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def pay_once(outputs: list[str], want: str, build: Callable[[], None]) -> None:
    """Run ``build`` unless every output directory's marker reads
    ``want``; then mark each output as built for ``want``. One marker
    per output, all written after ``build`` returns: a deleted or
    partial output whose sibling's marker survived still rebuilds."""
    markers = [os.path.join(out, ".built_for") for out in outputs]
    if all(_marker_current(m, want) for m in markers):
        return
    build()
    for m in markers:
        _write_marker(m, want)


def _fixture_name(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def skipping_lineitem_dir(sf_dir: str) -> str:
    """Per-fixture range-clustered lineitem copy; oracle SQL names its
    files, so it takes a fixture name (``sf0.01``) as well as a path."""
    return f"{_SCRATCH}/skipping_lineitem_{_fixture_name(sf_dir)}"


def deflate_sizes_dir(sf_dir: str) -> str:
    """Per-fixture deflate sizes table (``sizes.parquet``); oracle SQL
    names it, like ``skipping_lineitem_dir``."""
    return f"{_SCRATCH}/deflate_sizes_{_fixture_name(sf_dir)}"


def ensure_orders_by_year(spark: SparkSession, sf_dir: str) -> str:
    """Hive-partitioned orders layout, so repeat queries time the
    pruned SCAN, not the one-time layout build."""
    out = f"{_SCRATCH}/orders_by_year"

    def build():
        o = read_table(spark, sf_dir, "orders")
        write_parquet(
            o.withColumn("order_year", F.year("o_orderdate")),
            out,
            partition_by=["order_year"],
        )

    pay_once([out], fixture_fingerprint(sf_dir, "orders"), build)
    return out


def ensure_orders_mixed_spec(spark: SparkSession, sf_dir: str) -> tuple:
    """Two-generation lake layout: orders before 1998 partitioned by
    year only (the original spec), 1998 onward by year/month (the
    evolved spec; the fixture spans 1995-2001)."""
    old_out = f"{_SCRATCH}/orders_spec_v1"
    new_out = f"{_SCRATCH}/orders_spec_v2"

    def build():
        o = read_table(spark, sf_dir, "orders").withColumn(
            "order_year", F.year("o_orderdate")
        )
        write_parquet(
            o.where(F.col("order_year") < 1998),
            old_out,
            partition_by=["order_year"],
        )
        write_parquet(
            o.where(F.col("order_year") >= 1998).withColumn(
                "order_month", F.month("o_orderdate")
            ),
            new_out,
            partition_by=["order_year", "order_month"],
        )

    pay_once([old_out, new_out], fixture_fingerprint(sf_dir, "orders"), build)
    return old_out, new_out


def ensure_zorder_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Z-ordered lineitem copy. Built apart from its query so the bench
    warm-up pays the ingest-time rewrite untimed and ``zorder_layout``
    times the pruned SCAN (advice r02 #3)."""
    dst = f"{_SCRATCH}/zorder_lineitem"

    def build():
        li = read_table(spark, sf_dir, "lineitem")
        day = F.datediff(F.col("l_shipdate"), F.lit("1992-01-01"))
        # The Morton interleave uses the low 16 bits of each dimension.
        # Quantize any dimension whose max overflows that (shiftright
        # by excess bit-length — integer-exact, order-preserving) so
        # large partkeys keep 2-D locality instead of silently
        # truncating to their low 16 bits (advice r02). One tiny
        # build-time agg; shift 0 == no-op at small sf.
        mx = li.agg(
            F.max(day).alias("a"), F.max("l_partkey").alias("b")
        ).first()
        sh_a = max(0, int(mx["a"] or 0).bit_length() - 16)
        sh_b = max(0, int(mx["b"] or 0).bit_length() - 16)
        write_zordered(
            li,
            dst,
            F.shiftright(day.cast("bigint"), sh_a),
            F.shiftright(F.col("l_partkey").cast("bigint"), sh_b),
            num_files=8,
        )

    pay_once([dst], fixture_fingerprint(sf_dir, "lineitem"), build)
    return dst


def _ensure_range_clustered(spark: SparkSession, sf_dir: str, dst: str) -> str:
    def build():
        li = read_table(spark, sf_dir, "lineitem")
        write_range_clustered(li, dst, "l_shipdate", num_files=8)

    pay_once([dst], fixture_fingerprint(sf_dir, "lineitem"), build)
    return dst


def ensure_range_clustered_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Range-clustered lineitem copy, one directory for whichever
    fixture was built last."""
    return _ensure_range_clustered(
        spark, sf_dir, f"{_SCRATCH}/range_clustered_lineitem"
    )


def ensure_skipping_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """The same range-clustered copy, but one directory PER fixture, so
    an sf0.1 bench run never invalidates the sf0.01 files the oracle
    SQL of the file-level reports points at."""
    return _ensure_range_clustered(spark, sf_dir, skipping_lineitem_dir(sf_dir))


def ensure_deflate_sizes(sf_dir: str) -> str:
    """Per-fixture deflate(6) size of every document, built driver-side
    in plain single-process Python (no Spark) so the oracle can
    value-check the distributed mapInPandas plumbing against an
    independent computation with the same zlib build."""
    dst = deflate_sizes_dir(sf_dir)

    def build():
        import zlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        src = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        )
        ids = src.column("doc_id").to_pylist()
        sizes = [
            len(zlib.compress((t or "").encode("utf-8"), 6))
            for t in src.column("text").to_pylist()
        ]
        os.makedirs(dst, exist_ok=True)
        pq.write_table(
            pa.table(
                {"doc_id": ids, "compressed_bytes": sizes},
                schema=pa.schema(
                    [("doc_id", pa.int64()), ("compressed_bytes", pa.int64())]
                ),
            ),
            f"{dst}/sizes.parquet",
        )

    pay_once([dst], fixture_fingerprint(sf_dir, "documents"), build)
    return dst


def gc_scratch(max_age_s: int = 3600) -> int:
    """Sweep stale session-scoped sink directories (``jsonl_sink_*``):
    each run rmtree's only its OWN applicationId dir, so crashed or
    abandoned sessions leak one directory apiece. Age-based so a
    concurrently RUNNING session's fresh directory is never raced;
    returns the number removed."""
    import shutil
    import time

    removed = 0
    root = _SCRATCH
    if not os.path.isdir(root):
        return 0
    cutoff = time.time() - max_age_s
    for name in os.listdir(root):
        if not name.startswith("jsonl_sink_"):
            continue
        path = os.path.join(root, name)
        try:
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
                removed += 1
        except OSError:
            continue
    return removed


def ensure_layouts(spark: SparkSession, sf_dir: str) -> None:
    """Build every pay-once lake layout for ``sf_dir`` if missing or
    stale, and sweep stale session sinks (the ingest-time janitor).
    The bench calls this in its untimed warm-up so per-query numbers
    measure the pruned or co-located SCANS, as in production where
    layout is paid at ingest. Queries still ensure their own layout
    lazily, so correctness runs need no warm-up."""
    # imported here: bucketed imports this module for its root
    from etl_pyspark_spark.sources.bucketed import ensure_bucketed_fixtures

    gc_scratch()
    ensure_orders_by_year(spark, sf_dir)
    ensure_orders_mixed_spec(spark, sf_dir)
    ensure_zorder_lineitem(spark, sf_dir)
    ensure_range_clustered_lineitem(spark, sf_dir)
    ensure_skipping_lineitem(spark, sf_dir)
    ensure_deflate_sizes(sf_dir)
    ensure_bucketed_fixtures(spark, sf_dir)
