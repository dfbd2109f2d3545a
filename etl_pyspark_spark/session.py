"""One shared SparkSession for the whole engine.

The reference boots a fresh ``local[2]`` 1g/1g JVM per 5000-row chunk
(reference nyc_taxi_etl.py:14-33, main.py:150-151) — ~10s of JVM
startup per work unit. Here a single session serves every operator;
Spark's task scheduler provides the parallelism the reference built
out of OS processes.

Config choices (and why):

- ``spark.sql.ansi.enabled=false`` — Spark 4 defaults ANSI on, which
  *errors* on division by zero. The engine pins the permissive
  semantics (x/0 -> NULL for doubles) that both the reference's
  guarded divisions (nyc_taxi_etl.py:60-75) and the DuckDB oracle
  exhibit.
- ``spark.sql.session.timeZone=UTC`` — fixture timestamps are naive;
  pinning UTC makes ``hour()``/``date_trunc`` agree with DuckDB
  regardless of host TZ.
- ``spark.sql.parquet.compression.codec=zstd`` — the reference zstd-
  compresses every parquet write (parquet_slicer.py:57,
  parquet_assembler.py:36); we make it the session default.
- AQE on (coalesce shuffle partitions, skew-join splitting) — at
  100 TB the static ``shuffle.partitions`` is never right; AQE
  re-plans from runtime stats.
- ``shuffle.partitions`` defaults to cores locally, but that is only
  the FLOOR: AQE coalesces down, never up, so
  ``sources.io.autosize_shuffle_partitions`` (called once at the
  start of every registered query) raises it to the fixture's input
  volume — the 100x grow smoke spilled at the static 32 until the
  volume-derived value (one partition per ~200k input rows of the
  largest table) applied.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_LOG = logging.getLogger("etl_pyspark_spark")


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


#: Runtime-settable SQL confs every engine query depends on.
#: ``get_session`` builds with them, and ``ensure_compat`` pins them
#: once on any session a registered query runs on, because the
#: *caller* may hand us a session built with Spark 4 defaults (ANSI on ->
#: division by zero errors; host TZ -> hour() drift; TIMESTAMP(NANOS)
#: parquet rejected).
RUNTIME_COMPAT_CONF = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 rejects TIMESTAMP(NANOS) parquet unless nanos surface as
    # epoch-nano longs (normalize_event_ts converts them); the
    # fixtures' events.ts is TIMESTAMP(MICROS) and unaffected
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # UDTFs evaluate Arrow-batched (ArrowEvalPythonUDTF), keeping the
    # engine's no-row-at-a-time-Python rule true for the UDTF surface
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # HotSpot C2 refuses to JIT methods over 8000 bytecode bytes
    # (-XX:-DontCompileHugeMethods is off by default), so a generated
    # whole-stage method past that runs as INTERPRETED bytecode —
    # slower than Spark's own non-codegen path. Align Spark's
    # fallback threshold with the JIT's (SPARK-21871): wide-expression
    # queries (the 16-replicate Poisson bootstrap: 32 aggregates over
    # 16 derived weights) measured 2x faster in both A/B orders;
    # everything else was order-noise-neutral (BASELINE.md round 9).
    "spark.sql.codegen.hugeMethodLimit": "8000",
    # Arrow batches for the pandas-UDF surface: 2500 records, not
    # Spark's 10000. The r11 cold-pool A/B (BASELINE.md round 11;
    # order-deconfounded rerun included — the first pass's "3x" was
    # mostly OS-file-cache order confounding) measured the GEMM-heavy
    # family ~30% faster on session-cold reps and never slower warm,
    # and the full-registry sf0.1 arm with this value was the fastest
    # of four (410.0 vs 447.5 s base, 0 regressions beyond sub-4 s
    # jitter). Mechanically: per-batch worker temporaries in the
    # Arrow-GEMM operators scale with batch rows, and ~1.3 MB input
    # batches keep them allocator-friendly; narrow-row queries see
    # only ~4x more (cheap) batch boundaries.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2500",
}

def ensure_compat(spark: SparkSession) -> SparkSession:
    """Pin the runtime confs the engine's semantics rely on, once per
    session object: the first call sets and reads back every
    ``RUNTIME_COMPAT_CONF`` entry and flags the session, later calls
    return at once. The engine calls it in two places: ``get_session``
    and the prologue of every registered query (``queries.core.query``);
    a read never does. A session from ``spark.newSession()`` is a new
    object and gets pinned by its own first query. A conf the caller
    changes after the pin stays changed.

    Failures are LOUD (one warning log, at the pin): a silently
    dropped conf is how round 1 shipped the events.ts NTZ bug. The
    confs do not fix a column's surface — ``events.ts`` reads as
    TIMESTAMP_NTZ with or without ``nanosAsLong``, which only affects
    TIMESTAMP(NANOS) files — so schema-sensitive code branches on the
    observed dtype (``sources.io.normalize_event_ts``) instead of
    trusting confs.
    """
    if getattr(spark, "_graft_compat_pinned", False):
        return spark
    failed: dict[str, str] = {}
    for k, v in RUNTIME_COMPAT_CONF.items():
        try:
            spark.conf.set(k, v)
            got = spark.conf.get(k, None)
            if got != v:
                failed[k] = f"set ok but reads back {got!r}"
        except Exception as e:  # static conf on some build
            failed[k] = repr(e)
    if failed:
        _LOG.warning(
            "compat confs not applied (dtype normalizers still cover "
            "the schema surface, but semantics may drift): %s", failed,
        )
    spark._graft_compat_pinned = True
    return spark


def get_session(
    app_name: str = "etl-pyspark-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local default is ``local[$SPARK_GRAFT_CPUS]``; on a cluster pass
    ``master=None`` with a spark-submit-provided master. All knobs are
    plain Spark confs so the same code runs unmodified at 1000
    executors. The builder carries ``RUNTIME_COMPAT_CONF`` (so sessions
    from ``newSession()`` start from it too) plus the confs only a
    build sets; the returned session is already pinned
    (``ensure_compat``), so its queries set no compat conf.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config(map=RUNTIME_COMPAT_CONF)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local-mode heap: 32 task threads + accumulated caches (the
        # dedup family's shared stages, layout warm-ups, streaming
        # state) thrash an 8g heap once a session has run a few dozen
        # queries — measured 2-3x session-wide slowdown from GC at the
        # tail of a 200-query run; 20g removes it entirely. On a real
        # cluster this is spark.executor.memory sizing, same rule:
        # heap must cover concurrent-task working set + cached state.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return ensure_compat(builder.getOrCreate())
