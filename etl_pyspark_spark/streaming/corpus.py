"""Incremental (streaming) corpus prep: the flagship LLM-data gate as
a continuously-running pipeline.

The batch flagship (registry.corpus_prep_pipeline) re-reads the whole
corpus every run; a production ingest sees documents ARRIVE and wants
each batch gated and deduplicated against everything already accepted.
This module runs the same cheap-first stages incrementally:

1. stream the documents source (file source here; any stream in prod),
2. score language + quality with the SAME codegen'd expressions as the
   batch path (one tokenize-once projection),
3. gate (quality >= 0.4, language identified),
4. stateful exact dedup on the normalized-text fingerprint —
   ``dropDuplicates`` keyed by fingerprint, so a re-arriving document
   is dropped no matter which micro-batch carried its first copy.

The returned summary (accepted docs per predicted language) is
ORDER-INDEPENDENT: whichever duplicate instance a batch boundary lets
through first, the distinct-fingerprint set per language is the same —
which is why the registry entry can hash-match a plain SQL oracle even
though streaming arrival order is not deterministic.

Scale notes: dedup state is keyed by the 60-bit fingerprint (16 bytes
a row, not the document), partitioned by the state-store shuffle; at
100 TB/day the knob is ``dropDuplicatesWithinWatermark`` to bound
state to the re-ingest horizon. MinHash near-dedup stays a batch
compaction stage over accepted docs (registry.corpus_prep_pipeline) —
LSH banding needs corpus-wide candidate joins that streaming state
cannot express incrementally without quadratic state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pyspark_spark.functions import text as T
from etl_pyspark_spark.functions.compat import pround
from etl_pyspark_spark.sources.io import parquet_schema
from etl_pyspark_spark.streaming.windows import run_to_memory_table


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the documents fixture. The schema is the batch
    reader's (``sources.io.parquet_schema``): inferring it runs one
    Spark job, which the memo pays once per file and conf set."""
    import os

    path = f"{sf_dir}/documents.parquet"
    schema = parquet_schema(spark, path)
    if os.path.isdir(path):
        # directory-shaped table (lake layout / grow-mode fixtures):
        # stream the directory — the glob filter below would match
        # zero leaf files and replay an empty corpus
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def incremental_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accepted-documents-per-language summary from the streaming
    gate + stateful exact dedup, replayed to completion."""
    sdf = stream_documents(spark, sf_dir)
    c = F.col("text")
    staged = sdf.select(
        "doc_id",
        "text",
        T.ws_tokens(c).alias("__toks"),
        T.ws_tokens(F.lower(c)).alias("__ltoks"),
    )
    scored = staged.select(
        "doc_id",
        T.language_id(c, ltoks=F.col("__ltoks")).alias("lang_pred"),
        pround(
            T.quality_score(c, toks=F.col("__toks"), ltoks=F.col("__ltoks")),
            6,
        ).alias("quality"),
        T.doc_fingerprint(c).alias("fingerprint"),
    )
    gated = scored.where(
        (F.col("quality") >= 0.4) & (F.col("lang_pred") != "und")
    )
    deduped = gated.dropDuplicates(["fingerprint"])
    # dropDuplicates emits on first sight; no eviction-driven output
    accepted = run_to_memory_table(
        deduped.select("lang_pred", "fingerprint"),
        spark,
        mode="append",
        final_flush=False,
    )
    return accepted.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_accepted")
    )
