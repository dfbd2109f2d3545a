"""Session-scoped shared stages for the dedup family.

The registry's dedup queries (MinHash-LSH, n-gram Jaccard, prefix
filter, connected components, canonical selection, SimHash pairs) all
derive from the same expensive intermediates over the ``documents``
fixture: hashed shingles, per-doc sorted hash sets, verified near-dup
pairs, the dup-cluster labels, SimHash fingerprints. Before round 3
each query rebuilt its chain from the raw text (~18 s of the sf0.1
bench was pure re-derivation). This module memoizes each stage ONCE
per (session, fixture) as a cached DataFrame, so within a session the
family pays each stage once — the same economics as materializing the
shingle/pair tables to the lake between pipeline steps at 100 TB
(where these would be checkpointed parquet, not executor cache).

Each stage is a ``checkpoint.session_memo`` entry keyed on the Spark
``applicationId`` (a new session re-derives everything), the
``documents`` fixture fingerprint (regenerated fixture data
invalidates the memo — same staleness rule as the layout markers) and
the stage name; that module also owns eviction.

Every cached stage is a derived artifact (int64 hashes, id pairs,
labels — never raw text), orders of magnitude smaller than the
corpus, so pinning them in executor storage is safe at any scale the
session itself can handle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from etl_pyspark_spark.checkpoint import FAMILY_CACHE, session_memo

# --- set-dictionary broadcast gate -------------------------------------
# The shingle-pair verify stages stream candidates through lookups of
# the per-doc set dictionary. Broadcasting that dictionary is the right
# plan while it is small (candidates dwarf it on low-diversity corpora
# and never shuffle), but Spark hard-fails broadcasts past 8 GB and
# driver memory dies well before — so the hint is GATED on the SOURCE
# corpus size instead of being unconditional. Past the cap the same
# joins run as shuffled hash joins on the set table (the asymptotics —
# candidates x array_intersect — are unchanged either way; only the
# dictionary's transport changes). The gate reads the corpus size, not
# Catalyst's estimate of the derived aggregate: without CBO stats the
# optimizer sizes a join as the PRODUCT of its children's bytes, so
# derived-plan estimates are junk-large and would silently flip
# fixture-scale plans off the pinned broadcast shape.
_DICT_BCAST_MAX_CORPUS_BYTES = 64 << 20  # on-disk corpus bytes; the
# h60-array dictionary measures ~3-4x the zstd text bytes, so this
# keeps the broadcast under ~256 MB — conservative vs the 8 GB limit


def _scan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes for ``df``'s plan — reliable only when
    the plan is (close to) a raw scan relation, where it equals file
    bytes. None when the JVM handle is unavailable."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


def dict_hint(dict_df: DataFrame, corpus_bytes: int | None) -> DataFrame:
    """Broadcast hint for a set-dictionary join side, gated on size.

    ``SPARK_GRAFT_SET_DICT_BROADCAST`` = ``always`` | ``never`` |
    ``auto`` (default): auto broadcasts while the source corpus is
    under ``_DICT_BCAST_MAX_CORPUS_BYTES`` on disk and falls back to a
    plain (shuffled hash) join above it. ``corpus_bytes`` None means
    no reliable source measurement exists (callers pass parquet footer
    bytes or a scan-relation estimate); auto then keeps the broadcast —
    the bench/test surfaces always measure, and the ``never`` switch
    is the manual escape for unmeasurable lake inputs."""
    mode = os.environ.get("SPARK_GRAFT_SET_DICT_BROADCAST", "auto")
    if mode == "never":
        return dict_df
    if mode == "always":
        return F.broadcast(dict_df)
    if corpus_bytes is not None and corpus_bytes > _DICT_BCAST_MAX_CORPUS_BYTES:
        return dict_df
    return F.broadcast(dict_df)


def corpus_bytes_of(sf_dir: str, table: str = "documents") -> int | None:
    """On-disk bytes of a fixture table (parquet footer walk), None if
    unreadable — the measurement ``dict_hint`` gates on."""
    import os as _os

    from etl_pyspark_spark.sources.io import _table_bytes

    try:
        return _table_bytes(_os.path.join(sf_dir, f"{table}.parquet")) or None
    except Exception:
        return None

def shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h60): 60-bit hashes of distinct word-3-gram shingles
    of ``documents`` — the root intermediate of the whole family."""
    from etl_pyspark_spark.dedup.minhash import hashed_shingles
    from etl_pyspark_spark.sources.io import read_table

    return session_memo(
        spark,
        sf_dir,
        "documents",
        "shingle_hashes",
        lambda: hashed_shingles(read_table(spark, sf_dir, "documents")).persist(
            FAMILY_CACHE
        ),
    )


def _hash_sets_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs sorted array<h60>, hs_rarest df-ordered array<h60>,
    n_sh): BOTH per-doc set orderings from ONE pass over the postings.

    Before r10 the hash-sorted sets and the rarest-first reorder were
    two separate memo stages — the reorder re-exploded the first
    stage's arrays, so a cold family build paid the doc-keyed
    aggregation twice (measured ~12.9 s cold at sf0.1, r9 verdict
    what's-wrong #3). Folded: one document-frequency aggregation over
    the postings, one h60-keyed join, one doc-keyed aggregation whose
    (df, h60)-sorted struct array yields the rarest-first order
    directly and the hash-sorted order via a second in-row sort —
    array transforms, no extra shuffle, one cached stage instead of
    two."""

    def build() -> DataFrame:
        posts = shingle_hashes(spark, sf_dir)
        # per-doc h60 uniqueness: shingle strings are distinct per doc
        # (minhash.shingles), so countDistinct + collect_set only
        # guard the astronomically-rare in-doc 60-bit collision — the
        # same defensive dedup ngram.py applies on its standalone path
        df_tbl = posts.groupBy("h60").agg(
            F.countDistinct("doc_id").alias("df")
        )
        return (
            posts.join(df_tbl, "h60")
            .groupBy("doc_id")
            .agg(
                F.sort_array(F.collect_set(F.struct("df", "h60"))).alias(
                    "sd"
                )
            )
            .select(
                "doc_id",
                F.sort_array(
                    F.transform(F.col("sd"), lambda s: s["h60"])
                ).alias("hs"),
                F.transform(F.col("sd"), lambda s: s["h60"]).alias(
                    "hs_rarest"
                ),
            )
            .withColumn("n_sh", F.size("hs"))
            .persist(FAMILY_CACHE)
        )

    return session_memo(spark, sf_dir, "documents", "hash_sets_ordered", build)


def doc_hash_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs sorted array<h60>, n_sh): per-doc shingle-hash SET —
    the verify-side structure for both MinHash verification and the
    PPJoin prefix filter. A projection of the fused
    :func:`_hash_sets_ordered` stage (one build serves both orders)."""
    return _hash_sets_ordered(spark, sf_dir).select("doc_id", "hs", "n_sh")


def doc_hash_sets_rarest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs array<h60> in ascending-(document frequency, h60)
    order, n_sh): the same per-doc shingle-hash sets as
    :func:`doc_hash_sets`, ordered RAREST-FIRST.

    This is the global token order the PPJoin-style prefix filters
    want (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07): a doc's
    prefix then holds its rarest shingles, so prefix postings-lists
    stay short even on low-diversity corpora where ascending-hash
    order puts ultra-common shingles in prefixes and candidate pairs
    go quadratic (the r8 native-fixture finding: dedup_ngram_prefix
    ~107x wall for 10x data). Any fixed global order is lossless, so
    every consumer's oracle is unchanged. Shares the fused
    :func:`_hash_sets_ordered` build with :func:`doc_hash_sets`."""
    return _hash_sets_ordered(spark, sf_dir).select(
        "doc_id", F.col("hs_rarest").alias("hs"), "n_sh"
    )


def verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard): MinHash-LSH candidates verified
    by exact Jaccard at threshold 0.5 — shared by the LSH query,
    components, and canonical selection."""
    from etl_pyspark_spark.dedup.minhash import verified_near_duplicates
    from etl_pyspark_spark.sources.io import read_table

    def build() -> DataFrame:
        return verified_near_duplicates(
            read_table(spark, sf_dir, "documents"),
            threshold=0.5,
            sh=shingle_hashes(spark, sf_dir),
            sets=doc_hash_sets(spark, sf_dir),
        ).persist(FAMILY_CACHE)

    return session_memo(spark, sf_dir, "documents", "verified_pairs", build)


def dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component_id): connected components over the verified
    pair graph — the label-propagation iteration runs once per
    session, not once per consuming query."""
    from etl_pyspark_spark.dedup.components import connected_components

    return session_memo(
        spark,
        sf_dir,
        "documents",
        "dup_components",
        lambda: connected_components(verified_pairs(spark, sf_dir)).persist(
            FAMILY_CACHE
        ),
    )


def simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 32-bit fingerprints — shared by the
    fingerprint query and the Hamming-pair query."""
    from etl_pyspark_spark.dedup.simhash import simhash
    from etl_pyspark_spark.sources.io import read_table

    return session_memo(
        spark,
        sf_dir,
        "documents",
        "simhash_sigs",
        lambda: simhash(read_table(spark, sf_dir, "documents")).persist(
            FAMILY_CACHE
        ),
    )


__all__ = [
    "shingle_hashes",
    "doc_hash_sets",
    "doc_hash_sets_rarest",
    "verified_pairs",
    "dup_components",
    "simhash_sigs",
    "dict_hint",
    "corpus_bytes_of",
]
