"""Set-dictionary broadcast gate (r9 advice #4).

The shingle-pair verify stages broadcast the per-doc set dictionary —
correct while it is small, a hard failure past Spark's 8 GB broadcast
limit. ``dedup.shared.dict_hint`` gates the hint on measured corpus
bytes; these tests pin the gate's decisions and prove the fallback
(shuffled hash join) is LOSSLESS by value-comparing the containment
query against its DuckDB oracle with the cap lowered to 0, which
forces the hint off.
"""

from __future__ import annotations

from tests.oracle_utils import compare, duckdb_connect


def _hinted(df) -> bool:
    return "hint" in df._jdf.queryExecution().logical().toString().lower()


def test_dict_hint_gate_decisions(spark, oracle_sf_dir, monkeypatch):
    from etl_pyspark_spark.dedup import shared

    small = spark.range(4)
    cb = shared.corpus_bytes_of(oracle_sf_dir)
    # the fixture corpus must measure small — otherwise the pinned
    # broadcast-verify plan shape (test_plans.py) would silently flip
    assert cb and cb < shared._DICT_BCAST_MAX_CORPUS_BYTES
    assert _hinted(shared.dict_hint(small, cb))
    assert not _hinted(
        shared.dict_hint(small, shared._DICT_BCAST_MAX_CORPUS_BYTES + 1)
    )
    # unmeasured corpus keeps the hint (documented default)
    assert _hinted(shared.dict_hint(small, None))
    # the cap alone decides: 0 forces the fallback, 10**18 the hint
    monkeypatch.setattr(shared, "_DICT_BCAST_MAX_CORPUS_BYTES", 0)
    assert not _hinted(shared.dict_hint(small, cb))
    monkeypatch.setattr(shared, "_DICT_BCAST_MAX_CORPUS_BYTES", 10**18)
    assert _hinted(shared.dict_hint(small, 10**18))


def test_containment_lossless_without_broadcast(
    spark, oracle_sf_dir, monkeypatch
):
    """Forcing the shuffled-join fallback must not change one row:
    the gate swaps the dictionary's transport, never the semantics.
    Each built query's plan carries no hint, so the fallback ran."""
    from etl_pyspark_spark.dedup import shared
    from etl_pyspark_spark.registry import ORACLES, QUERIES

    monkeypatch.setattr(shared, "_DICT_BCAST_MAX_CORPUS_BYTES", 0)
    con = duckdb_connect(oracle_sf_dir)
    try:
        for name in ("dedup_containment", "dedup_ngram_prefix"):
            df = QUERIES[name](spark, oracle_sf_dir)
            assert not _hinted(df), name
            probs = compare(df, con, ORACLES[name])
            assert not probs, (name, probs)
    finally:
        con.close()
