"""Storage levels and cache lifetimes: the one module that decides how
long any cached DataFrame in the engine lives.

Storage levels
--------------
``DISK_CKPT`` (DISK_ONLY) is the level of every ``localCheckpoint``
that truncates lineage in the iterative operators (PageRank, hash-min
components, BPE rounds, BFS hops...). Checkpoint blocks never occupy
heap and read back from disk per use: a long session's dead blocks
cannot fill the unified memory region, and disk read-back never
re-promotes blocks into the heap (the deserialized and serialized
memory levels both ran a full-registry 100x run out of memory through
that re-promotion; BASELINE.md round 9 has the measured table).

``FAMILY_CACHE`` (MEMORY_AND_DISK, serialized) is the level of every
``persist`` of a reused intermediate: compact bytes, graceful eviction,
no deserialized re-promotion on disk read-back.

Scopes
------
*Query scope.* ``scoped_persist`` caches a within-query intermediate
(two join sides, a probe plus a totals fold) and registers it;
``drain_scoped_caches`` releases everything registered so far. The
``query()`` decorator (``queries/core.py``) drains at the entry of the
next top-level query, when the previous query's action has consumed
its caches. Without the drain a 403-query session kept ~60 stale
cached plans that every later compilation walked.

*Session scope.* ``session_memo`` builds a value once per
(Spark application, fixture fingerprint, stage) and hands the same
value to every later caller in the session: the dedup family's shared
stages (``dedup/shared.py``) and the co-purchase edge table with its
edge count (``queries/_shared.py``). A new session or regenerated
fixture data gives a new key, so the value is rebuilt. Each stage name
keeps at most ``_MEMO_PER_STAGE`` entries; the oldest is evicted
first. Eviction unpersists persisted frames and only drops the
reference to ``localCheckpoint``-backed ones: their lineage is
truncated, so freeing the blocks under a still-live consumer would
leave it neither data nor a recipe. The ContextCleaner reclaims those
blocks once the last reference is gone.

The two scopes share Spark's CacheManager, which matches cached plans
by result, not by DataFrame object: unpersisting a query-scoped frame
releases ANY cache of the same plan. So the drain never releases a
plan that a session memo entry holds: ``scoped_persist`` does not
register a plan the memo already caches, and a new memo entry takes
over the registrations of its plans made earlier in the query. The
check runs at registration and memo build, never in the drain, and
only while the memo holds persisted frames. The cache stays with the
memo until the memo evicts it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

DISK_CKPT = StorageLevel.DISK_ONLY

FAMILY_CACHE = StorageLevel.MEMORY_AND_DISK


# --- query scope ------------------------------------------------------

_SCOPED: list = []


def scoped_persist(df, level=None):
    """persist() a within-query intermediate and register it for
    release at the next query boundary (see drain_scoped_caches).

    A frame that is ALREADY cached is returned as-is and NOT
    registered: its owner decides when it is released. That includes
    a plan a session memo entry caches through another DataFrame."""
    try:
        if df.is_cached or _memo_caches_plan(df):
            return df
    except Exception:
        pass
    _SCOPED.append(df.persist(level) if level is not None else df.persist())
    return df


def scoped_family_persist(df):
    """Postfix form of :func:`scoped_persist` at the FAMILY_CACHE
    level, for ``.transform(scoped_family_persist)`` chains."""
    return scoped_persist(df, FAMILY_CACHE)


def drain_scoped_caches() -> int:
    """Unpersist every scoped cache registered since the last drain;
    returns how many were released. Safe at any time: unpersist never
    breaks correctness (consumers recompute from lineage)."""
    n = 0
    while _SCOPED:
        df = _SCOPED.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass
    return n


def _cache_entry(df):
    """The CacheManager entry (a Scala ``Option``) serving ``df``'s
    plan, whichever DataFrame persisted it."""
    jspark = df.sparkSession._jsparkSession
    return jspark.sharedState().cacheManager().lookupCachedData(df._jdf)


def _memo_caches_plan(df) -> bool:
    """``df``'s plan is cached while the session memo holds persisted
    frames in its application. Without such frames the CacheManager
    is not asked, so sessions without a persisted memo stage pay
    nothing."""
    app = df.sparkSession.sparkContext.applicationId
    if not any(
        key[0] == app and any(f.is_cached for f in _frames(value))
        for key, value in _MEMO.items()
    ):
        return False
    return _cache_entry(df).isDefined()


def _unregister_memo_plans(value) -> None:
    """Drop the scoped registrations that cache a plan of the new memo
    value's persisted frames: the memo owns that cache from now on."""
    held = [_cache_entry(f) for f in _frames(value) if f.is_cached]
    held = [h for h in held if h.isDefined()]
    if held:
        _SCOPED[:] = [
            df
            for df in _SCOPED
            if not any(_cache_entry(df).equals(h) for h in held)
        ]


# --- session scope ----------------------------------------------------

_MEMO: dict[tuple, object] = {}
# Entries kept per stage name. A long session touches several fixtures
# (sf0.001/0.01/0.1, scale smokes); two lets the test suite interleave
# its unit and oracle fixtures without rebuilding. The cap is per
# stage, not per fixture group: the dedup stages key on the documents
# fingerprint and the edges on lineitem's, so a shared group cap would
# evict one family whenever the other ran.
_MEMO_PER_STAGE = 2


def session_memo(spark, sf_dir: str, table: str, stage: str, build: Callable):
    """``build()`` once per (application, fingerprint of ``table`` in
    ``sf_dir``, ``stage``); later calls return the same value. The
    value is a DataFrame or a tuple holding DataFrames; ``build``
    persists (at FAMILY_CACHE) or checkpoints them itself."""
    from etl_pyspark_spark.sources.io import fixture_fingerprint

    key = (
        spark.sparkContext.applicationId,
        fixture_fingerprint(sf_dir, table),
        stage,
    )
    if key in _MEMO:
        return _MEMO[key]
    same_stage = [k for k in _MEMO if k[2] == stage]
    while len(same_stage) >= _MEMO_PER_STAGE:
        for f in _frames(_MEMO.pop(same_stage.pop(0))):
            if f.is_cached:
                try:
                    f.unpersist(blocking=False)
                except Exception:
                    pass
    value = _MEMO[key] = build()
    try:
        _unregister_memo_plans(value)
    except Exception:
        pass
    return value


def _frames(value) -> list:
    items = value if isinstance(value, tuple) else (value,)
    return [v for v in items if isinstance(v, DataFrame)]
