"""Exact order statistics at corpus scale: approx-bracketed exact
rank search.

The DISCRETE quantile — the smallest stored value whose cumulative
count reaches ``ceil(q*n)`` — is the cut every winsorize/bucketing
pipeline wants (both engines select an identical stored value; no
interpolation arithmetic to drift in the last ulp). Computing it
exactly used to mean a cumulative window over the full distinct-value
table, which for a continuous 100 TB double column approaches row
count — the round-3 review's only ``weak``.

The scale path implemented here:

1. one aggregate computes ``n`` and ``approx_percentile`` at
   ``q ± 3/accuracy`` — the sketch's rank error is ``n/accuracy``, so
   the true cut PROVABLY lies inside the returned bracket ``[a, b]``
   (Greenwald–Khanna guarantee; bracket rank mass ≈ 6n/accuracy);
2. the same pass counts rows strictly below each ``a`` — exact,
   map-side combinable;
3. the exact rank search then touches ONLY the bracket: distinct
   values inside ``[a, b]`` (≈ 0.06 % of the rank mass at the default
   accuracy), cumulative-summed with the distributed
   ``with_global_cumsum`` (range-partitioned, never a SinglePartition
   window), and the cut is the smallest bracket value whose
   below-count + running count reaches ``ceil(q*n)``.

Driver traffic is bounded: one 1-row aggregate and one ≤ len(probs)
row result — never row data. Falls back to a whole-domain search if a
bracket misses (outside the sketch guarantee; cannot happen for a
correct sketch, kept as a safety net)."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pyspark_spark.operators.ranks import literal_at, with_global_cumsum

DEFAULT_ACCURACY = 10_000


def exact_discrete_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    accuracy: int = DEFAULT_ACCURACY,
):
    """Exact discrete quantiles (smallest value with cumulative count
    ≥ ceil(q*n)) for each q in ``probs``, over non-null values of
    ``col``. Returns driver-side values in ``probs`` order."""
    eps = 3.0 / accuracy
    vals = df.where(F.col(col).isNotNull()).select(F.col(col).alias("_v"))
    lo_p = [max(0.0, q - eps) for q in probs]
    hi_p = [min(1.0, q + eps) for q in probs]
    # one GK sketch serves both bracket ends (the sketch build
    # dominates this job; querying it twice per probe is free)
    head = vals.agg(
        F.count("_v").alias("n"),
        F.percentile_approx("_v", lo_p + hi_p, accuracy).alias("lohi"),
    ).collect()[0]
    n = int(head["n"])
    if n == 0:
        return [None for _ in probs]
    k = len(probs)
    brackets = list(zip(head["lohi"][:k], head["lohi"][k:]))
    ranks = [max(1, math.ceil(q * n)) for q in probs]
    # the sliver is sketch-bounded at ~6·k·n/accuracy rows: size the
    # cumsum's range exchange to that, not the global shuffle conf
    # (a 50-row sliver at sf0.1 doesn't need 32 tasks × 3 stages)
    est_rows = max(1, (6 * len(probs) * n) // accuracy)
    cap = int(vals.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_part = max(1, min(cap, -(-est_rows // 65536)))
    cuts = _rank_search_all(vals, brackets, ranks, n_part)
    out = []
    for i, cut in enumerate(cuts):
        if cut is None:  # pragma: no cover - outside sketch guarantee
            cut = _rank_search_all(vals, [(None, None)], [ranks[i]])[0]
        out.append(cut)
    return out


def _rank_search_all(vals: DataFrame, brackets, ranks, n_part=None):
    """For each probe i: smallest value v in brackets[i] with
    below_count(< a_i) + cum_count(≤ v within the bracket) ≥ ranks[i].

    ALL probes share ONE distributed pass over ``vals`` — the only
    pass this function makes (with the sketch pass, 2 per call). The
    pass aggregates, in one shuffle aggregate, the in-bracket sliver
    rows (key = probe id, per-value counts — sketch-bounded mass) and
    the below-bracket counts: with the lower ends sorted on the
    driver, a row carries c(v) = the number of lower ends above v as
    the key ``-c(v)`` (NULL value, so k groups at most; rows with
    c(v) = 0 emit nothing), and probe i's below count is the sum of
    the keys with c ≥ #{lower ends ≥ a_i}. Being an ordinary
    aggregate, a retried or speculative task cannot count a row twice
    (an accumulator-backed ``observe()`` can). The aggregate is
    localCheckpointed — sliver-sized — so the totals collect (belows
    and per-probe totals in one), the range-partitioned cumsum over
    the probe rows and the final hit collect all read the tiny
    materialization instead of re-scanning ``vals``. Base, below
    count and rank fold into one literal threshold per probe, so the
    hit search joins nothing. Jobs stay constant in len(probs)."""
    from etl_pyspark_spark.checkpoint import DISK_CKPT

    v = F.col("_v")
    lows = sorted(a for a, _ in brackets if a is not None)
    # c(v): the number of lower ends strictly above v
    n_above = sum(((v < a).cast("int") for a in lows), F.lit(0))
    tags = [
        F.when(F.lit(True) if a is None else (v >= a) & (v <= b), F.lit(i))
        for i, (a, b) in enumerate(brackets)
    ]
    tags.append(F.when(n_above > 0, -n_above))
    grouped = (
        vals.select(
            "_v", F.explode(F.array_compact(F.array(*tags))).alias("_probe")
        )
        .select("_probe", F.when(F.col("_probe") >= 0, v).alias("_v"))
        .groupBy("_probe", "_v")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        # eager checkpoint = the ONE job over vals
        .localCheckpoint(storageLevel=DISK_CKPT)
    )
    # ONE tiny job over the checkpointed sliver: per-probe totals (the
    # cumsum's exclusive base) and the below counts
    totals = {
        int(r["_probe"]): int(r["_t"])
        for r in grouped.groupBy("_probe")
        .agg(F.sum("_cnt").alias("_t"))
        .collect()
    }
    need, base = [], 0
    for i, (a, _) in enumerate(brackets):
        below = 0
        if a is not None:
            at_least = sum(1 for x in lows if x >= a)
            below = sum(t for key, t in totals.items() if -key >= at_least)
        need.append(ranks[i] - below + base)
        base += totals.get(i, 0)
    cum = with_global_cumsum(
        grouped.where(F.col("_probe") >= 0),
        ["_probe", "_v"],
        "_cnt",
        "_cum",
        num_partitions=n_part,
    )
    need_of_probe = literal_at(dict(enumerate(need)), "_probe")
    hits = {
        int(r["_probe"]): r["v"]
        for r in cum.where(F.col("_cum") >= need_of_probe)
        .groupBy("_probe")
        .agg(F.min("_v").alias("v"))
        .collect()
    }
    return [hits.get(i) for i in range(len(brackets))]


def clip_to_quantiles(
    df: DataFrame,
    col: str,
    lo_q: float,
    hi_q: float,
    accuracy: int = DEFAULT_ACCURACY,
) -> tuple[Column, Column, Column]:
    """Winsorize helper: returns (lo_cut, hi_cut, clipped_col) as
    LITERAL-based columns — literals reach the scan as pushable
    predicates and broadcast for free (no crossJoin row attached to
    every record)."""
    lo, hi = exact_discrete_quantiles(df, col, [lo_q, hi_q], accuracy)
    lo_c, hi_c = F.lit(lo), F.lit(hi)
    clipped = F.least(F.greatest(F.col(col), lo_c), hi_c)
    return lo_c, hi_c, clipped
