"""Property-based tests (hypothesis): the engine's portable primitives
checked against independent pure-Python references on random inputs.

The oracle suite (tests/test_oracle.py) proves Spark == DuckDB on the
fixtures; these prove the *primitive definitions themselves* match a
third, trivially-auditable implementation on adversarial inputs (empty
docs, unicode, single tokens, repeated tokens) — the cases fixture
data never covers.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F
from hypothesis import strategies as st

# A pool of smallish tokens, plus some unicode and numerics
_TOKENS = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters=" ", exclude_categories=("Cs", "Cc")
    ),
    min_size=1,
    max_size=8,
)
_DOCS = st.lists(_TOKENS, min_size=0, max_size=30)

_SETTINGS = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _py_ngrams(toks: list[str], n: int) -> list[str]:
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@given(docs=st.lists(_DOCS, min_size=1, max_size=8), n=st.integers(2, 4))
@_SETTINGS
def test_ngrams_match_python_reference(spark, docs, n):
    from pyspark.sql import functions as F

    from etl_pyspark_spark.functions.text import ngrams_from_tokens

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, toks array<string>"
    )
    got = {
        r["id"]: list(r["g"])
        for r in df.select(
            "id", ngrams_from_tokens(F.col("toks"), n).alias("g")
        ).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == _py_ngrams(d, n), (d, n)


@given(words=st.lists(_TOKENS, min_size=1, max_size=10, unique=True))
@_SETTINGS
def test_portable_hash60_matches_python_md5(spark, words):
    from pyspark.sql import functions as F

    from etl_pyspark_spark.functions.text import portable_hash60

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["h"]
        for r in df.select(
            "w", portable_hash60(F.col("w")).alias("h")
        ).collect()
    }
    for w in words:
        assert got[w] == _py_hash60(w), w


@given(docs=st.lists(_DOCS, min_size=1, max_size=8))
@_SETTINGS
def test_repetition_ratio_bounds_and_zero_iff_unique(spark, docs):
    from pyspark.sql import functions as F

    from etl_pyspark_spark.functions.text import (
        ngrams_from_tokens,
        repetition_from_grams,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, toks array<string>"
    )
    gramd = df.select(
        "id", ngrams_from_tokens(F.col("toks"), 2).alias("g")
    )
    rows = gramd.select(
        "id", "g", repetition_from_grams(F.col("g")).alias("r")
    ).collect()
    for r in rows:
        grams = list(r["g"])
        assert 0.0 <= r["r"] < 1.0 or (not grams and r["r"] == 0.0)
        # zero repetition exactly when all n-grams are distinct
        assert (r["r"] == 0.0) == (len(set(grams)) == len(grams)), grams


def test_empty_input_through_dedup_pipeline(spark):
    """Zero-row inputs must flow through the dedup/text stack without
    errors — the empty-partition case every 100 TB job hits on some
    task."""
    from pyspark.sql import functions as F

    from etl_pyspark_spark.dedup.components import connected_components
    from etl_pyspark_spark.dedup.minhash import verified_near_duplicates
    from etl_pyspark_spark.functions.text import (
        language_id,
        quality_score,
        word_ngrams,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert verified_near_duplicates(empty).count() == 0
    edges = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert connected_components(edges).count() == 0
    out = empty.select(
        language_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("q"),
        word_ngrams(F.col("text"), 3).alias("g"),
    )
    assert out.count() == 0


def test_single_doc_edge_cases(spark):
    """One-token and empty-string documents: n-grams empty, repetition
    0, quality defined (no division blowups), fingerprint stable."""
    from pyspark.sql import functions as F

    from etl_pyspark_spark.functions.text import (
        doc_fingerprint,
        quality_score,
        repetition_ratio,
        word_ngrams,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "   "), (4, "a a a a")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            word_ngrams(F.col("text"), 3).alias("g"),
            repetition_ratio(F.col("text"), 2).alias("rep"),
            quality_score(F.col("text")).alias("q"),
            doc_fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert list(rows[1]["g"]) == [] and rows[1]["rep"] == 0.0
    assert list(rows[2]["g"]) == [] and rows[2]["rep"] == 0.0
    assert rows[3]["q"] is not None and rows[3]["fp"] is not None
    # "a a a a" -> bigrams all identical -> repetition 2/3
    assert abs(rows[4]["rep"] - (1.0 - 1.0 / 3.0)) < 1e-9
    for r in rows.values():
        assert r["q"] is not None and 0.0 <= r["q"] <= 1.0


def test_minhash_jaccard_planted_duplicates(spark):
    """Planted-pair sanity (SURVEY §7.3): a document and its light
    edit must surface as a verified near-duplicate pair with high
    Jaccard; two unrelated documents must not."""
    from etl_pyspark_spark.dedup.minhash import verified_near_duplicates

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(40) if i != 7)  # drop one word
    other = " ".join(f"zzz{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in verified_near_duplicates(df).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert (1, 3) not in pairs and (2, 3) not in pairs


@given(
    vals=st.lists(
        st.integers(-1000, 1000), min_size=1, max_size=120
    ),
    k=st.integers(1, 9),
    parts=st.integers(1, 6),
)
@_SETTINGS
def test_global_ntile_matches_python_reference(spark, vals, k, parts):
    """Distributed ntile == the ANSI definition computed in pure
    Python, on adversarial inputs (duplicates, n < k, one row),
    across partition counts (the result must be partitioning-proof)."""
    from etl_pyspark_spark.operators.ranks import with_global_ntile

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: r["t"]
        for r in with_global_ntile(
            df, ["v", "id"], k, "t", num_partitions=parts
        ).collect()
    }
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    n = len(order)
    base, rem = n // k, n % k
    want = {}
    for rank0, (i, _) in enumerate(order):
        if base == 0:
            want[i] = rank0 + 1
        elif rank0 < rem * (base + 1):
            want[i] = rank0 // (base + 1) + 1
        else:
            want[i] = rem + (rank0 - rem * (base + 1)) // base + 1
    assert got == want


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=80,
    ),
    q=st.sampled_from([0.001, 0.01, 0.25, 0.5, 0.75, 0.99, 0.999]),
)
@_SETTINGS
def test_exact_quantile_matches_python_reference(spark, vals, q):
    """Bracketed exact-rank quantile == the discrete order statistic
    (smallest value whose cumulative count reaches ceil(q*n)) computed
    by sorting in Python — including duplicate-heavy and one-value
    inputs."""
    import math

    from etl_pyspark_spark.operators.quantiles import (
        exact_discrete_quantiles,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = exact_discrete_quantiles(df, "v", [q], accuracy=1000)
    want = sorted(vals)[max(1, math.ceil(q * len(vals))) - 1]
    assert got == [want]


@given(
    words=st.lists(_TOKENS, min_size=1, max_size=12),
    k=st.integers(0, 40),
)
@_SETTINGS
def test_greedy_segment_round_trips_any_vocab(spark, words, k):
    """greedy_segment must round-trip and terminate for ANY word and
    ANY vocab, provided single characters are present (the coverage
    contract collect_vocab establishes) — unicode included."""
    from etl_pyspark_spark.functions.tokenizer import greedy_segment

    pieces = set()
    for w in words[:k]:
        pieces.add(w[: max(1, len(w) // 2)])
    chars = {c for w in words for c in w}
    vocab = frozenset(pieces | chars)
    for w in words:
        segs = greedy_segment(w, vocab)
        assert "".join(segs) == w
        assert all(p in vocab for p in segs)


# ---------------------------------------------------------------------------
# Distribution statistics vs brute-force definitions: the DuckDB
# oracles share the engine's closed-form identities (rank-sum AUC,
# cross-multiplied KS), so these tests check the DEFINITIONS
# independently — pairwise comparisons and direct CDF sweeps in pure
# Python over the sf0.001 fixture.
# ---------------------------------------------------------------------------

_TINY_SF = "/root/testdata/sf0.001"


def _tiny_events(spark):
    from etl_pyspark_spark.sources.io import read_table

    return read_table(spark, _TINY_SF, "events").select(
        "event_type", "value"
    ).where(F.col("value").isNotNull()).collect()


def test_auc_matches_pairwise_definition(spark):
    """AUC literally IS P(score_pos > score_neg) + 0.5*P(tie): check
    the rank-sum implementation against the O(P*N) pairwise count."""
    from etl_pyspark_spark.registry import QUERIES

    rows = _tiny_events(spark)
    pos = [r["value"] for r in rows if r["event_type"] in ("purchase", "signup")]
    neg = [r["value"] for r in rows if r["event_type"] not in ("purchase", "signup")]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    want = (wins + 0.5 * ties) / (len(pos) * len(neg))
    got = QUERIES["roc_auc_exact"](spark, _TINY_SF).collect()[0]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert abs(got["auc"] - want) < 1e-8


def test_ks_matches_cdf_sweep(spark):
    """KS D from the integer cross-product argmax must equal the
    direct max |F_a(v) - F_b(v)| sweep over the pooled values."""
    from etl_pyspark_spark.registry import QUERIES

    rows = _tiny_events(spark)
    a = sorted(r["value"] for r in rows if r["event_type"] == "click")
    b = sorted(r["value"] for r in rows if r["event_type"] == "view")
    import bisect

    want = max(
        abs(
            bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b)
        )
        for v in a + b
    )
    got = QUERIES["ks_two_sample"](spark, _TINY_SF).collect()[0]
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert abs(got["ks_d"] - want) < 1e-8


def test_gini_matches_direct_formula(spark):
    """Gini from the distributed rank machinery must equal the
    single-node sorted-sweep formula."""
    from etl_pyspark_spark.registry import QUERIES
    from etl_pyspark_spark.sources.io import read_table

    spend = sorted(
        (r["k"], r["x"])
        for r in read_table(spark, _TINY_SF, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("x"))
        .collect()
    )
    xs = sorted(float(x) for _, x in spend)
    n = len(xs)
    srx = sum((i + 1) * x for i, x in enumerate(xs))
    want = 2 * srx / (n * sum(xs)) - (n + 1) / n
    got = QUERIES["gini_customer_spend"](spark, _TINY_SF).collect()[0]
    assert got["n_customers"] == n
    assert abs(got["gini"] - want) < 1e-6


def test_weighted_median_matches_brute_force(spark):
    """Per-group weighted median vs the direct cumulative sweep."""
    from collections import defaultdict

    from etl_pyspark_spark.registry import QUERIES
    from etl_pyspark_spark.sources.io import read_table

    li = read_table(spark, _TINY_SF, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    acc = defaultdict(lambda: defaultdict(float))
    for r in li:
        acc[r["l_returnflag"]][r["l_quantity"]] += r["l_extendedprice"]
    want = {}
    for flag, byq in acc.items():
        tot = sum(byq.values())
        cum = 0.0
        for q in sorted(byq):
            cum += byq[q]
            if 2 * cum >= tot - 1e-6:
                want[flag] = q
                break
    got = {
        r["flag"]: r["weighted_median_qty"]
        for r in QUERIES["weighted_median_groups"](spark, _TINY_SF).collect()
    }
    assert got == want


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=25,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000),
                  st.integers(-100, 100)),
        min_size=0, max_size=25, unique_by=lambda r: (r[0], r[1]),
    ),
    tol=st.integers(1, 200),
)
@_SETTINGS
def test_asof_tolerance_matches_pandas_merge_asof(spark, lefts, rights, tol):
    """The tolerance-bounded as-of join must agree with pandas
    merge_asof(by=key, tolerance=tol, direction='backward') — the
    reference implementation of the semantics — on arbitrary keyed
    integer-time data (right side unique per (key, ts), the same
    precondition the union+window engine documents)."""
    import pandas as pd

    from etl_pyspark_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        "lid int, k int, ts long",
    )
    right = spark.createDataFrame(
        [(k, t, v) for (k, t, v) in rights] or [(99, 0, 0)],
        "k int, ts long, v long",
    )
    if not rights:
        right = right.where(F.lit(False))
    got = {
        r["lid"]: r["asof_v"]
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], tolerance=F.lit(tol),
        ).collect()
    }
    lp = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        columns=["lid", "k", "ts"],
    ).sort_values("ts", kind="stable")
    rp = (
        pd.DataFrame(list(rights), columns=["k", "ts", "v"])
        .astype({"k": "int64", "ts": "int64", "v": "int64"})
        .sort_values("ts", kind="stable")
    )
    want_df = pd.merge_asof(
        lp, rp, on="ts", by="k", tolerance=tol, direction="backward",
        allow_exact_matches=True,
    )
    want = {
        int(r.lid): (None if pd.isna(r.v) else int(r.v))
        for r in want_df.itertuples()
    }
    assert got == want


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=25,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000),
                  st.one_of(st.none(), st.integers(-100, 100))),
        min_size=0, max_size=25, unique_by=lambda r: (r[0], r[1]),
    ),
    tol=st.one_of(st.none(), st.integers(1, 200)),
    direction=st.sampled_from(["backward", "forward"]),
)
@_SETTINGS
def test_asof_null_right_values_match_pandas(
    spark, lefts, rights, tol, direction
):
    """asof_join with NULLABLE right value columns must still agree
    with pandas merge_asof: a NULL in the matched right row stays
    NULL (advice r04 — the old per-column ignorenulls carry fell back
    to an OLDER row's value), and with tolerance the freshness check
    uses the matched row's own timestamp."""
    import pandas as pd

    from etl_pyspark_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        "lid int, k int, ts long",
    )
    right = spark.createDataFrame(
        list(rights) or [(99, 0, 0)], "k int, ts long, v long"
    )
    if not rights:
        right = right.where(F.lit(False))
    got = {
        r["lid"]: r["asof_v"]
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], direction=direction,
            tolerance=None if tol is None else F.lit(tol),
        ).collect()
    }
    lp = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        columns=["lid", "k", "ts"],
    ).sort_values("ts", kind="stable")
    rp = (
        pd.DataFrame(list(rights), columns=["k", "ts", "v"])
        .astype({"k": "int64", "ts": "int64", "v": "Int64"})
        .sort_values("ts", kind="stable")
    )
    want_df = pd.merge_asof(
        lp, rp, on="ts", by="k", tolerance=tol, direction=direction,
        allow_exact_matches=True,
    )
    want = {
        int(r.lid): (None if pd.isna(r.v) else int(r.v))
        for r in want_df.itertuples()
    }
    assert got == want


def test_apportionment_sums_to_budget_exactly(spark):
    """Largest-remainder quotas must hit the budget exactly — the
    invariant floor-proportional allocation (mixture_sampling_quota)
    cannot provide — and never differ from a stratum's floor by more
    than one slot."""
    from etl_pyspark_spark.queries.graph_temporal import _APPORTION_BUDGET
    from etl_pyspark_spark.registry import QUERIES

    rows = QUERIES["quota_apportionment"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert sum(r.quota for r in rows) == _APPORTION_BUDGET
    total = sum(r.n_docs for r in rows)
    for r in rows:
        floor_q = r.n_docs * _APPORTION_BUDGET // total
        assert r.quota in (floor_q, floor_q + 1)


def test_clamped_balance_matches_sequential_recurrence(spark):
    """The two-window closed form b_t = S_t - min(0, min_{k<=t} S_k)
    must equal the direct sequential recurrence b_t = max(0,
    b_{t-1} + x_t) — checked per key against a Python replay of the
    same deterministic flows."""
    from etl_pyspark_spark.registry import QUERIES
    from etl_pyspark_spark.sources.io import read_table
    from pyspark.sql import functions as F

    from collections import Counter

    sf = "/root/testdata/sf0.001"
    # (l_orderkey, l_linenumber) is NOT unique in the fixture (dup
    # line keys with different shipdates exist), so compare the
    # engine output as a multiset of (key, balance) tuples
    got = Counter(
        (r.l_partkey, r.l_orderkey, r.l_linenumber, r.balance)
        for r in QUERIES["clamped_running_balance"](spark, sf).collect()
    )
    rows = (
        read_table(spark, sf, "lineitem")
        .where(F.col("l_orderkey") % 7 == 0)
        .select(
            "l_partkey", "l_orderkey", "l_linenumber",
            "l_quantity", "l_shipdate",
        )
        .collect()
    )
    by_key: dict = {}
    want: Counter = Counter()
    for r in sorted(
        rows, key=lambda r: (r.l_shipdate, r.l_orderkey, r.l_linenumber)
    ):
        flow = int(r.l_quantity) * (1 if r.l_orderkey % 2 == 0 else -1)
        b = max(0, by_key.get(r.l_partkey, 0) + flow)
        by_key[r.l_partkey] = b
        want[(r.l_partkey, r.l_orderkey, r.l_linenumber, b)] += 1
    assert got == want


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=25,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000),
                  st.integers(-100, 100)),
        min_size=0, max_size=25, unique_by=lambda r: (r[0], r[1]),
    ),
)
@_SETTINGS
def test_asof_forward_matches_pandas_merge_asof(spark, lefts, rights):
    """direction='forward' must agree with pandas
    merge_asof(direction='forward') — earliest right at-or-after
    each left row, per key — on arbitrary keyed integer-time data."""
    import pandas as pd

    from etl_pyspark_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        "lid int, k int, ts long",
    )
    right = spark.createDataFrame(
        [(k, t, v) for (k, t, v) in rights] or [(99, 0, 0)],
        "k int, ts long, v long",
    )
    if not rights:
        right = right.where(F.lit(False))
    got = {
        r["lid"]: r["asof_v"]
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], direction="forward",
        ).collect()
    }
    lp = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        columns=["lid", "k", "ts"],
    ).sort_values("ts", kind="stable")
    rp = (
        pd.DataFrame(list(rights), columns=["k", "ts", "v"])
        .astype({"k": "int64", "ts": "int64", "v": "int64"})
        .sort_values("ts", kind="stable")
    )
    want_df = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="forward",
        allow_exact_matches=True,
    )
    want = {
        int(r.lid): (None if pd.isna(r.v) else int(r.v))
        for r in want_df.itertuples()
    }
    assert got == want


def test_rendezvous_drain_moves_only_drained_shard(spark):
    """HRW's minimal-movement guarantee, asserted: when the last
    shard drains, every one of its residents reassigns and NO
    resident of any surviving shard moves."""
    from etl_pyspark_spark.queries.timeseries_entity import _HRW_SHARDS
    from etl_pyspark_spark.registry import QUERIES

    rows = QUERIES["rendezvous_shard_assignment"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert {r.shard_id for r in rows} == set(range(_HRW_SHARDS))
    for r in rows:
        if r.shard_id == _HRW_SHARDS - 1:
            assert r.n_reassigned_on_drain == r.n_docs
        else:
            assert r.n_reassigned_on_drain == 0


def test_isotonic_matches_sequential_pava(spark):
    """The minimax closed form must equal sequential
    pool-adjacent-violators on the same bins, and the fitted curve
    must be monotone non-decreasing."""
    from etl_pyspark_spark.registry import QUERIES

    rows = sorted(
        QUERIES["isotonic_calibration"](
            spark, "/root/testdata/sf0.01"
        ).collect(),
        key=lambda r: r.bin,
    )
    # sequential PAVA on (pos, n) weighted rates; violator check by
    # cross-multiplication so the pooling decision is exact
    fitted = []
    blocks2 = []
    for r in rows:
        blocks2.append((r.pos, r.n, 1))
        while len(blocks2) > 1 and (
            blocks2[-2][0] * blocks2[-1][1]
            >= blocks2[-1][0] * blocks2[-2][1]
        ):
            p2, n2, c2 = blocks2.pop()
            p1, n1, c1 = blocks2.pop()
            blocks2.append((p1 + p2, n1 + n2, c1 + c2))
    for p, n, cnt in blocks2:
        fitted.extend([p / n] * cnt)
    got = [r.isotonic_rate for r in rows]
    assert len(got) == len(fitted)
    for g, w in zip(got, fitted):
        assert abs(g - w) < 1e-9, (got, fitted)
    for a, b in zip(got, got[1:]):
        assert a <= b + 1e-12  # monotone


# ---------------------------------------------------------------------------
# Round-5 additions: each new statistic/graph op checked against a
# brute-force pure-Python reference on the sf0.001 fixture (the oracle
# suite proves Spark == DuckDB; these prove the DEFINITION is right).
# ---------------------------------------------------------------------------


def test_mann_whitney_matches_pairwise_definition(spark):
    """U1 literally IS #(a>b) + 0.5*#(a==b) over click x view pairs;
    the doubled statistic and the tie-corrected z must match the
    O(n1*n2) brute force."""
    import math

    from etl_pyspark_spark.registry import QUERIES

    rows = _tiny_events(spark)
    a = [r["value"] for r in rows if r["event_type"] == "click"]
    b = [r["value"] for r in rows if r["event_type"] == "view"]
    u1 = sum(1.0 for x in a for y in b if x > y) + 0.5 * sum(
        1 for x in a for y in b if x == y
    )
    n1, n2 = len(a), len(b)
    n = n1 + n2
    from collections import Counter

    ties = sum(t**3 - t for t in Counter(a + b).values())
    var = n1 * n2 * ((n + 1) - ties / (n * (n - 1))) / 12.0
    want_z = (u1 - n1 * n2 / 2.0) / math.sqrt(var)
    got = QUERIES["mann_whitney_u"](spark, _TINY_SF).collect()[0]
    assert got["n_click"] == n1 and got["n_view"] == n2
    assert got["u2_click"] == round(2 * u1)
    assert abs(got["z_score"] - want_z) < 1e-6


def test_attribution_matches_sequential_scan(spark):
    """Every purchase credited by a brute per-purchase scan of the
    user's prior events (7-day lookback, latest ts, event_id
    tiebreak, 'direct' fallback) must give the same channel counts."""
    import datetime as dt
    from collections import Counter

    from etl_pyspark_spark.registry import QUERIES
    from etl_pyspark_spark.sources.io import read_table

    ev = read_table(spark, _TINY_SF, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    want: Counter = Counter()
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        lo = r["ts"] - dt.timedelta(days=7)
        cand = [
            e
            for e in by_user[r["user_id"]]
            if e["event_type"] != "purchase"
            and e["ts"] < r["ts"]
            and e["ts"] >= lo
        ]
        if not cand:
            want["direct"] += 1
        else:
            best = max(cand, key=lambda e: (e["ts"], e["event_id"]))
            want[best["event_type"]] += 1
    got = {
        r["channel"]: r["n_conversions"]
        for r in QUERIES["attribution_last_touch"](
            spark, _TINY_SF
        ).collect()
    }
    assert got == dict(want)


def _tiny_copurchase_graph(spark):
    """Brute co-purchase graph from the sharded tiny lineitem (the cap
    is far above tiny basket sizes, so plain pairs match)."""
    from etl_pyspark_spark.sources.io import read_table

    lp = (
        read_table(spark, _TINY_SF, "lineitem")
        .where(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets: dict = {}
    for r in lp:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges = set()
    for items in baskets.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                edges.add((s[i], s[j]))
    nbrs: dict = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    return baskets, edges, nbrs


def test_bfs_hops_match_python_bfs(spark):
    """Frontier BFS must label exactly the python BFS distances
    (capped at 3 hops) from the min-order seed basket."""
    from etl_pyspark_spark.registry import QUERIES

    baskets, edges, nbrs = _tiny_copurchase_graph(spark)
    seeds = baskets[min(baskets)]
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in (1, 2, 3):
        frontier = {
            w for u in frontier for w in nbrs.get(u, ()) if w not in dist
        }
        for w in frontier:
            dist[w] = h
    got = {
        r["node"]: r["hop"]
        for r in QUERIES["graph_bfs_hops"](spark, _TINY_SF).collect()
    }
    assert got == dist


def test_link_prediction_matches_brute_jaccard(spark):
    """Top-50 (jaccard desc, u, w) over brute common-neighbor scores
    of non-adjacent distance-2 pairs must match pair-for-pair."""
    from etl_pyspark_spark.registry import QUERIES

    _, edges, nbrs = _tiny_copurchase_graph(spark)
    cand = {}
    for m, ns in nbrs.items():
        s = sorted(ns)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                pair = (s[i], s[j])
                if pair not in edges:
                    cand[pair] = cand.get(pair, 0) + 1
    scored = [
        (cn / (len(nbrs[u]) + len(nbrs[w]) - cn), u, w, cn)
        for (u, w), cn in cand.items()
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [(u, w, cn) for _, u, w, cn in scored[:50]]
    rows = QUERIES["link_prediction_jaccard"](spark, _TINY_SF).collect()
    got = [(r["u"], r["w"], r["n_common"]) for r in rows]
    assert got == want
    for r, (jac, _, _, _) in zip(rows, scored[:50]):
        assert abs(r["jaccard"] - jac) < 1e-8


def test_qini_matches_sequential_sweep(spark):
    """All ten Qini rows must equal a brute sort-and-scan over
    per-user (score, variant, conversion) tuples."""
    import math

    from etl_pyspark_spark.registry import QUERIES
    from etl_pyspark_spark.sources.io import read_table

    ev = read_table(spark, _TINY_SF, "events").select(
        "user_id", "value", "event_type"
    ).collect()
    agg: dict = {}
    for r in ev:
        u = r["user_id"]
        s, y = agg.get(u, (0.0, 0))
        agg[u] = (
            s + (r["value"] or 0.0),
            max(y, 1 if r["event_type"] == "purchase" else 0),
        )
    users = sorted(
        ((round(s, 6), u, y) for u, (s, y) in agg.items()),
        key=lambda t: (-t[0], t[1]),
    )
    n = len(users)
    got = {
        r["decile"]: r
        for r in QUERIES["uplift_qini_curve"](spark, _TINY_SF).collect()
    }
    for k in range(1, 11):
        cut = math.ceil(k / 10 * n)
        top = users[:cut]
        nt = sum(1 for _, u, _ in top if u % 2 == 1)
        nc = cut - nt
        yt = sum(y for _, u, y in top if u % 2 == 1)
        yc = sum(y for _, u, y in top if u % 2 == 0)
        r = got[k]
        assert (r["n_at"], r["n_treat"], r["n_ctrl"]) == (cut, nt, nc), k
        assert (r["conv_treat"], r["conv_ctrl"]) == (yt, yc), k
        if nc:
            assert abs(r["qini"] - (yt - yc * nt / nc)) < 1e-6, k


def test_boilerplate_coverage_matches_python(spark):
    """Top-20 df 5-grams and DISTINCT-position coverage recomputed in
    pure python must match every per-doc row."""
    from collections import Counter

    from etl_pyspark_spark.registry import QUERIES
    from etl_pyspark_spark.sources.io import read_table

    docs = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in read_table(spark, _TINY_SF, "documents")
        .select("doc_id", "text")
        .collect()
    }
    df: Counter = Counter()
    for toks in docs.values():
        grams = {
            " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
        }
        df.update(grams)
    top = {
        g
        for g, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    }
    got = {
        r["doc_id"]: r
        for r in QUERIES["boilerplate_coverage_ratio"](
            spark, _TINY_SF
        ).collect()
    }
    for d, toks in docs.items():
        covered = set()
        for i in range(max(len(toks) - 4, 0)):
            if " ".join(toks[i : i + 5]) in top:
                covered.update(range(i, i + 5))
        r = got[d]
        assert r["n_tokens"] == len(toks)
        assert r["n_covered"] == len(covered), d


def test_heaps_law_matches_sequential_set(spark):
    """Running vocabulary must equal a sequential set-union sweep in
    doc_id order."""
    from etl_pyspark_spark.registry import QUERIES
    from etl_pyspark_spark.sources.io import read_table

    docs = sorted(
        (r["doc_id"], [t for t in r["text"].split(" ") if t])
        for r in read_table(spark, _TINY_SF, "documents")
        .select("doc_id", "text")
        .collect()
    )
    got = {
        r["doc_id"]: r
        for r in QUERIES["heaps_law_vocab_growth"](
            spark, _TINY_SF
        ).collect()
    }
    seen: set = set()
    for d, toks in docs:
        new = set(toks) - seen
        seen |= set(toks)
        assert got[d]["n_new_types"] == len(new), d
        assert got[d]["vocab_size"] == len(seen), d


def test_ipf_margins_converge_to_targets(spark):
    """After 3 raking rounds the column margins match their uniform
    target exactly (the last scaling was column-wise) and the row
    margins sit within 0.5% — the Deming-Stephan convergence
    property."""
    from collections import defaultdict

    from etl_pyspark_spark.registry import QUERIES

    rows = QUERIES["survey_raking_ipf"](spark, _TINY_SF).collect()
    tot = sum(r["weight_micro"] for r in rows)
    row_m: dict = defaultdict(int)
    col_m: dict = defaultdict(int)
    for r in rows:
        row_m[r["c_nationkey"]] += r["weight_micro"]
        col_m[r["c_mktsegment"]] += r["weight_micro"]
    col_target = tot / len(col_m)
    row_target = tot / len(row_m)
    for v in col_m.values():
        assert abs(v - col_target) / col_target < 1e-4
    # raw counts on the tiny fixture are far from uniform (cells of
    # 1-3 customers); three rounds must land rows well inside the raw
    # imbalance even where full convergence needs more rounds
    from etl_pyspark_spark.sources.io import read_table

    raw = read_table(spark, _TINY_SF, "customer").groupBy(
        "c_nationkey"
    ).count().collect()
    raw_tot = sum(r["count"] for r in raw)
    raw_dev = max(
        abs(r["count"] - raw_tot / len(raw)) / (raw_tot / len(raw))
        for r in raw
    )
    for v in row_m.values():
        dev = abs(v - row_target) / row_target
        assert dev < max(raw_dev / 10, 0.02), (dev, raw_dev)
