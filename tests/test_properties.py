"""Property-based tests (hypothesis): the semantics pinned by example in
test_semantics.py hold across generated inputs, not just chosen ones.

Spark round-trips are expensive, so each property batches ALL generated
cases into ONE DataFrame per example run and keeps example counts small.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from alphavantage_etl_spark.functions.rounding import money_round
from alphavantage_etl_spark.functions.text import rolling_fingerprint, token_count
from alphavantage_etl_spark.operators.incremental import merge_incremental, new_rows

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# Contract-critical properties (in-plan guard contracts whose violation
# is a SILENT wrong answer, not an error) get a bigger, explicit example
# budget: Hypothesis samples differently per run, so a thin budget can
# pass by luck — the r9 token-budget zero-candidate bug slipped a 12-
# example run and was caught on a later seed. Found falsifying examples
# are pinned with @example below so they re-run every time by
# construction.
CONTRACT_SETTINGS = settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

money = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@pytest.mark.slow
@SETTINGS
@given(st.lists(money, min_size=1, max_size=30))
def test_money_round_matches_pandas_everywhere(spark, xs):
    import pandas as pd

    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    got = [r["y"] for r in df.select(money_round("x", 2).alias("y")).collect()]
    want = list(round(pd.Series([float(x) for x in xs]), 2))
    assert got == pytest.approx(want, nan_ok=True, abs=0)


text_chars = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FFF), max_size=120
)


@SETTINGS
@given(st.lists(text_chars, min_size=1, max_size=20))
def test_rolling_fingerprint_matches_python(spark, texts):
    def rh(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 131 + ord(ch)) % 2147483647
        return h

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["h"] for r in df.select(rolling_fingerprint("t").alias("h")).collect()]
    assert got == [rh(t) for t in texts]


@SETTINGS
@given(st.lists(text_chars, min_size=1, max_size=20))
def test_token_count_matches_java_whitespace_split(spark, texts):
    # The contract is Java-regex \s = [ \t\n\x0B\f\r] — narrower than
    # Python str.split(), which also treats \x1c-\x1f etc. as whitespace
    # (hypothesis found '0\x1f0': 1 token under the contract, 2 under
    # Python split). Reference implements the contract, not Python.
    import re

    def ref(s: str) -> int:
        return len([t for t in re.split("[ \t\n\x0b\f\r]+", s) if t])

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["n"] for r in df.select(token_count("t").alias("n")).collect()]
    assert got == [ref(t) for t in texts]


@SETTINGS
@given(
    st.sets(
        st.dates(dt.date(2020, 1, 1), dt.date(2020, 3, 1)), min_size=2, max_size=20
    ),
    st.integers(min_value=0, max_value=19),
)
@pytest.mark.slow
def test_incremental_merge_converges(spark, dates, n_existing):
    """For ANY incoming set and ANY subset already in the sink: merge yields
    exactly the union, with no duplicates, and a re-merge is a no-op."""
    all_dates = sorted(dates)
    existing_dates = all_dates[: min(n_existing, len(all_dates))]
    incoming = spark.createDataFrame([(d, 1.0) for d in all_dates], "date date, v double")
    existing = spark.createDataFrame(
        [(d, 1.0) for d in existing_dates], "date date, v double"
    ) if existing_dates else incoming.limit(0)

    fresh = new_rows(incoming, existing, "date")
    assert {r["date"] for r in fresh.collect()} == set(all_dates) - set(existing_dates)
    merged = merge_incremental(incoming, existing, "date")
    assert sorted(r["date"] for r in merged.collect()) == all_dates
    assert merge_incremental(incoming, merged, "date").count() == len(all_dates)


sizes = st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=25)


@pytest.mark.slow
@SETTINGS
@given(sizes, st.integers(min_value=1, max_value=300))
def test_pack_bins_invariants(spark, szs, budget):
    from alphavantage_etl_spark.operators.sampling import pack_bins

    rows = [(i, "g", int(s)) for i, s in enumerate(szs)]
    df = spark.createDataFrame(rows, "id long, part string, sz long")
    out = sorted(
        ((r["id"], r["bin"]) for r in pack_bins(df, "part", "id", "sz", budget).collect())
    )
    bins = [b for _, b in out]
    # bins are consecutive, non-decreasing, starting at 0
    assert bins[0] == 0
    assert all(b2 - b1 in (0,) or b2 > b1 for b1, b2 in zip(bins, bins[1:]))
    # python mirror of the exclusive-prefix rule
    prior, want = 0, []
    for s in szs:
        want.append(prior // budget)
        prior += s
    assert bins == want


@pytest.mark.slow
@SETTINGS
@given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40, unique=True))
def test_hash_split_partitions_exactly(spark, ids):
    from alphavantage_etl_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = hash_split(df, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1}).collect()
    # total function: every row gets exactly one split, no row lost
    assert len(out) == len(ids)
    assert {r["split"] for r in out} <= {"train", "valid", "test"}
    # bucket ranges are the assignment: recompute from the bucket column
    for r in out:
        b = r["bucket"]
        want = "train" if b < 8000 else ("valid" if b < 9000 else "test")
        assert r["split"] == want


edge_lists = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=1, max_size=20,
).filter(lambda es: any(a != b for a, b in es))


@pytest.mark.slow
@SETTINGS
@given(edge_lists)
def test_connected_components_matches_union_find(spark, edges):
    from alphavantage_etl_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    cc = connected_components(df)
    got = {r["node"]: r["cluster"] for r in cc.collect()}
    cc.unpersist()

    # driver-side union-find mirror
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in {x for e in edges for x in e}:
        want[n] = find(n)
    assert got == want


@SETTINGS
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd", "Zs", "Po"),
                max_codepoint=0x2FF,
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
@pytest.mark.slow
def test_scrub_pii_is_idempotent_and_digit_free_on_hits(spark, texts):
    """scrub(scrub(x)) == scrub(x): placeholder tokens are digit-free and
    '@'-free in their local parts, so no pattern can re-match its own (or
    another pattern's) output — the property that makes sweep order safe."""
    from alphavantage_etl_spark.functions.text import scrub_pii

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    once = df.select("i", scrub_pii("t").alias("s"))
    twice = once.select("i", scrub_pii("s").alias("s"))
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "", "x y"]),
            max_size=6,
        ),
        min_size=1,
        max_size=6,
    ),
    min_docs=st.integers(min_value=1, max_value=4),
)
@pytest.mark.slow
def test_remove_boilerplate_invariants(spark, docs, min_docs):
    """For every document: n_kept + n_removed == its non-empty segment
    count; the rebuilt text is the original segment sequence minus
    boilerplate (order preserved, nothing invented)."""
    from alphavantage_etl_spark.operators.boilerplate import remove_boilerplate

    rows = [(i, "\n".join(segs)) for i, segs in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_boilerplate(
        df, "text", "doc_id", delim="\n", min_docs=min_docs
    ).collect()}
    freq = {}
    for _i, segs in enumerate(docs):
        for seg in set(s for s in segs if s != ""):
            freq[seg] = freq.get(seg, 0) + 1
    for i, segs in enumerate(docs):
        nz = [s for s in segs if s != ""]
        want_kept = [s for s in nz if freq[s] < min_docs]
        r = out[i]
        assert r["n_kept"] + r["n_removed"] == len(nz)
        assert r["text"] == "\n".join(want_kept)


# ------------------------------------------------- late-r4 op properties
@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=2,
        max_size=30,
    ),
    st.floats(min_value=0.5, max_value=50, allow_nan=False),
)
@pytest.mark.slow
def test_target_encode_stays_inside_hull(spark, rows, m):
    """The smoothed encoding is a convex blend of the category mean and
    the global mean — it can never leave their hull."""
    from alphavantage_etl_spark.functions.encoding import target_encode

    df = spark.createDataFrame(
        [(i, c, float(v)) for i, (c, v) in enumerate(rows)],
        "id long, cat string, y double",
    )
    out = target_encode(df, "cat", "y", smoothing=float(m)).collect()
    mu = sum(v for _, v in rows) / len(rows)
    by_cat: dict = {}
    for c, v in rows:
        by_cat.setdefault(c, []).append(v)
    for r in out:
        vals = by_cat[r["cat"]]
        cat_mean = sum(vals) / len(vals)
        lo, hi = min(cat_mean, mu), max(cat_mean, mu)
        assert lo - 1e-6 <= r["enc"] <= hi + 1e-6


@SETTINGS
@given(
    st.lists(
        # integer-valued floats: the operator rounds bin edges to 1e-6
        # BEFORE comparison (the cross-engine discipline), so values
        # separated by LESS than 1e-6 can legitimately collapse into one
        # bin — hypothesis found exactly that with denormal-scale floats.
        # At integer spacing the rounding can never move a boundary
        # across a value, and the equi-depth bound is clean.
        st.integers(min_value=-100_000, max_value=100_000).map(float),
        min_size=10,
        max_size=60,
    ),
    st.integers(min_value=2, max_value=6),
)
@pytest.mark.slow
def test_discretize_bins_are_equi_depth(spark, vals, nbins):
    """Equi-depth: no bin holds more than ceil(n/nbins) + (count of
    values tied at a boundary) rows; with all-distinct values the bound
    is tight."""
    from alphavantage_etl_spark.functions.encoding import quantile_discretize

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    out = quantile_discretize(df, "v", nbins).collect()
    counts: dict = {}
    for r in out:
        counts[r["bin"]] = counts.get(r["bin"], 0) + 1
    assert set(counts) <= set(range(nbins))
    n = len(vals)
    max_ties = max(
        (sum(1 for x in vals if x == v) for v in vals), default=1
    )
    import math as _m

    assert max(counts.values()) <= _m.ceil(n / nbins) + max_ties


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.booleans(),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_kaplan_meier_monotone_and_bounded(spark, subj):
    """Survival is a non-increasing step function in [0, 1]."""
    from alphavantage_etl_spark.operators.survival import kaplan_meier

    df = spark.createDataFrame(
        [(int(d), int(e)) for d, e in subj], "duration long, churned int"
    )
    out = sorted(
        kaplan_meier(df, "duration", "churned").collect(),
        key=lambda r: r["duration"],
    )
    prev = 1.0
    for r in out:
        assert 0.0 <= r["survival"] <= prev + 1e-9
        prev = r["survival"]


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_pagerank_mass_conserved(spark, edges):
    """Total rank stays 1 (up to quantization) on any digraph, dangling
    nodes included."""
    from alphavantage_etl_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )
    out = pagerank(df, "src", "dst", iters=3).collect()
    assert abs(sum(r["rank"] for r in out) - 1.0) < 1e-6


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        ),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.slow
def test_quantile_normalize_is_a_valid_percent_rank(spark, rows):
    """qnorm is always in [0, 1], NULL iff the value is NULL, monotone
    with the value within a group, and tied values share it."""
    from alphavantage_etl_spark.functions.distribution import (
        quantile_normalize,
    )

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)],
        "id long, g string, v double",
    )
    out = quantile_normalize(df, "v", "g").collect()
    assert len(out) == len(rows)
    by_group: dict = {}
    for r in out:
        if r["v"] is None:
            assert r["qnorm"] is None
            continue
        assert 0.0 <= r["qnorm"] <= 1.0
        by_group.setdefault(r["g"], []).append((r["v"], r["qnorm"]))
    for pairs in by_group.values():
        pairs.sort()
        for (v1, q1), (v2, q2) in zip(pairs, pairs[1:]):
            assert (q1 <= q2) and (v1 != v2 or q1 == q2)


@SETTINGS
@given(
    st.lists(st.floats(-1000, 1000, allow_nan=False), min_size=1, max_size=25),
    st.integers(min_value=1, max_value=6),
)
def test_rolling_median_bounded_by_window_extremes(spark, vals, k):
    """Wherever defined, the rolling median lies within [min, max] of its
    own trailing window (cents-rounded), and is NULL exactly while the
    window is short."""
    import datetime as dt

    from alphavantage_etl_spark.functions.indicators import rolling_median

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=i), i, float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "g long, ts timestamp_ntz, i long, v double")
    okey = F.struct(F.col("ts"), F.col("i"))
    out = sorted(
        df.select("i", rolling_median("v", okey, k, ("g",)).alias("m")).collect(),
        key=lambda r: r["i"],
    )
    cents = [round(v * 100) for v in vals]
    for i, r in enumerate(out):
        if i < k - 1:
            assert r["m"] is None
        else:
            w = cents[i - k + 1 : i + 1]
            assert min(w) / 100.0 <= r["m"] <= max(w) / 100.0


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # user
            st.sampled_from(["a", "b", "c", "purchase"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_attribution_conservation_laws(spark, events):
    """Linear credit sums to the number of attributable journeys; first
    and last touch counts each sum to the same journey count."""
    import datetime as dt

    from alphavantage_etl_spark.operators.cohorts import (
        conversion_attribution,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, t0 + dt.timedelta(minutes=i), i, ty)
        for i, (u, ty) in enumerate(events)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long, event_type string"
    )
    out = conversion_attribution(
        ev, "user_id", "ts", "event_type", "event_id"
    ).collect()
    n_first = sum(r["first_touch"] for r in out)
    n_last = sum(r["last_touch"] for r in out)
    linear = sum(r["linear_credit"] for r in out)
    assert n_first == n_last
    assert linear == pytest.approx(float(n_first), abs=1e-6)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.one_of(st.none(), st.text(max_size=8))),
        min_size=1,
        max_size=25,
    ),
    st.randoms(),
)
@pytest.mark.slow
def test_corpus_digest_permutation_invariant_everywhere(spark, rows, rng):
    """Any permutation and any repartitioning of the same content must
    produce the identical digest and counts."""
    from alphavantage_etl_spark.plans.quality import corpus_digest

    shuffled = list(rows)
    rng.shuffle(shuffled)
    a = spark.createDataFrame(rows, "doc_id long, text string")
    b = spark.createDataFrame(shuffled, "doc_id long, text string").repartition(5)
    ra = corpus_digest(a, ["doc_id", "text"]).first()
    rb = corpus_digest(b, ["doc_id", "text"]).first()
    assert ra["digest"] == rb["digest"]
    assert ra["n_rows"] == rb["n_rows"] == len(rows)
    assert ra["n_distinct"] == rb["n_distinct"]


@SETTINGS
@given(
    st.lists(st.floats(-50, 50, allow_nan=False), min_size=1, max_size=30),
    st.lists(st.floats(-50, 50, allow_nan=False), min_size=1, max_size=30),
)
@pytest.mark.slow
def test_ks_statistic_is_a_valid_distance(spark, xs, ys):
    """0 <= D <= 1 always; D == 0 exactly when the quantized empirical
    DISTRIBUTIONS coincide (proportions, not multisets — [0] vs [0, 0]
    have identical CDFs, so D is genuinely 0 at different sample
    sizes; hypothesis found that counterexample to the old
    multiset-equality form in r8); symmetric in its arguments."""
    from collections import Counter
    from fractions import Fraction

    from alphavantage_etl_spark.functions.distribution import ks_test

    a = spark.createDataFrame([(float(x),) for x in xs], "v double")
    b = spark.createDataFrame([(float(y),) for y in ys], "v double")
    d_ab = ks_test(a, b, "v").first()["ks_d"]
    d_ba = ks_test(b, a, "v").first()["ks_d"]
    assert 0.0 <= d_ab <= 1.0
    assert d_ab == d_ba

    def dist(vals):
        c = Counter(round(v * 100) for v in vals)
        n = sum(c.values())
        return {k: Fraction(v, n) for k, v in c.items()}

    same = dist(xs) == dist(ys)
    assert (d_ab == 0.0) == same


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(0, 27),
            st.floats(-100, 100, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.slow
def test_seasonal_profile_mass_conservation(spark, rows):
    """Per-group: counts over dows sum to the group total, and the
    n-weighted mean of dow_means reproduces the group mean exactly
    (an algebraic identity over the exact integer sums)."""
    import datetime as dt

    from alphavantage_etl_spark.operators.resample import seasonal_profile

    ev = spark.createDataFrame(
        [
            (g, dt.datetime(2024, 1, 1, 6) + dt.timedelta(days=day), float(v))
            for g, day, v in rows
        ],
        "event_type string, ts timestamp_ntz, value double",
    )
    out = seasonal_profile(ev, "ts", "value", "event_type").collect()
    by_g: dict = {}
    for r in out:
        by_g.setdefault(r["event_type"], []).append(r)
    want_n = {}
    want_sum = {}
    for g, day, v in rows:
        want_n[g] = want_n.get(g, 0) + 1
        want_sum[g] = want_sum.get(g, 0) + round(v * 100)
    for g, rs in by_g.items():
        assert sum(r["n"] for r in rs) == want_n[g]
        weighted = sum(r["n"] * r["dow_mean"] for r in rs)
        assert weighted == pytest.approx(want_sum[g] / 100.0, rel=1e-9)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.slow
def test_cohen_kappa_bounds_and_identities(spark, pairs):
    """kappa (when defined) stays in [-1, 1]; po/pe are valid
    probabilities; kappa = 1 exactly when agreement is perfect AND
    more than one label is in play (single shared label -> pe = 1 ->
    NULL); and kappa has the sign of po - pe."""
    from alphavantage_etl_spark.operators.evaluation import cohen_kappa

    df = spark.createDataFrame(pairs, "a int, b int")
    r = cohen_kappa(df, "a", "b").first()
    assert r["n"] == len(pairs)
    assert 0.0 <= r["po"] <= 1.0 and 0.0 <= r["pe"] <= 1.0
    if r["kappa"] is not None:
        assert -1.0 - 1e-12 <= r["kappa"] <= 1.0 + 1e-12
        if r["po"] > r["pe"]:
            assert r["kappa"] > 0
        elif r["po"] < r["pe"]:
            assert r["kappa"] < 0
        else:
            assert r["kappa"] == 0.0
        all_agree = all(a == b for a, b in pairs)
        assert (r["kappa"] == 1.0) == (all_agree and r["pe"] < 1.0)
    else:
        assert r["pe"] == 1.0


@SETTINGS
@given(
    st.lists(
        st.floats(
            min_value=1e-6, max_value=1.0,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
@pytest.mark.slow
def test_bh_reject_monotone_in_q_and_prefix(spark, ps):
    """BH invariants: the rejected set is a PREFIX of the p-ascending
    ranking, and it can only GROW as q grows."""
    from alphavantage_etl_spark.operators.experiment import bh_reject

    df = spark.createDataFrame(
        [(f"k{i}", p) for i, p in enumerate(ps)], "k string, p double"
    )

    def rejected(q):
        rows = bh_reject(df, "k", "p", q=q).collect()
        by_rank = sorted(rows, key=lambda r: r["rank"])
        rejs = [r["rejected"] for r in by_rank]
        # prefix property: no 1 after the first 0
        assert 1 not in rejs[rejs.index(0):] if 0 in rejs else True
        return sum(rejs)

    n_small, n_big = rejected(0.05), rejected(0.5)
    assert n_small <= n_big


@SETTINGS
@given(
    st.lists(st.integers(1, 60), min_size=1, max_size=15, unique=True),
    st.lists(st.integers(1, 60), min_size=1, max_size=15, unique=True),
)
@pytest.mark.slow
def test_rbo_bounds_and_symmetry(spark, ids_a, ids_b):
    """RBO stays in [0, 1), is symmetric in its arguments, and equals
    the closed-form geometric sum when the rankings are identical."""
    from alphavantage_etl_spark.operators.evaluation import (
        rank_biased_overlap,
    )

    a = spark.createDataFrame(
        [(i, r + 1) for r, i in enumerate(ids_a)], "id long, rank long"
    )
    b = spark.createDataFrame(
        [(i, r + 1) for r, i in enumerate(ids_b)], "id long, rank long"
    )
    d = 15
    r_ab = rank_biased_overlap(a, b, "id", "rank", p=0.8, depth=d).first()
    r_ba = rank_biased_overlap(b, a, "id", "rank", p=0.8, depth=d).first()
    assert 0.0 <= r_ab["rbo"] < 1.0
    assert r_ab["rbo"] == r_ba["rbo"]
    assert r_ab["n_common"] == r_ba["n_common"]
    r_aa = rank_biased_overlap(a, a, "id", "rank", p=0.8, depth=d).first()
    k = min(len(ids_a), d)
    # identical rankings of length k at depth d: X_i = min(i, k), so
    # agreement is 1 through depth k and k/i in the tail beyond it
    expect = sum(
        (1.0 - 0.8) * 0.8 ** (i - 1) * min(i, k) / i for i in range(1, d + 1)
    )
    assert r_aa["rbo"] == pytest.approx(expect, abs=1e-9)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(1, 8), st.integers(0, 1)),
        min_size=2,
        max_size=40,
    ).filter(lambda rs: len({v for v, _ in rs}) >= 2)
)
@pytest.mark.slow
def test_gini_stump_gain_nonnegative(spark, rows):
    """Gini is concave: NO split increases weighted impurity, so the
    best split's gain is >= 0; the threshold is a real feature value
    strictly below the max (the empty-right cut is not a candidate);
    n/n_pos match the input."""
    from alphavantage_etl_spark.operators.classify import gini_stump

    df = spark.createDataFrame(rows, "v int, y int")
    r = gini_stump(df, "y", "v").first()
    assert r["n"] == len(rows)
    assert r["n_pos"] == sum(y for _, y in rows)
    vals = sorted({v for v, _ in rows})
    assert r["best_threshold"] in vals and r["best_threshold"] < vals[-1]
    assert r["gain"] >= -1e-12
    assert 0.0 <= r["gini_split"] <= r["gini_parent"] + 1e-12 <= 0.5 + 1e-12


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.floats(0.0, 100.0, allow_nan=False)),
        min_size=4,
        max_size=30,
    ).filter(lambda rs: {f for f, _ in rs} == {0, 1})
)
@pytest.mark.slow
def test_perm_test_flag_flip_invariance(spark, rows):
    """Flipping the flag negates obs_diff but preserves |diff| per
    pseudo-permutation relabeling, so n_ge and p_value are invariant;
    p always lies in [1/(P+1), 1]."""
    from alphavantage_etl_spark.operators.experiment import perm_test_means

    df = spark.createDataFrame(
        [(i, f, v) for i, (f, v) in enumerate(rows)],
        "id long, f int, v double",
    )
    flipped = df.select("id", (1 - F.col("f")).alias("f"), "v")
    P = 9
    r1 = perm_test_means(df, "id", "f", "v", n_perms=P).first()
    r2 = perm_test_means(flipped, "id", "f", "v", n_perms=P).first()
    assert r1["obs_diff"] == pytest.approx(-r2["obs_diff"], abs=1e-12)
    assert r1["n_ge"] == r2["n_ge"] and r1["p_value"] == r2["p_value"]
    assert 1.0 / (P + 1) <= r1["p_value"] <= 1.0
    assert 0 <= r1["n_ge"] <= P


# --- r9 provenance properties ---

url_path_chars = st.text(
    alphabet=st.sampled_from("abcXYZ059._~%-"), max_size=12
)
host_label = st.text(alphabet=st.sampled_from("abcz09-"), min_size=1, max_size=8)


@st.composite
def urlish(draw):
    scheme = draw(st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"]))
    www = draw(st.sampled_from(["", "www.", "WWW."]))
    labels = draw(st.lists(host_label, min_size=2, max_size=4))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = "/".join(draw(st.lists(url_path_chars, max_size=3)))
    q = draw(
        st.sampled_from(
            ["", "?a=1", "?utm_x=1", "?utm_x=1&b=2", "?b=2&utm_y=3", "?utm_a=1&utm_b=2"]
        )
    )
    frag = draw(st.sampled_from(["", "#f", "#a/b?c"]))
    return f"{scheme}://{www}{'.'.join(labels)}{port}/{path}{q}{frag}"


@pytest.mark.slow
@SETTINGS
@given(st.lists(urlish(), min_size=1, max_size=25))
def test_canonical_url_is_idempotent(spark, urls):
    """canonicalize(canonicalize(u)) == canonicalize(u) — the invariant
    URL canonicalizers famously violate (a second pass must find nothing
    left to normalize, or dedup keys drift between pipeline stages).
    Batched: all cases in one DataFrame, both passes as columns."""
    from alphavantage_etl_spark.operators.provenance import canonical_url

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once, _h, _d, _s = canonical_url(F.col("url"))
    df = df.withColumn("c1", once)
    twice, _h2, _d2, _s2 = canonical_url(F.col("c1"))
    rows = df.withColumn("c2", twice).collect()
    for r in rows:
        assert r["c2"] == r["c1"], (r["url"], r["c1"], r["c2"])


@CONTRACT_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.sampled_from("abcd")),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 6),
)
# Engineered zero-candidate pin (r10): each id's rank key
# md5("dcap:a.example.com:{id}") sits ABOVE the 0.9 key-space quantile
# (precomputed in hashlib), so at cap=1/slack=8 the prune threshold
# 8/12 of the key space excludes ALL of them — the r9 code silently
# returned zero rows for the domain; the min-key structural survivor
# must keep exactly one (id 49, the smallest key).
@pytest.mark.slow
@example(rows=[(i, "a") for i in [1, 6, 9, 31, 35, 36, 49, 59, 62, 76, 85, 93]], cap=1)
def test_domain_caps_invariants(spark, rows, cap):
    """For any input: per-domain output size == min(cap, n_domain), the
    kept rows are a subset of the input, and n_total is reported
    exactly."""
    from collections import Counter

    from alphavantage_etl_spark.operators.provenance import domain_caps

    df = spark.createDataFrame(
        [(i, f"{d}.example.com") for i, d in rows], "doc_id long, domain string"
    )
    got = domain_caps(df, "domain", "doc_id", cap=cap, slack=8.0).collect()
    n = Counter(d for _, d in rows)
    out = Counter(r["domain"].split(".")[0] for r in got)
    assert out == Counter({d: min(cap, c) for d, c in n.items()})
    in_ids = {i for i, _ in rows}
    for r in got:
        assert r["doc_id"] in in_ids
        assert r["n_total"] == n[r["domain"].split(".")[0]]


@CONTRACT_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10**6),
            st.sampled_from("ab"),
            st.integers(1, 500),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 2000),
)
# r9 judge-found falsifier, pinned: a single 14-token doc at budget=1
# sets the prune threshold at the 8/14 ≈ 0.571 quantile, but
# md5("tbudget:a.org:0") lands at 0.591 — the r9 code pruned the
# domain's only row and returned ZERO rows, violating the ">= 1 row per
# non-empty domain" soft-cap contract. The min-key survivor keeps it.
@example(rows=[(0, "a", 14)], budget=1)
# r10-found falsifier, pinned: heavy-tailed tokens (1 and 18) at
# budget=2 — the raw-average estimate said the prefix holds 0.2 rows
# and pruned the 1-token doc the true prefix needs, so the exactness
# guard RAISED (loudly, not silently) on a perfectly ordinary input.
# The budget-capped prefix-row estimator keeps both docs candidates.
@pytest.mark.slow
@example(rows=[(0, "a", 1), (8, "a", 18)], budget=2)
def test_token_budget_matches_python_reference(spark, rows, budget):
    """The pruned Spark selection equals the naive full-cumsum reference
    for arbitrary (id, domain, tokens) inputs and budgets."""
    import hashlib
    from collections import defaultdict

    from alphavantage_etl_spark.operators.provenance import (
        token_budget_per_domain,
    )

    df = spark.createDataFrame(
        [(i, f"{d}.org", t) for i, d, t in rows],
        "doc_id long, domain string, tokens long",
    )
    got = {
        r["doc_id"]
        for r in token_budget_per_domain(
            df, "domain", "doc_id", "tokens", budget=budget, slack=8.0
        ).collect()
    }
    by_dom = defaultdict(list)
    for i, d, t in rows:
        h = hashlib.md5(f"tbudget:{d}.org:{i}".encode()).hexdigest()
        by_dom[d].append((h, i, t))
    want = set()
    for items in by_dom.values():
        items.sort()
        cum = 0
        for _h, i, t in items:
            if cum < budget:
                want.add(i)
            cum += t
    assert got == want


# --- X131/X132 upsert & changelog contracts (r11) ---------------------
# Contract-critical: a wrong merge/net-effect is a SILENT wrong table,
# not an error. Reference semantics are recomputed in plain Python.

_up_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),            # key
        st.sampled_from([None, 0, 1, 2]),                 # partition (incl NULL)
        st.integers(min_value=-5, max_value=5),           # value
    ),
    max_size=8,
)
_up_src = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),
        st.sampled_from([None, 0, 1, 2]),
        st.integers(min_value=-5, max_value=5),
        st.sampled_from([None, False, True]),             # delete flag
    ),
    max_size=6,
    unique_by=lambda t: t[0],                             # unique source keys
)


@CONTRACT_SETTINGS
@example(
    # the r10 advisor's HIGH finding: NULL partition update + delete
    tgt=[(1, None, 10), (2, None, 20)],
    src=[(1, None, 99, False), (2, None, 0, True)],
)
@pytest.mark.slow
@given(tgt=_up_rows, src=_up_src)
def test_upsert_merge_matches_reference_and_partition_split(spark, tgt, src):
    """upsert_merge == the plain-Python MERGE post-state, and the
    partitioned form == the unpartitioned form whenever the partition
    column is key-stable in BOTH frames (the declared precondition) —
    including NULL partition values on both sides."""
    from alphavantage_etl_spark.operators.evolution import upsert_merge

    # enforce the precondition: partition is a function of the key
    part_of = {}
    tgt2, src2 = [], []
    seen_t = set()
    for k, p, v in tgt:
        if k in seen_t:
            continue
        seen_t.add(k)
        part_of.setdefault(k, p)
        tgt2.append((k, part_of[k], v))
    for k, p, v, d in src:
        part_of.setdefault(k, p)
        src2.append((k, part_of[k], v, d))

    want = {k: (p, v) for k, p, v in tgt2}
    for k, p, v, d in src2:
        if d:
            want.pop(k, None)
        else:
            want[k] = (p, v)

    target = spark.createDataFrame(tgt2, "k long, part int, v long")
    source = spark.createDataFrame(src2, "k long, part int, v long, del boolean")
    flat = upsert_merge(target, source, ["k"], delete_col="del")
    got = {r["k"]: (r["part"], r["v"]) for r in flat.collect()}
    assert got == want
    parted = upsert_merge(
        target, source, ["k"], delete_col="del", partition_col="part"
    )
    got_p = {r["k"]: (r["part"], r["v"]) for r in parted.collect()}
    assert got_p == want


_cl_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),             # key
        st.integers(min_value=-3, max_value=3),            # value
        st.one_of(st.none(), st.integers(min_value=-4, max_value=4)),  # seq
        st.sampled_from(["I", "U", "D"]),
    ),
    max_size=8,
)


@pytest.mark.slow
@CONTRACT_SETTINGS
@example(rows=[(0, 1, -(2**63), "U"), (0, 2, None, "U")])  # MIN_LONG vs NULL
@given(rows=_cl_rows)
def test_apply_changelog_matches_reference(spark, rows):
    """apply_changelog == the plain-Python latest-event-per-key replay
    for every well-formed changelog: (has-seq, seq) ordering, NULL seq
    below every real seq including MIN_LONG, deletes remove keys."""
    from alphavantage_etl_spark.operators.evolution import apply_changelog

    # keep only well-formed logs: unique (key, seq), <=1 NULL seq per key
    seen: set = set()
    clean = []
    for k, v, s, op in rows:
        if (k, s) in seen:
            continue
        seen.add((k, s))
        clean.append((k, v, s, op))

    base = {k: k * 10 for k in range(3)}
    want = dict(base)
    # winner per key by (has-seq, seq); ties impossible after dedup
    best: dict = {}
    for k, v, s, op in clean:
        key_rank = (s is not None, s if s is not None else 0)
        if k not in best or key_rank > best[k][0]:
            best[k] = (key_rank, v, op)
    for k, (_, v, op) in best.items():
        if op == "D":
            want.pop(k, None)
        else:
            want[k] = v

    target = spark.createDataFrame(
        [(k, v) for k, v in base.items()], "k long, v long"
    )
    if clean:
        changes = spark.createDataFrame(
            clean, "k long, v long, seq long, op string"
        )
        out = apply_changelog(target, changes, ["k"], "seq", "op")
    else:
        out = target
    assert {r["k"]: r["v"] for r in out.collect()} == want


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=200),
            st.integers(min_value=0, max_value=200),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_winrate_wilson_interval_properties(spark, rows):
    """X143 across generated grids: bounds live in [0, 1], bracket the
    quantized rate, never collapse to a point, and `decided` holds
    exactly when the quantized interval excludes 0.5."""
    from alphavantage_etl_spark.operators.preference import winrate_wilson

    grid_rows = [
        (a, b, wa, wb) for a, b, wa, wb in rows
        if a != b and wa + wb > 0
    ]
    if not grid_rows:
        return
    # dedup pair keys (pairwise_win_grid would have aggregated them)
    seen = {}
    for a, b, wa, wb in grid_rows:
        seen[(a, b)] = (wa, wb)
    grid = spark.createDataFrame(
        [(a, b, wa, wb) for (a, b), (wa, wb) in seen.items()],
        "item_a long, item_b long, wins_a long, wins_b long",
    )
    for r in winrate_wilson(grid).collect():
        lb, ub, p = r["wilson_lb_a"], r["wilson_ub_a"], r["win_rate_a"]
        assert 0.0 <= lb < ub <= 1.0
        assert lb <= p + 1e-6 and p - 1e-6 <= ub
        assert r["decided"] == (lb > 0.5 or ub < 0.5)
        assert r["n_games"] == r["wins_a"] + r["wins_b"]


@SETTINGS
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-1.0,
                max_value=1.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=2),
)
@pytest.mark.slow
def test_kmeans_fit_quantized_matches_python_replica(spark, vecs, iters):
    """X144 across generated corpora: the distributed fit equals a
    pure-Python replica of the exact quantized iteration (init,
    argmin tie-breaks, away-from-zero means, carry-on-empty, final
    membership/inertia)."""
    import math

    from alphavantage_etl_spark.operators.similarity import (
        kmeans_fit_quantized,
    )

    n_cells = 2
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    out = kmeans_fit_quantized(df, n_cells=n_cells, iters=iters)
    got = {(r["cell"], r["dim"]): r for r in out.collect()}

    def away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    # replicate the engine's float32-then-quantize path: values arrive
    # as float32 (array<float>), cast to double, scaled, rounded
    import numpy as np

    q = {
        i: [away(float(np.float32(x)) * 1e6) for x in v]
        for i, v in enumerate(vecs)
    }
    cents = [q[0], q[1]]
    for _ in range(iters):
        asg = {}
        for i, qv in q.items():
            d2 = [
                sum((a - b) ** 2 for a, b in zip(qv, c)) for c in cents
            ]
            asg[i] = min(range(n_cells), key=lambda k: (d2[k], k))
        for c in range(n_cells):
            members = [q[i] for i in q if asg[i] == c]
            if members:
                cents[c] = [
                    away(sum(col) / len(members)) for col in zip(*members)
                ]
    final = {}
    for i, qv in q.items():
        d2 = [sum((a - b) ** 2 for a, b in zip(qv, c)) for c in cents]
        k = min(range(n_cells), key=lambda j: (d2[j], j))
        n, s = final.get(k, (0, 0))
        final[k] = (n + 1, s + d2[k])
    total_members = 0
    for c in range(n_cells):
        for d in range(3):
            assert got[(c, d)]["c6"] == cents[c][d]
        assert got[(c, 0)]["n_members"] == final.get(c, (0, 0))[0]
        assert got[(c, 0)]["inertia"] == final.get(c, (0, 0))[1]
        total_members += got[(c, 0)]["n_members"]
    assert total_members == len(vecs)


@SETTINGS
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-1.0,
                max_value=1.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=12,
    ),
    st.lists(st.integers(min_value=0, max_value=2), min_size=2, max_size=12),
)
@pytest.mark.slow
def test_kmeans_state_merge_associative_and_exact(spark, vecs, splits):
    """X149 across generated corpora and arbitrary batch partitions:
    state-merge is associative (any batching folds to the full-corpus
    state) and the refit equals a pure-Python replica of the exact
    quantized update (away-from-zero means, carry-on-empty)."""
    import math

    import numpy as np

    from alphavantage_etl_spark.operators.similarity import (
        kmeans_refit,
        kmeans_state,
        merge_kmeans_states,
    )

    cents = [[1_000_000, 0, 0], [0, 1_000_000, 0]]
    rows = list(enumerate(vecs))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # partition rows into up to 3 batches by the generated labels
    labels = [splits[i % len(splits)] for i in range(len(vecs))]
    batches = [
        spark.createDataFrame(
            [r for r, g in zip(rows, labels) if g == b] or rows[:0],
            "vec_id long, embedding array<float>",
        )
        for b in sorted(set(labels))
    ]
    inc = kmeans_refit(
        merge_kmeans_states(*[kmeans_state(b, cents) for b in batches]),
        cents,
    )
    full = kmeans_refit(kmeans_state(df, cents), cents)
    assert inc == full

    def away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    q = [[away(float(np.float32(x)) * 1e6) for x in v] for v in vecs]
    exp_cents = [list(c) for c in cents]
    exp_n: dict[int, int] = {}
    sums: dict[int, list[int]] = {}
    for qv in q:
        d2 = [sum((a - b) ** 2 for a, b in zip(qv, c)) for c in cents]
        k = min(range(len(cents)), key=lambda j: (d2[j], j))
        exp_n[k] = exp_n.get(k, 0) + 1
        s = sums.setdefault(k, [0] * 3)
        for d in range(3):
            s[d] += qv[d]
    for c, s in sums.items():
        exp_cents[c] = [away(x / exp_n[c]) for x in s]
    assert full[0] == exp_cents
    assert full[1] == exp_n


@CONTRACT_SETTINGS
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-2.0,
                max_value=2.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=2),
)
@pytest.mark.slow
def test_kmeans_fit_narrow_equals_wide_generated(spark, vecs, iters):
    """X154 contract across generated corpora: the narrow posexplode
    fit path (forced via max_dim below the true dim) is BIT-IDENTICAL
    to the wide literal-matrix form — a divergence would be a silent
    wrong quantizer, not an error, so this is contract-critical."""
    from alphavantage_etl_spark.operators.similarity import (
        kmeans_fit_quantized,
    )

    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    wide = kmeans_fit_quantized(df, n_cells=2, iters=iters, dim=4).collect()
    narrow = kmeans_fit_quantized(
        df, n_cells=2, iters=iters, dim=4, max_dim=2
    ).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, narrow))


@CONTRACT_SETTINGS
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-2.0,
                max_value=2.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=3,
        max_size=10,
    ),
    st.integers(min_value=2, max_value=6),
)
@pytest.mark.slow
def test_kmeans_fit_sampled_equals_fit_on_subset_generated(spark, vecs, cap):
    """X161 contract across generated corpora: sample_cap=c is EXACTLY
    the unsampled fit over the c rows with the smallest
    (md5('fit:' || id), id) key — the sample selection is content-
    addressed and engine-portable, so a SQL oracle replays it with
    ORDER BY md5(...) LIMIT c. A drift here would be a silently
    different quantizer, not an error."""
    import hashlib

    from alphavantage_etl_spark.operators.similarity import (
        kmeans_fit_quantized,
    )

    cap = min(cap, len(vecs))
    rows = list(enumerate(vecs))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    keep = sorted(
        range(len(vecs)),
        key=lambda i: (hashlib.md5(f"fit:{i}".encode()).hexdigest(), i),
    )[:cap]
    sub = spark.createDataFrame(
        [rows[i] for i in keep], "vec_id long, embedding array<float>"
    )
    got = kmeans_fit_quantized(
        df, n_cells=2, iters=1, dim=4, sample_cap=cap
    ).collect()
    want = kmeans_fit_quantized(sub, n_cells=2, iters=1, dim=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@SETTINGS
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-2.0,
                max_value=2.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=8,
    )
)
@pytest.mark.slow
def test_ann_join_pq_adc_matches_python_replica(spark, vecs):
    """X156/X157 across generated corpora: pq_encode_exact picks the
    per-subspace argmin code (ties to lowest) of the exact-fit
    codebook, and ann_join_pq's adc_d2 + ranking equal a pure-Python
    replica over all candidate pairs (single-cell quantizer so every
    pair is a candidate)."""
    import math

    import numpy as np

    from alphavantage_etl_spark.operators.similarity import (
        ann_join_pq,
        assign_cells_l2q,
        pq_encode_exact,
        pq_fit_exact,
    )

    m, codes, d_sub = 2, 2, 2
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    fit = pq_fit_exact(df, m=m, codes=codes, iters=1, dim=4).collect()
    books = [[[0] * d_sub for _ in range(codes)] for _ in range(m)]
    for r in fit:
        books[r["subspace"]][r["code"]][r["dim"]] = int(r["c6"])

    cents6 = [[0, 0, 0, 0]]  # one cell: every pair is a candidate
    idx = assign_cells_l2q(df, cents6, n_probe=1).join(
        pq_encode_exact(df, books), on="vec_id"
    )
    qc = assign_cells_l2q(df, cents6, n_probe=1)
    k = len(vecs)
    got = {
        (r["query_id"], r["corpus_id"]): (r["adc_d2"], r["rank"])
        for r in ann_join_pq(
            df, k=k, query_cells=qc, corpus_index=idx, books6=books
        ).collect()
    }

    def away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    q = {
        i: [away(float(np.float32(x)) * 1e6) for x in v]
        for i, v in enumerate(vecs)
    }

    def code(i, s):
        sl = q[i][s * d_sub : (s + 1) * d_sub]
        d2 = [
            sum((a - b) ** 2 for a, b in zip(sl, c)) for c in books[s]
        ]
        return min(range(codes), key=lambda j: (d2[j], j))

    exp = {}
    for qi in q:
        cands = []
        for ci in q:
            adc = sum(
                (q[qi][s * d_sub + d] - books[s][code(ci, s)][d]) ** 2
                for s in range(m)
                for d in range(d_sub)
            )
            cands.append((adc, ci))
        for rank, (adc, ci) in enumerate(sorted(cands), start=1):
            exp[(qi, ci)] = (adc, rank)
    assert got == exp


@SETTINGS
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-2.0,
                max_value=2.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=8,
    )
)
@pytest.mark.slow
def test_pq_residual_matches_python_replica(spark, vecs):
    """X164 across generated corpora: under a NONTRIVIAL 2-cell coarse
    quantizer, residual-mode fit/encode/ADC equal a pure-Python replica
    that assigns each vector to its integer-L2 argmin cell, subtracts
    that centroid, codes the residual, and ranks candidates by the
    query's residual w.r.t. the CANDIDATE's cell (n_probe = both
    cells, so every pair is a candidate)."""
    import math

    import numpy as np

    from alphavantage_etl_spark.operators.similarity import (
        ann_join_pq,
        assign_cells_l2q,
        pq_encode_exact,
        pq_fit_exact,
    )

    m, codes, d_sub = 2, 2, 2
    cents6 = [[-500_000, -500_000, -500_000, -500_000],
              [500_000, 500_000, 500_000, 500_000]]
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    fit = pq_fit_exact(
        df, m=m, codes=codes, iters=1, dim=4, residual_cents6=cents6
    ).collect()
    books = [[[0] * d_sub for _ in range(codes)] for _ in range(m)]
    for r in fit:
        books[r["subspace"]][r["code"]][r["dim"]] = int(r["c6"])

    idx = pq_encode_exact(df, books, residual_cents6=cents6)
    qc = assign_cells_l2q(df, cents6, n_probe=2)
    k = len(vecs)
    got = {
        (r["query_id"], r["corpus_id"]): (r["adc_d2"], r["rank"])
        for r in ann_join_pq(
            df,
            k=k,
            query_cells=qc,
            corpus_index=idx,
            books6=books,
            residual_cents6=cents6,
        ).collect()
    }

    def away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    q = {
        i: [away(float(np.float32(x)) * 1e6) for x in v]
        for i, v in enumerate(vecs)
    }

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def cell(i):
        return min(range(2), key=lambda c: (d2(q[i], cents6[c]), c))

    def resid(i, c):
        return [a - b for a, b in zip(q[i], cents6[c])]

    def code(i, s):
        sl = resid(i, cell(i))[s * d_sub : (s + 1) * d_sub]
        sc = [d2(sl, bc) for bc in books[s]]
        return min(range(codes), key=lambda j: (sc[j], j))

    exp = {}
    for qi in q:
        cands = []
        for ci in q:
            # candidate's cell is shared (n_probe=2 probes both), the
            # query residual is taken w.r.t. THAT cell
            r = resid(qi, cell(ci))
            adc = sum(
                (r[s * d_sub + d] - books[s][code(ci, s)][d]) ** 2
                for s in range(m)
                for d in range(d_sub)
            )
            cands.append((adc, ci))
        for rank, (adc, ci) in enumerate(sorted(cands), start=1):
            exp[(qi, ci)] = (adc, rank)
    assert got == exp


@SETTINGS
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-2.0,
                max_value=2.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=66,
            max_size=66,
        ),
        min_size=2,
        max_size=6,
    )
)
@pytest.mark.slow
def test_ann_join_bq_matches_python_replica(spark, vecs):
    """X167 across generated corpora at dim 66 — TWO packed words with
    a partial top word AND the signed bit-63 lane in word 0: bq_fit's
    integer thresholds, bq_encode's signed-lane packing, and
    ann_join_bq's hamming + ranking all equal a pure-Python replica
    over all candidate pairs (single-cell quantizer so every pair is
    a candidate)."""
    import math

    import numpy as np

    from alphavantage_etl_spark.operators.similarity import (
        _BQ_POW,
        ann_join_bq,
        assign_cells_l2q,
        bq_encode,
        bq_fit,
    )

    dim = 66
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    sums6, n = bq_fit(df, dim=dim)

    def away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    q = {
        i: [away(float(np.float32(x)) * 1e6) for x in v]
        for i, v in enumerate(vecs)
    }
    assert n == len(vecs)
    assert sums6 == [
        sum(q[i][d] for i in q) for d in range(dim)
    ]

    def pack(v):
        words = []
        for w in range((dim + 63) // 64):
            acc = 0
            for j in range(64):
                d = w * 64 + j
                if d < dim and v[d] * n > sums6[d]:
                    acc += _BQ_POW[j]
            words.append(acc)
        return words

    got_bits = {
        r["vec_id"]: list(r["__bits"])
        for r in bq_encode(df, sums6, n).collect()
    }
    exp_bits = {i: pack(q[i]) for i in q}
    assert got_bits == exp_bits

    cents6 = [[0] * dim]  # one cell: every pair is a candidate
    idx = assign_cells_l2q(df, cents6, n_probe=1).join(
        bq_encode(df, sums6, n), on="vec_id"
    )
    qc = assign_cells_l2q(df, cents6, n_probe=1)
    k = len(vecs)
    got = {
        (r["query_id"], r["corpus_id"]): (r["hamming"], r["rank"])
        for r in ann_join_bq(
            df, k=k, query_cells=qc, corpus_index=idx, sums6=sums6, n_fit=n
        ).collect()
    }

    def ham(a, b):
        mask = (1 << 64) - 1
        return sum(bin((x ^ y) & mask).count("1") for x, y in zip(a, b))

    exp = {}
    for qi in q:
        cands = sorted(
            (ham(exp_bits[qi], exp_bits[ci]), ci) for ci in q
        )
        for rank, (h, ci) in enumerate(cands, start=1):
            exp[(qi, ci)] = (h, rank)
    assert got == exp
