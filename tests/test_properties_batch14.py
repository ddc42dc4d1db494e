"""Property-based tests for the r10 twelfth-batch operators:
randomized inputs checked against independent plain-Python references
(a literal mean-decomposition ANOVA, a dense-grid chi-square for
Cramér's V, a pooled-support CDF integrator for Wasserstein, a Counter
frequency-of-frequencies for Good-Turing, a direct G² formula for
keyness, and a dict-based HITS iterator). Example counts stay small —
every example runs Spark jobs.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from hypothesis import example, given, settings, strategies as st

from hdp_tez_spark.extensions.experiments import (
    anova_oneway,
    cramers_v,
    wasserstein_1d,
)
from hdp_tez_spark.extensions.graph import hits_scores
from hdp_tez_spark.extensions.textstats import good_turing
from tests.conftest import SETTINGS


VALS = st.integers(-20, 20).map(lambda i: i / 2.0)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abc"), VALS), min_size=2, max_size=40
    )
)
@settings(**SETTINGS)
def test_anova_matches_mean_decomposition(spark, rows):
    df = spark.createDataFrame(list(rows), "g string, v double")
    r = anova_oneway(df, "g", "v").collect()[0]
    by_g: dict[str, list[float]] = defaultdict(list)
    for g, v in rows:
        by_g[g].append(v)
    n = sum(len(vs) for vs in by_g.values())
    grand = sum(sum(vs) for vs in by_g.values()) / n
    ssb = sum(len(vs) * (sum(vs) / len(vs) - grand) ** 2 for vs in by_g.values())
    ssw = sum(
        sum((x - sum(vs) / len(vs)) ** 2 for x in vs) for vs in by_g.values()
    )
    k = len(by_g)
    assert (r.n_groups, r.n) == (k, n)
    assert abs(r.ss_between - ssb) < 1e-4
    assert abs(r.ss_within - ssw) < 1e-4
    if k > 1 and n > k and ssw > 0:
        f = (ssb / (k - 1)) / (ssw / (n - k))
        assert abs(r.f_stat - f) < 1e-3
    else:
        assert r.f_stat is None


@given(
    rows=st.lists(
        st.tuples(st.sampled_from("ab"), st.sampled_from("xyz")),
        min_size=2,
        max_size=40,
    )
)
# independent table whose Σ o²/(rt·ct) sums to one ulp below 1
@example(
    rows=[("a", "x"), ("a", "x"), ("a", "y"), ("a", "y"), ("b", "x"), ("b", "y")]
)
@settings(**SETTINGS)
def test_cramers_v_matches_dense_grid(spark, rows):
    df = spark.createDataFrame(list(rows), "u string, w string")
    r = cramers_v(df, "u", "w").collect()[0]
    n = len(rows)
    cells = Counter(rows)
    rt = Counter(a for a, _ in rows)
    ct = Counter(b for _, b in rows)
    chi2 = sum(
        (cells.get((a, b), 0) - rt[a] * ct[b] / n) ** 2 / (rt[a] * ct[b] / n)
        for a in rt
        for b in ct
    )
    assert r.n == n
    assert abs(r.chi2 - chi2) < 1e-4
    mindim = min(len(rt), len(ct)) - 1
    if mindim >= 1:
        assert abs(r.v - math.sqrt(chi2 / (n * mindim))) < 1e-4
    else:
        assert r.v is None


@given(
    a=st.lists(VALS, min_size=1, max_size=15),
    b=st.lists(VALS, min_size=1, max_size=15),
)
@settings(**SETTINGS)
def test_wasserstein_matches_cdf_integral(spark, a, b):
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    out = wasserstein_1d(df, "g", "v", "a", "b").collect()
    support = sorted(set(a) | set(b))
    ref = 0.0
    for lo, hi in zip(support, support[1:]):
        fa = sum(1 for v in a if v <= lo) / len(a)
        fb = sum(1 for v in b if v <= lo) / len(b)
        ref += (hi - lo) * abs(fa - fb)
    if len(support) < 2:
        # single support point: no segments -> empty readout
        assert out == [] or out[0].w1 == 0.0
        return
    assert (out[0].n_a, out[0].n_b) == (len(a), len(b))
    assert abs(out[0].w1 - ref) < 1e-5


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_good_turing_matches_counter(spark, docs):
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    out = {r.r: r for r in good_turing(df, "text").collect()}
    freq = Counter(t for d in docs for t in d.split())
    nr = Counter(freq.values())
    n = sum(freq.values())
    assert set(out) == set(nr)
    for r, count in nr.items():
        assert out[r].n_r == count
        assert abs(out[r].p_mass - r * count / n) < 1e-5
        if r + 1 in nr:
            assert abs(out[r].r_star - (r + 1) * nr[r + 1] / count) < 1e-5
        else:
            assert out[r].r_star is None


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 6), st.integers(10, 15)),
        min_size=1,
        max_size=15,
    ),
    iters=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_hits_matches_dict_iterator(spark, edges, iters):
    e = sorted(edges)
    df = spark.createDataFrame(e, "src long, dst long")
    out = {r.node: r for r in hits_scores(df, iters=iters).collect()}
    nodes = {u for u, _ in e} | {v for _, v in e}
    hub = {v: 1 for v in nodes}
    auth: dict[int, int] = {}
    for _ in range(iters):
        auth = defaultdict(int)
        for u, v in e:
            auth[v] += hub[u]
        hub = defaultdict(int)
        for u, v in e:
            hub[u] += auth[v]
    sh, sa = sum(hub.values()), sum(auth.values())
    assert set(out) == nodes
    for v in nodes:
        assert abs(out[v].hub - round(hub.get(v, 0) / sh, 6)) < 1e-6
        assert abs(out[v].auth - round(auth.get(v, 0) / sa, 6)) < 1e-6
