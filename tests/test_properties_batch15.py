"""Property-based tests for the r10 thirteenth-batch operators:
randomized inputs checked against independent plain-Python references
(a median-deviation ANOVA for Brown-Forsythe, a per-block rank
calculator for Friedman, the marginal-totals Cochran formula, a Searle
n0 ICC, a literal run counter, and a textbook pool-adjacent-violators
sweep for isotonic). Example counts stay small — every example runs
Spark jobs.
"""

from __future__ import annotations

import math
import statistics
from collections import Counter, defaultdict

from hypothesis import given, settings, strategies as st

from hdp_tez_spark.extensions.analytics import runs_test
from hdp_tez_spark.extensions.experiments import (
    cochran_q,
    friedman_test,
    icc_oneway,
    isotonic_calibration,
    levene_test,
)
from tests.conftest import SETTINGS


VALS = st.integers(-20, 20).map(lambda i: i / 2.0)


def _anova_f(groups: dict) -> float | None:
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    if k == 1:
        return None
    grand = sum(sum(v) for v in groups.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values())
    ssw = sum(sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values())
    if n <= k or ssw <= 0:
        return None
    return (ssb / (k - 1)) / (ssw / (n - k))


@given(
    rows=st.lists(
        st.tuples(st.sampled_from("ab"), VALS), min_size=4, max_size=30
    )
)
@settings(**SETTINGS)
def test_levene_matches_median_deviation_anova(spark, rows):
    df = spark.createDataFrame(list(rows), "g string, v double")
    r = levene_test(df, "g", "v").collect()[0]
    by_g = defaultdict(list)
    for g, v in rows:
        by_g[g].append(v)
    zs = {
        g: [abs(x - statistics.median(v)) for x in v]
        for g, v in by_g.items()
    }
    ref = _anova_f(zs)
    if ref is None:
        assert r.w_stat is None
    else:
        assert abs(r.w_stat - ref) < 1e-4


@given(
    counts=st.lists(
        st.tuples(st.integers(0, 3), st.sampled_from("xyz"), st.integers(1, 5)),
        min_size=3,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_friedman_matches_rank_reference(spark, counts):
    rows = [(b, t) for b, t, c in counts for _ in range(c)]
    df = spark.createDataFrame(rows, "b long, t string")
    out = friedman_test(df, "b", "t").collect()[0]
    cells = Counter((b, t) for b, t in rows)
    k = len({t for _, t in cells})
    blocks = defaultdict(dict)
    for (b, t), x in cells.items():
        blocks[b][t] = x
    complete = {b: d for b, d in blocks.items() if len(d) == k}
    assert out.n_blocks == len(complete)
    if not complete:
        return
    rj = defaultdict(float)
    ssr = 0.0
    for d in complete.values():
        vals = sorted(d.values())
        for t, x in d.items():
            lo = sum(1 for v in vals if v < x)
            ties = sum(1 for v in vals if v == x)
            rank = lo + 1 + (ties - 1) / 2
            rj[t] += rank
            ssr += rank * rank
    n = len(complete)
    corr = k * (k + 1) ** 2 / 4
    den = ssr - n * corr
    if den <= 0:
        assert out.q_stat is None
        return
    q = (k - 1) * (sum(v * v for v in rj.values()) - n * n * corr) / den
    assert abs(out.q_stat - q) < 1e-4


@given(
    flags=st.lists(
        st.tuples(st.integers(0, 4), st.sampled_from("abc"), st.booleans()),
        min_size=3,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_cochran_matches_marginal_formula(spark, flags):
    rows = [(s, t, int(ok)) for s, t, ok in flags]
    df = spark.createDataFrame(rows, "s long, t string, ok int")
    out = cochran_q(df, "s", "t", "ok").collect()[0]
    cells = {}
    for s, t, ok in rows:
        cells[(s, t)] = max(cells.get((s, t), 0), ok)
    k = len({t for _, t in cells})
    subs = defaultdict(dict)
    for (s, t), x in cells.items():
        subs[s][t] = x
    complete = {s: d for s, d in subs.items() if len(d) == k}
    assert out.n_subjects == len(complete)
    if not complete:
        return
    ri = {s: sum(d.values()) for s, d in complete.items()}
    cj = defaultdict(int)
    for d in complete.values():
        for t, x in d.items():
            cj[t] += x
    t_tot = sum(ri.values())
    den = k * t_tot - sum(v * v for v in ri.values())
    if den <= 0:
        assert out.q_stat is None
        return
    q = k * (k - 1) * sum((c - t_tot / k) ** 2 for c in cj.values()) / den
    assert abs(out.q_stat - q) < 1e-4


@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abc"), VALS), min_size=3, max_size=30
    )
)
@settings(**SETTINGS)
def test_icc_matches_searle_reference(spark, rows):
    df = spark.createDataFrame(list(rows), "g string, v double")
    out = icc_oneway(df, "g", "v").collect()[0]
    by_g = defaultdict(list)
    for g, v in rows:
        by_g[g].append(v)
    k, n = len(by_g), len(rows)
    if k == 1 or n == k:
        assert out.icc is None
        return
    grand = sum(v for _, v in rows) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in by_g.values())
    ssw = sum(sum((x - sum(v) / len(v)) ** 2 for x in v) for v in by_g.values())
    msb, msw = ssb / (k - 1), ssw / (n - k)
    n0 = (n - sum(len(v) ** 2 for v in by_g.values()) / n) / (k - 1)
    den = msb + (n0 - 1) * msw
    if den == 0:
        assert out.icc is None
        return
    assert abs(out.icc - (msb - msw) / den) < 1e-4


@given(vals=st.lists(VALS, min_size=2, max_size=30))
@settings(**SETTINGS)
def test_runs_matches_literal_counter(spark, vals):
    rows = [("a", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, i long, v double")
    out = runs_test(df, "g", ["i"], "v").collect()
    med = statistics.median(vals)
    signs = [1 if v > med else 0 for v in vals if v != med]
    if not signs:
        assert out == []
        return
    r = out[0]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n1, n2 = sum(signs), len(signs) - sum(signs)
    assert (r.n1, r.n2, r.runs) == (n1, n2, runs)
    n = n1 + n2
    if n1 == 0 or n2 == 0 or n < 2 or 2 * n1 * n2 <= n:
        assert r.z_stat is None
        return
    mu = 2 * n1 * n2 / n + 1
    var = 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / (n * n * (n - 1))
    assert abs(r.z_stat - (runs - mu) / math.sqrt(var)) < 1e-4


def _pav(weights: list[float], values: list[float]) -> list[float]:
    # textbook pool-adjacent-violators sweep
    blocks = [[w, w * v] for w, v in zip(weights, values)]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][1] / blocks[i][0] > blocks[i + 1][1] / blocks[i + 1][0] + 1e-12:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    return [(w, s / w) for w, s in blocks]


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 9), st.booleans()), min_size=1, max_size=40
    )
)
@settings(**SETTINGS)
def test_isotonic_matches_pav_sweep(spark, pts):
    rows = [(b / 10 + 0.05, int(y)) for b, y in pts]
    df = spark.createDataFrame(rows, "score double, y int")
    out = sorted(
        isotonic_calibration(df, "score", "y", bins=10).collect(),
        key=lambda r: r.bin,
    )
    cells = defaultdict(lambda: [0, 0])
    for b, y in pts:
        cells[b][0] += 1
        cells[b][1] += int(y)
    order = sorted(cells)
    weights = [cells[b][0] for b in order]
    rates = [cells[b][1] / cells[b][0] for b in order]
    blocks = _pav(weights, rates)
    # expand block means back to per-bin fits
    fits = []
    for w, m in blocks:
        consumed = 0
        while consumed < w:
            consumed += weights[len(fits)]
            fits.append(m)
    assert [r.bin for r in out] == order
    for r, ref in zip(out, fits):
        assert abs(r.fitted - round(ref, 6)) < 1e-6
