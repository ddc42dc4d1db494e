"""Property-based tests for the r09 fifth-batch operators: randomized
inputs checked against independent plain-Python references (sequential
peeling for k-core — the fixpoint is order-independent, so sequential
and synchronized peels must agree; closed-form LLR; brute-force split
scans; numpy rolling correlation; set-based OOV counting; cumulative
weighted quantiles). Example counts stay small — every example runs
Spark jobs.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from hdp_tez_spark.extensions.analytics import (
    best_split,
    rolling_corr,
    weighted_quantiles,
)
from hdp_tez_spark.extensions.experiments import sprt_check
from hdp_tez_spark.extensions.graph import k_core
from tests.conftest import SETTINGS


# ------------------------------------------------------------ k_core

graphs = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=25,
)


def _k_core_reference(pairs, k):
    """SEQUENTIAL peeling — k-core uniqueness makes any removal order
    reach the same fixpoint as the engine's synchronized rounds."""
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        deg: dict[int, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        doomed = {n for n, d in deg.items() if d < k}
        if not doomed:
            return deg
        edges = {(a, b) for a, b in edges if a not in doomed and b not in doomed}


@given(pairs=graphs, k=st.integers(1, 4))
@settings(**SETTINGS)
def test_k_core_matches_sequential_python_peel(spark, pairs, k):
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {r.node: r.degree for r in k_core(df, k=k).collect()}
    assert got == _k_core_reference(pairs, k)


# ------------------------------------------------------------ sprt_check

outcomes = st.lists(st.integers(0, 1), min_size=1, max_size=40)


@given(flags=outcomes)
@settings(**SETTINGS)
def test_sprt_matches_closed_form(spark, flags):
    p0, p1, alpha, beta = 0.4, 0.6, 0.05, 0.1
    df = spark.createDataFrame([("g", f) for f in flags], "g string, s int")
    r = sprt_check(df, ["g"], "s", p0, p1, alpha, beta).collect()[0]
    n, s = len(flags), sum(flags)
    llr = s * math.log(p1 / p0) + (n - s) * math.log((1 - p1) / (1 - p0))
    lower = math.log(beta / (1 - alpha))
    upper = math.log((1 - beta) / alpha)
    assert (r.n, r.successes) == (n, s)
    assert r.llr == pytest.approx(llr, abs=2e-6)
    want = (
        "accept_h1"
        if r.llr >= round(upper, 6)
        else "accept_h0"
        if r.llr <= round(lower, 6)
        else "continue"
    )
    assert r.decision == want


# ------------------------------------------------------------ best_split

series = st.lists(
    st.floats(-50.0, 50.0, allow_nan=False, width=32), min_size=2, max_size=12
)


def _best_split_reference(ys):
    n = len(ys)
    best = None
    for i in range(1, n):
        ml = sum(ys[:i]) / i
        mr = sum(ys[i:]) / (n - i)
        score = math.sqrt(i * (n - i) / n) * abs(ml - mr)
        # strict > keeps the EARLIEST split on ties, matching the engine
        if best is None or score > best[0] + 1e-12:
            best = (score, i, ml, mr)
    return best


@given(ys=series)
@settings(**SETTINGS)
def test_best_split_matches_brute_force(spark, ys):
    df = spark.createDataFrame(
        [("g", i + 1, float(y)) for i, y in enumerate(ys)],
        "g string, t int, y double",
    )
    r = best_split(df, ["g"], "t", "y").collect()[0]
    score, i, ml, mr = _best_split_reference([float(y) for y in ys])
    # scores can tie within float noise; the reported score must match
    # the optimum even if the argmax position differs inside the tie
    assert r.score == pytest.approx(score, abs=1e-5)
    if abs(score) > 1e-6:
        assert r.split_after == i
        assert r.mean_left == pytest.approx(ml, abs=1e-5)
        assert r.mean_right == pytest.approx(mr, abs=1e-5)


# ------------------------------------------------------------ rolling_corr

pairs_series = st.lists(
    st.tuples(
        st.floats(-20.0, 20.0, allow_nan=False, width=32),
        st.floats(-20.0, 20.0, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=12,
)


@given(xy=pairs_series, k=st.integers(2, 5))
@settings(**SETTINGS)
def test_rolling_corr_matches_numpy(spark, xy, k):
    df = spark.createDataFrame(
        [("g", i + 1, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "g string, t int, x double, y double",
    )
    got = {
        r.t: r.r_xy
        for r in rolling_corr(df, ["g"], "t", "x", "y", window=k).collect()
    }
    for t in range(1, len(xy) + 1):
        if t < k:
            assert got[t] is None
            continue
        xs = np.array([x for x, _ in xy[t - k : t]], dtype=np.float64)
        ys = np.array([y for _, y in xy[t - k : t]], dtype=np.float64)
        if xs.std() == 0.0 or ys.std() == 0.0:
            assert got[t] is None
            continue
        want = float(np.corrcoef(xs, ys)[0, 1])
        if got[t] is None:
            # engine guards var > 0 on the EXPANDED form; numpy can
            # still produce a value when the expansion cancels to ~0
            assert min(xs.std(), ys.std()) < 1e-4
        else:
            assert got[t] == pytest.approx(want, abs=1e-4), t


# ------------------------------------------------------------ weighted_quantiles

wq_rows = st.lists(
    st.tuples(st.integers(-5, 5), st.integers(1, 9)),  # (value, weight)
    min_size=1,
    max_size=20,
)
qs_strategy = st.lists(
    st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9, 1.0]),
    min_size=1,
    max_size=4,
    unique=True,
)


def _wq_reference(rows, q):
    cells: dict[int, float] = {}
    for v, w in rows:
        cells[v] = cells.get(v, 0.0) + float(w)
    total = sum(cells.values())
    cum = 0.0
    for v in sorted(cells):
        cum += cells[v]
        if q * total <= cum:
            return v
    return max(cells)


@given(rows=wq_rows, qs=qs_strategy)
@settings(**SETTINGS)
def test_weighted_quantiles_matches_python_cumsum(spark, rows, qs):
    df = spark.createDataFrame(
        [("g", v, w) for v, w in rows], "g string, v int, w int"
    )
    got = {
        r.q: r.value
        for r in weighted_quantiles(df, ["g"], "v", "w", qs=tuple(qs)).collect()
    }
    for q in qs:
        assert got[q] == _wq_reference(rows, q), q
