"""Property-based tests for the r09 operator batches: randomized inputs
checked against independent plain-Python references (Kaplan-Meier
product over explicit risk sets, a step-up BH implementation, a greedy
wedge-count link scorer). Example counts stay small — every example
runs Spark jobs.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st

from hdp_tez_spark.extensions.analytics import kaplan_meier
from hdp_tez_spark.extensions.experiments import fdr_bh
from hdp_tez_spark.extensions.graph import link_prediction
from tests.conftest import SETTINGS


subjects = st.lists(
    st.tuples(st.integers(1, 8), st.integers(0, 1)),  # (duration, event)
    min_size=1,
    max_size=30,
)


def _km_reference(rows: list[tuple[int, int]]) -> dict[int, tuple[int, int, int, float]]:
    """(t -> n_risk, n_event, n_censored, survival) at event times."""
    times = sorted({t for t, _ in rows})
    out: dict[int, tuple[int, int, int, float]] = {}
    s = 1.0
    for t in times:
        at_risk = sum(1 for d, _ in rows if d >= t)
        d = sum(1 for dur, e in rows if dur == t and e == 1)
        c = sum(1 for dur, e in rows if dur == t and e == 0)
        if at_risk:
            s *= 1.0 - d / at_risk
        if d > 0:
            out[t] = (at_risk, d, c, s)
    return out


@given(rows=subjects)
@settings(**SETTINGS)
def test_kaplan_meier_matches_python_reference(spark, rows):
    df = spark.createDataFrame(
        [("g", t, e) for t, e in rows], "g string, t int, ev int"
    )
    got = {
        r.t: (r.n_risk, r.n_event, r.n_censored, r.survival)
        for r in kaplan_meier(df, ["g"], "t", "ev").collect()
    }
    want = _km_reference(rows)
    assert set(got) == set(want)
    for t, (nr, d, c, s) in want.items():
        gnr, gd, gc, gs = got[t]
        assert (gnr, gd, gc) == (nr, d, c), t
        assert gs == pytest.approx(s, abs=2e-6), t


pvals = st.lists(
    st.tuples(
        st.integers(0, 1),                        # family
        st.floats(0.0, 1.0, allow_nan=False),     # p
    ),
    min_size=1,
    max_size=20,
)


def _bh_reference(rows: list[tuple[int, float]], alpha: float):
    """(family, rank) -> (adj_p, reject) with (p, test-name) tie order."""
    out = {}
    fams: dict[int, list[tuple[float, str]]] = {}
    for i, (fam, p) in enumerate(rows):
        fams.setdefault(fam, []).append((round(p, 6), f"t{i:03d}"))
    for fam, items in fams.items():
        items.sort()
        m = len(items)
        suffix_min = 1.0
        adjs = [0.0] * m
        for idx in range(m - 1, -1, -1):
            suffix_min = min(suffix_min, items[idx][0] * m / (idx + 1))
            adjs[idx] = min(suffix_min, 1.0)
        for idx, (p, name) in enumerate(items):
            out[(fam, name)] = (adjs[idx], adjs[idx] <= alpha)
    return out


@given(rows=pvals)
@settings(**SETTINGS)
def test_fdr_bh_matches_python_step_up(spark, rows):
    data = [(fam, f"t{i:03d}", round(p, 6)) for i, (fam, p) in enumerate(rows)]
    df = spark.createDataFrame(data, "fam int, test string, p double")
    got = {
        (r.fam, r.test): (r.adj_p, r.reject)
        for r in fdr_bh(df, ["fam"], "test", "p", alpha=0.05).collect()
    }
    want = _bh_reference(rows, 0.05)
    assert set(got) == set(want)
    for key, (adj, rej) in want.items():
        assert got[key][0] == pytest.approx(adj, abs=2e-6), key
        assert got[key][1] == rej, key


edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=25,
)


def _link_reference(edges, min_common):
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if b in adj[a]:
                continue
            common = adj[a] & adj[b]
            if len(common) >= min_common:
                aa = sum(1.0 / math.log(len(adj[z])) for z in common)
                out[(a, b)] = (len(common), aa)
    return out


@given(edges=edge_lists)
@settings(**SETTINGS)
def test_link_prediction_matches_python_wedge_scorer(spark, edges):
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {
        (r.a, r.b): (r.common_neighbors, r.adamic_adar)
        for r in link_prediction(df, min_common=1, top_n=1000).collect()
    }
    want = _link_reference(edges, 1)
    assert set(got) == set(want)
    for key, (cn, aa) in want.items():
        assert got[key][0] == cn, key
        assert got[key][1] == pytest.approx(aa, abs=2e-6), key
