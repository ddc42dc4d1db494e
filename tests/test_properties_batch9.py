"""Property-based tests for the r09 sixth-batch operators: randomized
inputs checked against independent plain-Python references (explicit
order-statistic conformal radii, sorted-list quantile normalization,
slice-based trimmed means, and a row-at-a-time lift table). Example
counts stay small — every example runs Spark jobs.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st

from hdp_tez_spark.extensions.analytics import (
    lift_curve,
    quantile_normalize,
    trimmed_mean,
)
from hdp_tez_spark.extensions.experiments import conformal_intervals
from tests.conftest import SETTINGS


floats = st.floats(-50.0, 50.0, allow_nan=False, width=32)


# ------------------------------------------------------------ conformal


@given(
    cal=st.lists(floats, min_size=1, max_size=20),
    test=st.lists(floats, min_size=1, max_size=10),
    alpha=st.sampled_from([0.1, 0.25, 0.5]),
)
@settings(**SETTINGS)
def test_conformal_matches_order_statistic_reference(spark, cal, test, alpha):
    mk = lambda rs: spark.createDataFrame(
        [("g", float(r), 0.0) for r in rs], "g string, y double, yhat double"
    )
    r = conformal_intervals(
        mk(cal), mk(test), ["g"], "y", "yhat", alpha=alpha
    ).collect()[0]
    rs = sorted(abs(float(c)) for c in cal)
    k = math.ceil((len(rs) + 1) * (1 - alpha))
    if k > len(rs):
        assert r.qhat is None
        assert r.coverage == pytest.approx(1.0, abs=1e-9)
        return
    qhat = rs[k - 1]
    assert r.qhat == pytest.approx(qhat, abs=1e-6)
    covered = sum(1 for t in test if abs(float(t)) <= qhat)
    assert r.covered == covered
    assert r.coverage == pytest.approx(covered / len(test), abs=1e-6)


# ------------------------------------------------------------ quantile_normalize


@given(
    ga=st.lists(floats, min_size=1, max_size=8),
    gb=st.lists(floats, min_size=1, max_size=8),
)
@settings(**SETTINGS)
def test_quantile_normalize_matches_sorted_list_reference(spark, ga, gb):
    rows = [("a", i, float(v)) for i, v in enumerate(ga)] + [
        ("b", i, float(v)) for i, v in enumerate(gb)
    ]
    df = spark.createDataFrame(rows, "g string, id int, v double")
    got = {(r.g, r.id): r.qnorm for r in quantile_normalize(df, ["g"], "id", "v").collect()}
    # reference: rank -> mean of values at that rank across present groups
    sa = sorted(range(len(ga)), key=lambda i: (ga[i], i))
    sb = sorted(range(len(gb)), key=lambda i: (gb[i], i))
    ref = {}
    for rk in range(max(len(ga), len(gb))):
        vals = []
        if rk < len(sa):
            vals.append(float(ga[sa[rk]]))
        if rk < len(sb):
            vals.append(float(gb[sb[rk]]))
        ref[rk] = sum(vals) / len(vals)
    for rk, i in enumerate(sa):
        assert got[("a", i)] == pytest.approx(ref[rk], abs=1e-5), ("a", i)
    for rk, i in enumerate(sb):
        assert got[("b", i)] == pytest.approx(ref[rk], abs=1e-5), ("b", i)


# ------------------------------------------------------------ trimmed_mean


@given(
    vals=st.lists(floats, min_size=1, max_size=25),
    trim=st.sampled_from([0.0, 0.1, 0.2, 0.4]),
)
@settings(**SETTINGS)
def test_trimmed_mean_matches_slice_reference(spark, vals, trim):
    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "g string, v double"
    )
    r = trimmed_mean(df, ["g"], "v", trim=trim).collect()[0]
    s = sorted(float(v) for v in vals)
    cut = int(len(s) * trim)
    kept = s[cut : len(s) - cut]
    assert (r.n, r.n_trimmed_each_side) == (len(s), cut)
    assert r.trimmed_mean == pytest.approx(sum(kept) / len(kept), abs=1e-5)


# ------------------------------------------------------------ lift_curve


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 1)),  # (score grid, label)
        min_size=2,
        max_size=30,
    ).filter(lambda rs: any(l for _, l in rs)),
    n_buckets=st.sampled_from([2, 3, 5]),
)
@settings(**SETTINGS)
def test_lift_curve_matches_row_reference(spark, rows, n_buckets):
    df = spark.createDataFrame(
        [(float(s), l) for s, l in rows], "score double, label int"
    )
    got = {r.bucket: r for r in lift_curve(df, "score", "label", n_buckets=n_buckets).collect()}
    # reference: exact integer NTILE over score-desc row positions, with
    # positives inside a tied score cell attributed proportionally
    from collections import defaultdict

    cells = defaultdict(lambda: [0, 0])  # score -> [count, positives]
    for s, l in rows:
        cells[float(s)][0] += 1
        cells[float(s)][1] += l
    n = len(rows)
    ptot = sum(l for _, l in rows)
    hi = 0
    per = defaultdict(lambda: [0.0, 0.0])  # bucket -> [rows, positives]
    for s in sorted(cells, reverse=True):
        c, p = cells[s]
        lo, hi = hi, hi + c
        for b in range(1, n_buckets + 1):
            bs = math.ceil((b - 1) * n / n_buckets)
            be = math.ceil(b * n / n_buckets)
            take = min(hi, be) - max(lo, bs)
            if take > 0:
                per[b][0] += take
                per[b][1] += p * take / c
    cum_n = cum_p = 0.0
    for b in sorted(per):
        cum_n += per[b][0]
        cum_p += per[b][1]
        assert got[b].n == int(per[b][0]), b
        assert got[b].n_pos == pytest.approx(per[b][1], abs=1e-5), b
        assert got[b].cum_n == int(cum_n), b
        assert got[b].capture_rate == pytest.approx(cum_p / ptot, abs=1e-5), b
        want_lift = (cum_p / cum_n) / (ptot / n)
        assert got[b].lift == pytest.approx(want_lift, abs=1e-5), b
    assert sum(r.n for r in got.values()) == n
