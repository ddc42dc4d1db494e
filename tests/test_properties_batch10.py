"""Property-based tests for the r10 eighth-batch operators: randomized
inputs checked against independent plain-Python references (a
dict-of-sets B-cubed scorer, an m-estimate shrinkage formula, a sorted
order-statistic Hill estimator, consecutive-difference interarrival
moments, and an O(n*m) brute-force nearest-control matcher). Example
counts stay small — every example runs Spark jobs.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hdp_tez_spark.extensions.analytics import (
    hill_tail_index,
    interarrival_stats,
)
from hdp_tez_spark.extensions.dedup import bcubed_eval
from hdp_tez_spark.extensions.experiments import (
    propensity_match,
    target_encoding,
)
from tests.conftest import SETTINGS


# ------------------------------------------------------------ bcubed_eval


@given(
    labels=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_bcubed_matches_per_item_average_reference(spark, labels):
    # item i gets pred cluster labels[i][0], gold cluster labels[i][1]
    pred = spark.createDataFrame(
        [(i, f"p{p}") for i, (p, _) in enumerate(labels)], "id int, cluster string"
    )
    gold = spark.createDataFrame(
        [(i, f"g{g}") for i, (_, g) in enumerate(labels)], "id int, cluster string"
    )
    r = bcubed_eval(pred, gold).collect()[0]
    # reference: literal per-item average over cluster-overlap ratios
    pc, gc = defaultdict(set), defaultdict(set)
    for i, (p, g) in enumerate(labels):
        pc[p].add(i)
        gc[g].add(i)
    precs, recs = [], []
    for i, (p, g) in enumerate(labels):
        inter = len(pc[p] & gc[g])
        precs.append(inter / len(pc[p]))
        recs.append(inter / len(gc[g]))
    assert r.n_items == len(labels)
    assert r.precision == pytest.approx(sum(precs) / len(precs), abs=1e-6)
    assert r.recall == pytest.approx(sum(recs) / len(recs), abs=1e-6)


# ------------------------------------------------------------ target_encoding


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(-20, 20)),
        min_size=1,
        max_size=30,
    ),
    m=st.sampled_from([0.0, 1.0, 10.0]),
)
@settings(**SETTINGS)
def test_target_encoding_matches_m_estimate_reference(spark, rows, m):
    df = spark.createDataFrame(
        [(f"c{c}", float(y)) for c, y in rows], "c string, y double"
    )
    out = {r.category: r for r in target_encoding(df, "c", "y", prior_weight=m).collect()}
    sums, ns = Counter(), Counter()
    for c, y in rows:
        sums[f"c{c}"] += y
        ns[f"c{c}"] += 1
    gmean = sum(sums.values()) / sum(ns.values())
    assert set(out) == set(ns)
    for c in ns:
        exp = (sums[c] + m * gmean) / (ns[c] + m)
        assert out[c].n == ns[c]
        assert out[c].raw_mean == pytest.approx(sums[c] / ns[c], abs=1e-6)
        assert out[c].encoded == pytest.approx(exp, abs=1e-6)


# ------------------------------------------------------------ hill_tail_index


@given(
    vals=st.lists(
        st.floats(0.125, 1e6, allow_nan=False, width=32), min_size=1, max_size=40
    ),
    k=st.sampled_from([2, 5, 10]),
)
@settings(**SETTINGS)
def test_hill_matches_sorted_reference(spark, vals, k):
    df = spark.createDataFrame([("g", float(v)) for v in vals], "g string, v double")
    r = hill_tail_index(df, ["g"], "v", k=k).collect()[0]
    xs = sorted((float(v) for v in vals), reverse=True)
    assert r.n_pos == len(xs)
    if len(xs) < k + 1:
        assert r.alpha is None and r.x_k1 is None
        return
    xk1 = xs[k]
    # operator rounds x_k1 to 6 dp with Spark round() = BigDecimal
    # HALF_UP on the shortest decimal repr. Python's round() is
    # half-EVEN, so it disagrees at exact .5 boundaries (hypothesis
    # falsified the old reference with 1.5078125 -> Spark 1.507813 vs
    # Python 1.507812; the DuckDB oracle sides with Spark). Mirror
    # HALF_UP exactly.
    from decimal import ROUND_HALF_UP, Decimal

    xk1_r = float(
        Decimal(repr(xk1)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )
    assert r.x_k1 == pytest.approx(xk1_r, abs=1e-9)
    denom = sum(math.log(xs[i] / xk1) for i in range(k))
    if denom == 0:
        # constant tail: estimator undefined, operator emits NULL
        assert r.alpha is None
    else:
        assert r.alpha == pytest.approx(k / denom, rel=1e-4)


# ------------------------------------------------------------ interarrival


@given(
    ts=st.lists(st.integers(0, 10_000), min_size=3, max_size=30, unique=False)
)
@settings(**SETTINGS)
def test_interarrival_matches_difference_reference(spark, ts):
    rows = [(1, t) for t in ts]
    df = spark.createDataFrame(rows, "user_id int, sec long").select(
        "user_id", F.timestamp_seconds("sec").alias("ts")
    )
    r = interarrival_stats(df, ["user_id"], "ts").collect()[0]
    s = sorted(ts)
    gaps = [b - a for a, b in zip(s, s[1:])]
    mu = sum(gaps) / len(gaps)
    var = sum(g * g for g in gaps) / len(gaps) - mu * mu
    sd = math.sqrt(max(var, 0.0))
    assert r.n_events == len(ts) and r.n_gaps == len(gaps)
    assert r.mean_gap_s == pytest.approx(mu, abs=1e-6)
    assert r.sd_gap_s == pytest.approx(sd, abs=1e-4)


# ------------------------------------------------------------ propensity_match


@given(
    controls=st.lists(
        st.floats(0.0, 10.0, allow_nan=False, width=16), min_size=0, max_size=8
    ),
    treated=st.lists(
        st.floats(0.0, 10.0, allow_nan=False, width=16), min_size=1, max_size=6
    ),
)
@settings(**SETTINGS)
def test_propensity_match_distance_is_brute_force_minimum(spark, controls, treated):
    rows = [("x", 100 + i, False, float(s)) for i, s in enumerate(controls)] + [
        ("x", i, True, float(s)) for i, s in enumerate(treated)
    ]
    df = spark.createDataFrame(rows, "g string, id int, t boolean, s double")
    out = {r.treated_id: r for r in propensity_match(df, ["g"], "id", "t", "s").collect()}
    if not controls:
        assert not out
        return
    # the window pick must achieve the brute-force minimum |distance|
    # (control-id tie-breaks among equidistant controls are the
    # documented sort-order rule, so only the distance is asserted)
    for i, s in enumerate(treated):
        best = min(abs(float(s) - float(c)) for c in controls)
        assert out[i].score_diff == pytest.approx(best, abs=1e-6)
