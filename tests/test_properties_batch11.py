"""Property-based tests for the r10 ninth-batch operators: randomized
inputs checked against independent plain-Python references (a literal
sort-then-band RFM scorer, a sorted-window pair enumerator, a textbook
average-precision sum, a brute-force cosine k-NN voter, and an
order-statistic embargo splitter). Example counts stay small — every
example runs Spark jobs.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

from hypothesis import given, settings, strategies as st

from hdp_tez_spark.extensions.analytics import rfm_scores
from hdp_tez_spark.extensions.dedup import sorted_neighborhood_pairs
from hdp_tez_spark.extensions.experiments import average_precision
from hdp_tez_spark.extensions.similarity import knn_label
from hdp_tez_spark.extensions.splits import time_embargo_split
from tests.conftest import SETTINGS


# ------------------------------------------------------------ rfm_scores


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 6),          # customer
            st.integers(0, 30),         # day offset
            st.integers(1, 500),        # cents amount (2-dp exact)
        ),
        min_size=1,
        max_size=25,
    ),
    buckets=st.integers(2, 5),
)
@settings(**SETTINGS)
def test_rfm_matches_sort_then_band_reference(spark, rows, buckets):
    base = dt.datetime(2024, 1, 1)
    data = [
        (c, base + dt.timedelta(days=d), cents / 100.0) for c, d, cents in rows
    ]
    df = spark.createDataFrame(data, "cust long, ts timestamp, amount double")
    got = {
        r.key: (r.r_score, r.f_score, r.m_score, r.rfm)
        for r in rfm_scores(df, "cust", "ts", "amount", buckets=buckets).collect()
    }
    # reference: aggregate per key, rank each dimension (ties by key),
    # band by floor((rank-1)*B/n)+1
    cells: dict[int, list] = {}
    for c, ts, amt in data:
        e = cells.setdefault(c, [None, 0, 0.0])
        e[0] = ts if e[0] is None else max(e[0], ts)
        e[1] += 1
        e[2] += amt
    keys = sorted(cells)
    n = len(keys)

    def band(order_vals):
        ranked = sorted(keys, key=lambda k: (order_vals[k], k))
        return {k: math.floor(i * buckets / n) + 1 for i, k in enumerate(ranked)}

    rb = band({k: cells[k][0] for k in keys})
    fb = band({k: cells[k][1] for k in keys})
    mb = band({k: round(cells[k][2], 2) for k in keys})
    for k in keys:
        exp = (rb[k], fb[k], mb[k], 100 * rb[k] + 10 * fb[k] + mb[k])
        assert got[k] == exp, (k, got[k], exp)


# ------------------------------------------------------------ sorted_neighborhood_pairs


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from("abcde")),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    window=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_sorted_neighborhood_matches_window_reference(spark, rows, window):
    df = spark.createDataFrame(list(rows), "id long, key string")
    got = {
        (r.id_a, r.id_b, r.rank_gap)
        for r in sorted_neighborhood_pairs(df, "id", "key", window=window).collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    exp = {
        (order[i][0], order[i + g][0], g)
        for i in range(len(order))
        for g in range(1, window + 1)
        if i + g < len(order)
    }
    assert got == exp


# ------------------------------------------------------------ average_precision


@given(
    labels=st.lists(st.integers(0, 1), min_size=1, max_size=25),
)
@settings(**SETTINGS)
def test_average_precision_matches_textbook_sum(spark, labels):
    # distinct descending scores pin the rank order to the list order
    data = [("g", float(len(labels) - i), i, y) for i, y in enumerate(labels)]
    df = spark.createDataFrame(data, "grp string, score double, id long, label int")
    r = average_precision(df, ["grp"], "score", "label", "id").collect()[0]
    npos = sum(labels)
    if npos == 0:
        assert r.ap is None
    else:
        cum, s = 0, 0.0
        for i, y in enumerate(labels, start=1):
            cum += y
            if y:
                s += cum / i
        assert abs(r.ap - s / npos) < 1e-6
    assert r.n == len(labels) and r.n_pos == npos


# ------------------------------------------------------------ knn_label


@given(
    train=st.lists(
        st.tuples(
            st.tuples(st.integers(-3, 3), st.integers(-3, 3)).filter(
                lambda v: v != (0, 0)
            ),
            st.integers(0, 2),
        ),
        min_size=2,
        max_size=12,
    ),
    k=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_knn_label_matches_bruteforce_vote(spark, train, k):
    tdf = spark.createDataFrame(
        [(i, [float(v[0]), float(v[1])], lab) for i, (v, lab) in enumerate(train)],
        "vec_id long, embedding array<double>, label int",
    )
    qvec = (1.0, 0.5)
    qdf = spark.createDataFrame(
        [(1000, [qvec[0], qvec[1]], -1)],
        "vec_id long, embedding array<double>, label int",
    )
    r = knn_label(qdf, tdf, k=k).collect()[0]

    def cos(a, b):
        num = a[0] * b[0] + a[1] * b[1]
        den = math.hypot(*a) * math.hypot(*b)
        return round(num / den, 6)  # operator rounds to 6 dp before ranking

    ranked = sorted(
        ((cos(qvec, (float(v[0]), float(v[1]))), i) for i, (v, _) in enumerate(train)),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    votes = Counter(train[i][1] for _, i in ranked)
    best = min(votes, key=lambda lab: (-votes[lab], lab))
    assert (r.label, r.votes, r.k_used) == (best, votes[best], min(k, len(train)))


# ------------------------------------------------------------ time_embargo_split


@given(
    secs=st.lists(st.integers(0, 120), min_size=2, max_size=30),
    frac_pct=st.integers(10, 90),
    embargo=st.integers(0, 60),
)
@settings(**SETTINGS)
def test_time_embargo_matches_order_statistic_reference(spark, secs, frac_pct, embargo):
    base = dt.datetime(2024, 1, 1)
    frac = frac_pct / 100.0
    data = [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(secs)]
    df = spark.createDataFrame(data, "id long, ts timestamp")
    got = {r.id: r.split for r in time_embargo_split(df, "id", "ts", frac, embargo).collect()}
    # reference: smallest t with count(<= t) >= ceil(frac * n)
    n = len(secs)
    target = math.ceil(frac * n)
    ordered = sorted(secs)
    cut = next(t for t in ordered if sum(1 for s in secs if s <= t) >= target)
    for i, s in enumerate(secs):
        exp = "train" if s <= cut else ("embargo" if s <= cut + embargo else "test")
        assert got[i] == exp, (i, s, cut, embargo, got[i], exp)
