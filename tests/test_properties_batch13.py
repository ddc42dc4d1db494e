"""Property-based tests for the r10 eleventh-batch operators:
randomized inputs checked against independent plain-Python references
(a literal per-item Fleiss calculator, a sorted-loop Qini integrator, a
2x2 McNemar formula, a set-algebra affinity counter, a numpy-free
scatter decomposition, and a direct RBO summation). Example counts stay
small — every example runs Spark jobs.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from hypothesis import given, settings, strategies as st

from hdp_tez_spark.extensions.analytics import event_affinity
from hdp_tez_spark.extensions.experiments import (
    fleiss_kappa,
    mcnemar_test,
    qini_auuc,
)
from hdp_tez_spark.extensions.ranking import rank_overlap
from hdp_tez_spark.extensions.similarity import embedding_separability
from tests.conftest import SETTINGS


@given(
    ratings=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from("abc")),
        min_size=4,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_fleiss_matches_per_item_reference(spark, ratings):
    df = spark.createDataFrame(list(ratings), "item long, cat string")
    r = fleiss_kappa(df, "item", "cat").collect()[0]
    by_item: dict[int, Counter] = defaultdict(Counter)
    for i, c in ratings:
        by_item[i][c] += 1
    kept = {i: cnt for i, cnt in by_item.items() if sum(cnt.values()) >= 2}
    if not kept:
        assert r.n_items == 0
        return
    pis = []
    cat_tot: Counter = Counter()
    for cnt in kept.values():
        ni = sum(cnt.values())
        pis.append((sum(v * v for v in cnt.values()) - ni) / (ni * (ni - 1)))
        cat_tot.update(cnt)
    pbar = sum(pis) / len(pis)
    tot = sum(cat_tot.values())
    pe = sum((v / tot) ** 2 for v in cat_tot.values())
    assert r.n_items == len(kept) and r.n_ratings == tot
    assert abs(r.p_bar - pbar) < 1e-5
    assert abs(r.p_e - pe) < 1e-5
    if pe < 1:
        assert abs(r.kappa - (pbar - pe) / (1 - pe)) < 1e-4
    else:
        assert r.kappa is None


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 1), st.integers(0, 99)),
        min_size=2,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_qini_matches_sorted_loop_reference(spark, rows):
    data = [(i, t, y, s / 10.0) for i, (t, y, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, tr int, y int, s double")
    r = qini_auuc(df, "id", "tr", "y", "s").collect()[0]
    ordered = sorted(data, key=lambda x: (-x[3], x[0]))
    cyt = cnt = cyc = cnc = 0
    qs = []
    for _, t, y, _ in ordered:
        cyt += t * y
        cnt += t
        cyc += (1 - t) * y
        cnc += 1 - t
        qs.append(cyt - (cyc * cnt / cnc if cnc else 0.0))
    assert (r.n, r.n_treat, r.n_ctrl) == (
        len(data), sum(t for _, t, *_ in ordered), sum(1 - t for _, t, *_ in ordered)
    )
    assert abs(r.auuc - sum(qs) / len(qs)) < 1e-5


@given(
    flags=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 1)), min_size=1, max_size=40)
)
@settings(**SETTINGS)
def test_mcnemar_matches_formula(spark, flags):
    df = spark.createDataFrame(list(flags), "a int, b int")
    r = mcnemar_test(df, "a", "b").collect()[0]
    b = sum(1 for a, bb in flags if a == 1 and bb == 0)
    c = sum(1 for a, bb in flags if a == 0 and bb == 1)
    assert (r.a_only, r.b_only) == (b, c)
    if b + c == 0:
        assert r.statistic is None
    else:
        assert abs(r.statistic - (abs(b - c) - 1) ** 2 / (b + c)) < 1e-6


@given(
    pres=st.lists(
        st.tuples(st.integers(0, 6), st.sampled_from("wxyz")),
        min_size=2,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_event_affinity_matches_set_reference(spark, pres):
    df = spark.createDataFrame(list(pres), "u long, t string")
    got = {(r.type_a, r.type_b): r for r in event_affinity(df, ["u"], "t").collect()}
    by_type: dict[str, set] = defaultdict(set)
    for u, t in pres:
        by_type[t].add(u)
    users = {u for u, _ in pres}
    types = sorted(by_type)
    exp = {}
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            both = len(by_type[a] & by_type[b])
            if both:
                exp[(a, b)] = (both, len(by_type[a]), len(by_type[b]))
    assert set(got) == set(exp)
    for key, (both, na, nb) in exp.items():
        r = got[key]
        lift = both * len(users) / (na * nb)
        assert (r.n_both, r.n_a, r.n_b) == (both, na, nb)
        assert abs(r.lift - lift) < 1e-5
        assert abs(r.pmi - math.log2(lift)) < 1e-4


@given(
    pts=st.lists(
        st.tuples(
            st.tuples(st.integers(-5, 5), st.integers(-5, 5)),
            st.integers(0, 2),
        ),
        min_size=4,
        max_size=20,
    ).filter(lambda ps: len({lab for _, lab in ps}) >= 2)
)
@settings(**SETTINGS)
def test_separability_scatter_decomposition(spark, pts):
    data = [
        (i, [float(v[0]), float(v[1])], lab) for i, (v, lab) in enumerate(pts)
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>, label int")
    r = embedding_separability(df).collect()[0]
    vecs = [(v, lab) for _, v, lab in data]
    n = len(vecs)
    mu = [sum(v[d] for v, _ in vecs) / n for d in range(2)]
    by_lab: dict[int, list] = defaultdict(list)
    for v, lab in vecs:
        by_lab[lab].append(v)
    W = sum(
        sum((v[d] - sum(g[d] for g in grp) / len(grp)) ** 2 for v in grp)
        for grp in by_lab.values()
        for d in range(2)
    )
    B = sum(
        len(grp) * (sum(g[d] for g in grp) / len(grp) - mu[d]) ** 2
        for grp in by_lab.values()
        for d in range(2)
    )
    assert r.n == n and r.k == len(by_lab)
    assert abs(r.within_ss - W) < 1e-3
    assert abs(r.between_ss - B) < 1e-3


@given(
    a_ids=st.lists(st.integers(0, 30), min_size=1, max_size=10, unique=True),
    b_ids=st.lists(st.integers(0, 30), min_size=1, max_size=10, unique=True),
)
@settings(**SETTINGS)
def test_rank_overlap_matches_direct_sum(spark, a_ids, b_ids):
    k, p = max(len(a_ids), len(b_ids)), 0.85
    a = spark.createDataFrame(
        [(x, i + 1) for i, x in enumerate(a_ids)], "item long, r int"
    )
    b = spark.createDataFrame(
        [(x, i + 1) for i, x in enumerate(b_ids)], "item long, r int"
    )
    r = rank_overlap(a, b, "item", "r", p=p, k=k).collect()[0]
    ra = {x: i + 1 for i, x in enumerate(a_ids)}
    rb = {x: i + 1 for i, x in enumerate(b_ids)}
    direct = 0.0
    for d in range(1, k + 1):
        xd = sum(1 for x in ra if x in rb and max(ra[x], rb[x]) <= d)
        direct += p ** (d - 1) * xd / d
    direct *= 1 - p
    assert r.n_common == len(set(a_ids) & set(b_ids))
    assert abs(r.rbo - direct) < 1e-5
