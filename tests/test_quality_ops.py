"""Behavioral tests for the round-4 quality/sampling/sketch/graph/
time-series operators — edge cases the sf0.001 oracle suite can't reach
(nulls, empty groups, known-answer graphs, merge laws).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdp_tez_spark.extensions.graph import triangle_count
from hdp_tez_spark.extensions.quality import fk_violations, profile_table
from hdp_tez_spark.extensions.sketches import cms_build, cms_estimate
from hdp_tez_spark.extensions.splits import weighted_sample
from hdp_tez_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def test_profile_table_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")], "x int, s string"
    )
    prof = {r.col_name: r for r in profile_table(df, ["x", "s"]).collect()}
    assert prof["x"].n_rows == 4
    assert prof["x"].n_null == 1
    assert prof["x"].n_distinct == 2
    assert prof["x"].min_val == 1.0 and prof["x"].max_val == 2.0
    assert prof["s"].n_null == 1
    assert prof["s"].n_distinct == 2
    assert prof["s"].min_val is None and prof["s"].max_val is None


def test_profile_table_rejects_unknown_column(spark):
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError):
        profile_table(df, ["nope"])


def test_fk_violations_counts_both_directions(spark):
    child = spark.createDataFrame([(1,), (1,), (2,), (99,), (None,)], "k int")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "p int")
    row = fk_violations(child, "k", parent, "p", "t").first()
    # 99 and NULL reference nothing; parent 3 is never referenced
    assert row.orphan_children == 2
    assert row.childless_parents == 1
    assert row.n_child == 5 and row.n_parent == 3


def test_weighted_sample_deterministic_and_filters_nonpositive(spark):
    df = spark.createDataFrame(
        [(i, float(i % 5) - 1.0) for i in range(200)], "id int, w double"
    )
    s1 = weighted_sample(df, "id", "w", 25).collect()
    s2 = weighted_sample(df.repartition(7), "id", "w", 25).collect()
    assert sorted(r.id for r in s1) == sorted(r.id for r in s2)
    # weights <= 0 (w in {-1, 0}) must never be drawn
    drawn_w = {r.w for r in s1}
    assert all(w > 0 for w in drawn_w)
    assert len(s1) == 25


def test_weighted_sample_biases_toward_heavy_rows(spark):
    # two strata: weight 100 vs weight 1 — the heavy stratum must dominate
    df = spark.createDataFrame(
        [(i, 100.0 if i < 100 else 1.0) for i in range(1000)], "id int, w double"
    )
    picked = weighted_sample(df, "id", "w", 100).collect()
    heavy = sum(1 for r in picked if r.w == 100.0)
    assert heavy > 50


def test_cms_never_undercounts_and_merges(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    from hdp_tez_spark.functions.text import tokenize

    toks = docs.select(
        F.explode(tokenize(F.col("text"))).alias("word"), F.col("doc_id")
    )
    exact = toks.groupBy("word").agg(F.count(F.lit(1)).alias("exact"))
    sk = cms_build(toks, "word", d=3, w=128)
    est = cms_estimate(sk, exact.select("word"), "word", d=3, w=128)
    joined = est.join(exact, "word").collect()
    assert all(r.est >= r.exact for r in joined)
    # sketch is mergeable: build on disjoint halves, union + re-group ==
    # single build (cell-wise addition is the merge)
    h1 = cms_build(toks.where(F.col("doc_id") % 2 == 0), "word", d=3, w=128)
    h2 = cms_build(toks.where(F.col("doc_id") % 2 == 1), "word", d=3, w=128)
    merged = (
        h1.unionByName(h2).groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    diff = (
        merged.join(sk.withColumnRenamed("cnt", "cnt2"), ["row", "bucket"], "full")
        .where(
            F.coalesce(F.col("cnt"), F.lit(0)) != F.coalesce(F.col("cnt2"), F.lit(0))
        )
        .count()
    )
    assert diff == 0


def test_triangle_count_known_graph(spark):
    # K4 (4 triangles) plus a pendant edge 4-5 (no new triangle):
    # nodes=6, edges=7, triangles=4
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(k4 + [(4, 5), (5, 4), (3, 3)], "a int, b int")
    row = triangle_count(edges).first()
    assert row.n_nodes == 6
    assert row.n_edges == 7  # self-loop and duplicate orientation dropped
    assert row.n_triangles == 4
    # degrees: K4 nodes are 3 each, nodes 4 and 5 are 1 each
    # wedges = sum d*(d-1)/2 = 4*3 + 0 + 0 = 12
    assert row.n_wedges == 12


def test_gap_fill_fills_gaps_with_last_value(spark):
    from hdp_tez_spark.extensions.analytics import gap_fill

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 2.0),
            (1, "2024-01-01 00:20:00", 3.0),
            (1, "2024-01-01 03:05:00", 7.0),
            (2, "2024-01-01 05:00:00", 1.0),
        ],
        "k int, ts string, v double",
    ).select("k", F.to_timestamp("ts").alias("ts"), "v")
    out = {
        (r.k, r.bucket): (r.val, r.is_gap)
        for r in gap_fill(df, "k", "ts", "v", 3600).collect()
    }
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    assert out[(1, base)] == (5.0, 0)  # 2+3 summed in bucket 0
    assert out[(1, base + 3600)] == (5.0, 1)  # gap carries last sum
    assert out[(1, base + 2 * 3600)] == (5.0, 1)
    assert out[(1, base + 3 * 3600)] == (7.0, 0)
    assert out[(2, base + 5 * 3600)] == (1.0, 0)
    assert len(out) == 5  # key 2's grid is a single bucket


def test_edit_distance_pairs_finds_known_neighbors(spark):
    from hdp_tez_spark.extensions.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [("red widget",), ("red widgets",), ("blue widget",), ("red bolt",), (None,)],
        "name string",
    )
    pairs = {
        (r.text_a, r.text_b): r.dist
        for r in edit_distance_pairs(df, "name", 4).collect()
    }
    assert pairs[("red widget", "red widgets")] == 1
    assert pairs[("blue widget", "red widget")] == 4
    # 'red bolt' <-> 'red widget(s)' share token 'red' but distance > 4
    assert ("red bolt", "red widget") not in pairs
    assert all(a < b for a, b in pairs)


def test_cooccurrence_edges_cap_and_min_count(spark):
    from hdp_tez_spark.extensions.graph import cooccurrence_edges

    rows = (
        [(1, i) for i in (10, 20, 30)]  # basket 1: 3 items
        + [(2, i) for i in (10, 20)]  # basket 2: repeats the 10-20 pair
        + [(3, i) for i in range(100, 110)]  # mega-basket: 10 items
        + [(2, 10)]  # duplicate membership collapses
    )
    df = spark.createDataFrame(rows, "b int, i int")
    # cap drops the mega-basket entirely: only basket-1/2 pairs remain
    capped = cooccurrence_edges(df, "b", "i", max_basket=5)
    got = {(r.a, r.b): r.n_baskets for r in capped.collect()}
    assert got == {(10, 20): 2, (10, 30): 1, (20, 30): 1}
    # min_count keeps only the repeated pair
    strong = cooccurrence_edges(df, "b", "i", min_count=2, max_basket=5)
    assert [(r.a, r.b) for r in strong.collect()] == [(10, 20)]
    # uncapped includes the mega-basket's C(10,2)=45 pairs
    assert cooccurrence_edges(df, "b", "i").count() == 48


def test_dataset_diff_statuses_and_no_false_positives(spark):
    from hdp_tez_spark.extensions.cdc import dataset_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", None), (3, "c", "z")], "k int, p string, q string"
    )
    new = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", ""), (4, "d", "w")], "k int, p string, q string"
    )
    got = {r.k: r.status for r in dataset_diff(old, new, ["k"], ["p", "q"]).collect()}
    # NULL vs '' must register as a change, not equality
    assert got == {2: "changed", 3: "removed", 4: "added"}
    # concat boundary: ('ab','c') vs ('a','bc') must differ
    o2 = spark.createDataFrame([(1, "ab", "c")], "k int, p string, q string")
    n2 = spark.createDataFrame([(1, "a", "bc")], "k int, p string, q string")
    assert dataset_diff(o2, n2, ["k"], ["p", "q"]).first().status == "changed"


def test_key_skew_stats_orders_and_ties(spark):
    from hdp_tez_spark.extensions.quality import key_skew_stats

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("a",)] * 2 + [("b",)] * 2 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_stats(df, "k", top_n=3).collect()
    assert [(r.key_value, r.cnt) for r in out] == [("hot", 6), ("warm", 3), ("a", 2)]
    assert out[0].n_rows == 14 and out[0].n_keys == 5
    assert abs(out[0].share - round(6 / 14, 6)) < 1e-9


def test_cohort_retention_known_matrix(spark):
    from hdp_tez_spark.extensions.analytics import cohort_retention

    rows = [
        # u1: first day 1, returns day 2 and 3 (two events day 2 dedup)
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 09:00:00"),
        (1, "2024-01-02 23:00:00"), (1, "2024-01-03 01:00:00"),
        # u2: first day 1, never returns
        (2, "2024-01-01 05:00:00"),
        # u3: first day 2, returns day 3
        (3, "2024-01-02 12:00:00"), (3, "2024-01-03 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "u int, ts string").select(
        "u", F.to_timestamp("ts").alias("ts")
    )
    got = {
        (str(r.cohort_day), r.day_offset): r.n_users
        for r in cohort_retention(df, "u", "ts").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
        ("2024-01-02", 1): 1,
    }


def test_time_weighted_avg_known_series(spark):
    from hdp_tez_spark.extensions.analytics import time_weighted_avg

    rows = [
        # key 1: v=10 holds 10s, v=20 holds 30s -> twap = (100+600)/40 = 17.5
        (1, 0, 100, 10.0), (1, 10, 101, 20.0), (1, 40, 102, 99.0),
        # key 2: single point -> NULL twap, span 0
        (2, 5, 103, 7.0),
        # key 3: tie at t=0 decided by id (101 carries), then 10s to t=10
        (3, 0, 100, 1.0), (3, 0, 101, 5.0), (3, 10, 102, 9.0),
    ]
    df = spark.createDataFrame(rows, "k int, t long, eid int, v double").select(
        "k", F.timestamp_seconds("t").alias("ts"), "eid", "v"
    )
    out = {r.k: (r.twap, r.t_span_s) for r in
           time_weighted_avg(df, "k", "ts", "v", ["eid"]).collect()}
    assert out[1] == (17.5, 40)
    assert out[2] == (None, 0)
    assert out[3] == (5.0, 10)  # the tie's LAST row (eid 101) carries


def test_ngram_counts_known_text(spark):
    from hdp_tez_spark.functions.text import ngram_counts

    df = spark.createDataFrame(
        [("the cat sat",), ("the cat ran",), ("cat",), ("",)], "text string"
    )
    bi = {r.ngram: r.cnt for r in ngram_counts(df, "text", n=2).collect()}
    assert bi == {"the cat": 2, "cat sat": 1, "cat ran": 1}
    tri = {r.ngram: r.cnt for r in ngram_counts(df, "text", n=3).collect()}
    assert tri == {"the cat sat": 1, "the cat ran": 1}
    uni = {r.ngram: r.cnt for r in ngram_counts(df, "text", n=1).collect()}
    assert uni["cat"] == 3


def test_ann_recall_hand_computed(spark):
    from hdp_tez_spark.extensions.similarity import ann_recall

    exact = spark.createDataFrame(
        # q1 exact top-3: {10, 11, 12}; q2 exact top-2: {20, 21}
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1 finds 2 of 3 (plus a spurious 99); q2 finds none of its set
        [(1, 10), (1, 12), (1, 99), (2, 77)],
        "query_id long, neighbor_id long",
    )
    out = {r.query_id: r for r in ann_recall(exact, approx).collect()}
    assert out[1].n_exact == 3 and out[1].n_hit == 2
    assert out[1].recall == round(2 / 3, 6)
    assert out[2].n_exact == 2 and out[2].n_hit == 0 and out[2].recall == 0.0


def test_ann_recall_perfect_for_exact_vs_itself(spark):
    from hdp_tez_spark.extensions.similarity import (
        ann_recall,
        cosine_topk_bruteforce,
    )

    rng = __import__("numpy").random.RandomState(3)
    X = rng.randn(30, 4)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id int, embedding array<double>",
    )
    exact = cosine_topk_bruteforce(df.where(F.col("vec_id") < 5), df, k=3)
    out = ann_recall(exact, exact).collect()
    assert len(out) == 5
    assert all(r.recall == 1.0 and r.n_exact == 3 for r in out)


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from hdp_tez_spark.extensions.similarity import embedding_covariance

    rng = np.random.RandomState(7)
    X = rng.randn(40, 3).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id int, embedding array<float>",
    ).repartition(5)
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df, "embedding").collect()
    }
    C = np.cov(X.astype(np.float64), rowvar=False, bias=True)
    assert len(got) == 6  # upper triangle of 3x3
    for (i, j), v in got.items():
        assert v == pytest.approx(C[i, j], abs=1e-4)


def test_grouped_ols_recovers_planted_line(spark):
    from hdp_tez_spark.extensions.analytics import grouped_ols

    rows = []
    for k, (a, b) in {"g1": (2.0, 5.0), "g2": (-1.5, 3.0)}.items():
        for x in range(20):
            rows.append((k, float(x), a * x + b))
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = {r["k"]: (r["slope"], r["intercept"]) for r in grouped_ols(df, ["k"], "x", "y").collect()}
    assert got["g1"] == (pytest.approx(2.0), pytest.approx(5.0))
    assert got["g2"] == (pytest.approx(-1.5), pytest.approx(3.0))


def test_grouped_ols_degenerate_x_gives_null_slope(spark):
    from hdp_tez_spark.extensions.analytics import grouped_ols

    df = spark.createDataFrame(
        [("k", 1.0, 2.0), ("k", 1.0, 4.0)], "k string, x double, y double"
    )
    row = grouped_ols(df, ["k"], "x", "y").collect()[0]
    assert row["slope"] is None


def test_binary_auc_perfect_and_random_and_ties(spark):
    from hdp_tez_spark.extensions.analytics import binary_auc

    # perfectly separable: AUC = 1
    sep = spark.createDataFrame(
        [(float(i), 1 if i >= 10 else 0) for i in range(20)], "s double, y int"
    )
    assert binary_auc(sep, "s", "y").collect()[0]["auc"] == 1.0
    # inverted: AUC = 0
    inv = spark.createDataFrame(
        [(float(i), 0 if i >= 10 else 1) for i in range(20)], "s double, y int"
    )
    assert binary_auc(inv, "s", "y").collect()[0]["auc"] == 0.0
    # all scores tied: average ranks give AUC = 0.5 exactly
    tied = spark.createDataFrame(
        [(1.0, i % 2) for i in range(10)], "s double, y int"
    )
    assert binary_auc(tied, "s", "y").collect()[0]["auc"] == 0.5


def test_binary_auc_matches_sklearn_style_reference(spark):
    from hdp_tez_spark.extensions.analytics import binary_auc

    # hand-rolled reference: P(score_pos > score_neg) + 0.5 P(equal)
    scores = [0.1, 0.4, 0.35, 0.8, 0.8, 0.7, 0.2, 0.35]
    labels = [0, 0, 1, 1, 0, 1, 0, 1]
    pairs = [
        (sp, sn)
        for sp, lp in zip(scores, labels) if lp == 1
        for sn, ln in zip(scores, labels) if ln == 0
    ]
    ref = sum(1.0 if a > b else 0.5 if a == b else 0.0 for a, b in pairs) / len(pairs)
    df = spark.createDataFrame(list(zip(scores, labels)), "s double, y int")
    assert binary_auc(df, "s", "y").collect()[0]["auc"] == pytest.approx(ref, abs=1e-6)


def test_binary_auc_single_class_is_null(spark):
    from hdp_tez_spark.extensions.analytics import binary_auc

    df = spark.createDataFrame([(0.5, 1), (0.7, 1)], "s double, y int")
    assert binary_auc(df, "s", "y").collect()[0]["auc"] is None


def test_ohlc_downsample_hand_rolled(spark):
    from hdp_tez_spark.extensions.analytics import ohlc_downsample

    rows = [
        ("k", "2024-01-01 00:05:00", 1, 5.0),
        ("k", "2024-01-01 00:10:00", 2, 9.0),
        ("k", "2024-01-01 00:50:00", 3, 2.0),
        ("k", "2024-01-01 01:10:00", 4, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, id int, v double") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {
        str(r["bucket_start"]): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in ohlc_downsample(df, "k", "ts", "v", "1 hour", "id").collect()
    }
    assert out["2024-01-01 00:00:00"] == (5.0, 9.0, 2.0, 2.0, 3)
    assert out["2024-01-01 01:00:00"] == (7.0, 7.0, 7.0, 7.0, 1)


def test_ohlc_downsample_tie_resolves_by_tiebreak(spark):
    from hdp_tez_spark.extensions.analytics import ohlc_downsample

    rows = [
        ("k", "2024-01-01 00:00:00", 2, 8.0),  # same ts: id decides
        ("k", "2024-01-01 00:00:00", 1, 3.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, id int, v double") \
        .withColumn("ts", F.to_timestamp("ts"))
    r = ohlc_downsample(df, "k", "ts", "v", "1 hour", "id").collect()[0]
    assert (r["open"], r["close"]) == (3.0, 8.0)


def test_golden_record_attribute_wise_survivorship(spark):
    from hdp_tez_spark.extensions.dedup import golden_record

    rows = [
        # best-quality row is missing the phone; lower-quality row donates it
        (1, 10, 100, "alice@x.com", None),
        (1, 20, 90, None, "555-1234"),
        (2, 30, 50, "bob@x.com", "555-9999"),
    ]
    df = spark.createDataFrame(rows, "c int, id int, q int, email string, phone string")
    got = {
        r["cluster"]: (r["n_members"], r["email"], r["phone"])
        for r in golden_record(df, "c", "q", ["email", "phone"], "id").collect()
    }
    assert got == {1: (2, "alice@x.com", "555-1234"), 2: (1, "bob@x.com", "555-9999")}


def test_golden_record_quality_tie_uses_tiebreak(spark):
    from hdp_tez_spark.extensions.dedup import golden_record

    rows = [(1, 1, 5, "low-id"), (1, 2, 5, "high-id")]
    df = spark.createDataFrame(rows, "c int, id int, q int, name string")
    r = golden_record(df, "c", "q", ["name"], "id").collect()[0]
    assert r["name"] == "high-id"


def test_golden_record_all_null_attribute_stays_null(spark):
    from hdp_tez_spark.extensions.dedup import golden_record

    df = spark.createDataFrame(
        [(1, 1, 5, None), (1, 2, 9, None)], "c int, id int, q int, name string"
    )
    assert golden_record(df, "c", "q", ["name"], "id").collect()[0]["name"] is None


def test_rolling_zscore_flags_planted_spike(spark):
    from hdp_tez_spark.extensions.analytics import rolling_zscore

    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 100.0]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)], "k string, i int, v double"
    )
    out = {r["i"]: r["zscore"] for r in rolling_zscore(df, "k", ["i"], "v", k=8, min_periods=5).collect()}
    # early rows lack min_periods predecessors -> NULL
    assert out[0] is None and out[4] is None
    # the spike scores far above any in-baseline row
    assert out[8] is not None and out[8] > 10
    # normal rows near the baseline score small
    assert abs(out[7]) < 2


def test_rolling_zscore_constant_baseline_is_null(spark):
    from hdp_tez_spark.extensions.analytics import rolling_zscore

    df = spark.createDataFrame(
        [("k", i, 5.0) for i in range(10)], "k string, i int, v double"
    )
    out = rolling_zscore(df, "k", ["i"], "v", k=8, min_periods=3).collect()
    assert all(r["zscore"] is None for r in out)  # zero variance everywhere


def test_hll_set_overlap_estimates_near_exact_small_sets(spark):
    from hdp_tez_spark.operators.aggregates import hll_set_overlap

    a = spark.createDataFrame([(i,) for i in range(100)], "u long")
    b = spark.createDataFrame([(i,) for i in range(60, 160)], "u long")
    r = hll_set_overlap(a, b, "u").collect()[0]
    # HLL is near-exact at these cardinalities
    assert abs(r["est_a"] - 100) < 5
    assert abs(r["est_b"] - 100) < 5
    assert abs(r["est_union"] - 160) < 8
    assert abs(r["est_intersection"] - 40) < 10


def test_ab_ttest_matches_scipy_style_welch(spark):
    import math

    from hdp_tez_spark.extensions.experiments import ab_ttest

    a = [10.1, 9.8, 10.5, 10.0, 9.7, 10.3]
    b = [11.0, 11.4, 10.9, 11.2]
    rows = [("e", "A", v) for v in a] + [("e", "B", v) for v in b]
    df = spark.createDataFrame(rows, "exp string, arm string, v double")
    r = ab_ttest(df, ["exp"], "arm", "v", "A", "B").collect()[0]
    # hand-rolled Welch reference
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = sum((x - ma) ** 2 for x in a) / (na - 1)
    vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2 ** 2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert r["n_a"] == na and r["n_b"] == nb
    assert r["t_stat"] == pytest.approx(t, abs=1e-6)
    assert r["dof"] == pytest.approx(dof, abs=1e-5)


def test_ab_ttest_degenerate_arm_gives_null(spark):
    from hdp_tez_spark.extensions.experiments import ab_ttest

    df = spark.createDataFrame(
        [("e", "A", 1.0), ("e", "B", 2.0), ("e", "B", 3.0)],
        "exp string, arm string, v double",
    )
    r = ab_ttest(df, ["exp"], "arm", "v", "A", "B").collect()[0]
    assert r["t_stat"] is None and r["dof"] is None


def test_chi_square_independent_counts_score_zero(spark):
    from hdp_tez_spark.extensions.experiments import chi_square_independence

    # perfectly proportional table -> expected == observed -> chi2 == 0
    rows = []
    for r_, c_, cnt in [("x", 0, 10), ("x", 1, 20), ("y", 0, 20), ("y", 1, 40)]:
        rows += [(r_, c_)] * cnt
    df = spark.createDataFrame(rows, "r string, c int")
    out = chi_square_independence(df, "r", "c").collect()[0]
    assert out["chi2"] == 0.0 and out["dof"] == 1 and out["n"] == 90


def test_chi_square_counts_absent_cells_expected_mass(spark):
    from hdp_tez_spark.extensions.experiments import chi_square_independence

    # ('y', 1) never occurs; its expected mass must still contribute
    rows = [("x", 0)] * 5 + [("x", 1)] * 5 + [("y", 0)] * 10
    df = spark.createDataFrame(rows, "r string, c int")
    out = chi_square_independence(df, "r", "c").collect()[0]
    # reference: O = [[5,5],[10,0]]; E = [[7.5,2.5],[7.5,2.5]]
    ref = (5-7.5)**2/7.5 + (5-2.5)**2/2.5 + (10-7.5)**2/7.5 + (0-2.5)**2/2.5
    assert out["chi2"] == pytest.approx(ref, abs=1e-6)


def test_gaps_and_islands_hand_rolled(spark):
    from hdp_tez_spark.extensions.analytics import gaps_and_islands

    rows = [(1, s) for s in [1, 2, 3, 7, 8, 12]] + [(2, s) for s in [5]]
    df = spark.createDataFrame(rows, "k int, s int")
    got = [
        (r["k"], r["island_start"], r["island_end"], r["n_values"])
        for r in gaps_and_islands(df, "k", "s").collect()
    ]
    assert got == [(1, 1, 3, 3), (1, 7, 8, 2), (1, 12, 12, 1), (2, 5, 5, 1)]


def test_gaps_and_islands_dedupes_sequence_values(spark):
    from hdp_tez_spark.extensions.analytics import gaps_and_islands

    df = spark.createDataFrame(
        [(1, 4), (1, 4), (1, 5)], "k int, s int"
    )
    got = [
        (r["island_start"], r["island_end"], r["n_values"])
        for r in gaps_and_islands(df, "k", "s").collect()
    ]
    assert got == [(4, 5, 2)]


def test_winsorize_clips_to_group_bounds(spark):
    from hdp_tez_spark.extensions.analytics import winsorize

    vals = list(range(1, 101))  # 1..100 per group
    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "k string, v double"
    )
    out = winsorize(df, "k", "v", 0.10, 0.90).select("clipped").collect()
    clipped = sorted(r["clipped"] for r in out)
    # exact percentile of 1..100 at 0.10 is 10.9; at 0.90 is 90.1
    assert clipped[0] == pytest.approx(10.9)
    assert clipped[-1] == pytest.approx(90.1)
    assert len(clipped) == 100  # row count preserved
    # interior values untouched
    assert 50.0 in clipped


def test_proportion_ci_matches_wilson_reference(spark):
    import math

    from hdp_tez_spark.extensions.experiments import proportion_ci

    df = spark.createDataFrame(
        [("g", 1)] * 8 + [("g", 0)] * 12, "k string, s int"
    )
    r = proportion_ci(df, ["k"], "s").collect()[0]
    z = 1.959963984540054
    n, p = 20, 0.4
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    assert r["rate"] == pytest.approx(0.4)
    assert r["ci_lo"] == pytest.approx(center - half, abs=1e-6)
    assert r["ci_hi"] == pytest.approx(center + half, abs=1e-6)
    assert 0.0 <= r["ci_lo"] <= r["ci_hi"] <= 1.0


def test_proportion_ci_extreme_rates_stay_in_unit_interval(spark):
    from hdp_tez_spark.extensions.experiments import proportion_ci

    df = spark.createDataFrame([("g", 1)] * 5, "k string, s int")  # rate 1.0
    r = proportion_ci(df, ["k"], "s").collect()[0]
    assert r["rate"] == 1.0 and r["ci_hi"] <= 1.0 and r["ci_lo"] < 1.0


def test_cuped_removes_covariate_explained_variance(spark):
    import random

    from hdp_tez_spark.extensions.experiments import cuped_adjust

    rng = random.Random(3)
    rows = []
    for _ in range(300):
        x = rng.gauss(0, 1)
        y = 2.0 * x + rng.gauss(0, 0.1)  # y almost fully explained by x
        rows.append(("g", x, y))
    df = spark.createDataFrame(rows, "k string, x double, y double")
    r = cuped_adjust(df, ["k"], "y", "x").collect()[0]
    assert r["theta"] == pytest.approx(2.0, abs=0.05)
    assert r["var_reduction"] > 0.95       # covariate explains ~all variance
    assert r["var_adj"] < r["var_raw"] * 0.05


def test_cuped_degenerate_covariate(spark):
    from hdp_tez_spark.extensions.experiments import cuped_adjust

    df = spark.createDataFrame(
        [("g", 1.0, 5.0), ("g", 1.0, 9.0)], "k string, x double, y double"
    )
    r = cuped_adjust(df, ["k"], "y", "x").collect()[0]
    assert r["theta"] is None
    assert r["var_adj"] == r["var_raw"]
    assert r["var_reduction"] == 0.0


def test_ab_ttest_null_metric_rows_are_not_trials(spark):
    from hdp_tez_spark.extensions.experiments import ab_ttest

    df = spark.createDataFrame(
        [("e", "A", 2.0), ("e", "A", None), ("e", "A", 4.0),
         ("e", "B", 1.0), ("e", "B", 2.0), ("e", "B", 3.0)],
        "exp string, arm string, v double",
    )
    r = ab_ttest(df, ["exp"], "arm", "v", "A", "B").collect()[0]
    assert r["n_a"] == 2 and r["mean_a"] == pytest.approx(3.0)


def test_proportion_ci_null_flags_are_not_trials(spark):
    from hdp_tez_spark.extensions.experiments import proportion_ci

    df = spark.createDataFrame(
        [("g", 1), ("g", None), ("g", 0)], "k string, s int"
    )
    r = proportion_ci(df, ["k"], "s").collect()[0]
    assert r["n"] == 2 and r["successes"] == 1 and r["rate"] == 0.5


def test_chi_square_null_categories_excluded(spark):
    from hdp_tez_spark.extensions.experiments import chi_square_independence

    rows = [("x", 0)] * 5 + [("x", 1)] * 5 + [(None, 0)] * 10
    df = spark.createDataFrame(rows, "r string, c int")
    out = chi_square_independence(df, "r", "c").collect()[0]
    # the null category is dropped entirely: remaining table is 1x2,
    # perfectly balanced -> chi2 0, dof 0, n 10
    assert out["n"] == 10 and out["chi2"] == 0.0 and out["dof"] == 0


def test_grouped_ols_ignores_incomplete_pairs(spark):
    from hdp_tez_spark.extensions.analytics import grouped_ols

    df = spark.createDataFrame(
        [("k", 0.0, 1.0), ("k", None, 4.0), ("k", 1.0, 3.0), ("k", 2.0, None)],
        "k string, x double, y double",
    )
    r = grouped_ols(df, ["k"], "x", "y").collect()[0]
    # only the two complete pairs (0,1) and (1,3) participate
    assert r["n"] == 2
    assert r["slope"] == pytest.approx(2.0)
    assert r["intercept"] == pytest.approx(1.0)


def test_hll_set_overlap_disjoint_sets_clamp_at_zero(spark):
    from hdp_tez_spark.operators.aggregates import hll_set_overlap

    a = spark.createDataFrame([(i,) for i in range(1000)], "u long")
    b = spark.createDataFrame([(i,) for i in range(5000, 6000)], "u long")
    r = hll_set_overlap(a, b, "u").collect()[0]
    assert r["est_intersection"] >= 0.0


def test_ewma_tiebreak_list_order_cols(spark):
    from hdp_tez_spark.extensions.analytics import ewma_smooth

    df = spark.createDataFrame(
        [(1, 5, 0, 10.0), (1, 5, 1, 20.0)], "k int, t int, id int, v double"
    )
    out = {r["id"]: r["ewma"] for r in ewma_smooth(df, "k", ["t", "id"], "v", alpha=0.5, k=2).collect()}
    # deterministic under the (t, id) tiebreak: id=0 first, id=1 second
    assert out[0] == pytest.approx(10.0)
    assert out[1] == pytest.approx((20.0 + 0.5 * 10.0) / 1.5)


def test_l_diversity_hand_computed(spark):
    from hdp_tez_spark.extensions.quality import l_diversity

    rows = [
        # group (1,'a'): sensitive {x, y} -> diverse at l=2
        (1, "a", "x"), (1, "a", "y"), (1, "a", "x"),
        # group (2,'a'): all same sensitive -> homogeneity violation
        (2, "a", "z"), (2, "a", "z"),
        # group (3,'a'): one NULL + one value -> NULL counts as distinct
        (3, "a", None), (3, "a", "x"),
    ]
    df = spark.createDataFrame(rows, "q1 int, q2 string, s string")
    out = l_diversity(df, ["q1", "q2"], "s", l=2).collect()[0]
    assert out.l == 2 and out.n_groups == 3
    assert out.min_distinct_sensitive == 1
    assert out.violating_groups == 1 and out.violating_rows == 2
    assert out.diverse_share == round(5 / 7, 6)


def test_l_diversity_validates(spark):
    from hdp_tez_spark.extensions.quality import l_diversity

    df = spark.createDataFrame([(1, "x")], "q int, s string")
    with pytest.raises(ValueError):
        l_diversity(df, [], "s")
    with pytest.raises(ValueError):
        l_diversity(df, ["q"], "s", l=0)


def test_with_distribution_single_window_operator(spark):
    """percent_rank and cume_dist must share one Window (one exchange,
    one sort) and agree with hand-computed values."""
    from hdp_tez_spark.operators.window import with_distribution

    df = spark.createDataFrame(
        [("g", 10), ("g", 20), ("g", 30), ("g", 30)], "k string, v int"
    )
    out = with_distribution(df, ["k"], [F.col("v")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan
    rows = sorted((r.v, r.pct_rank, r.cume_dist) for r in out.collect())
    # percent_rank: (rank-1)/(n-1); cume_dist: rows <= current / n
    assert rows == [
        (10, 0.0, 0.25),
        (20, round(1 / 3, 6), 0.5),
        (30, round(2 / 3, 6), 1.0),
        (30, round(2 / 3, 6), 1.0),
    ]


def test_cusum_shift_detects_planted_mean_shift(spark):
    from hdp_tez_spark.extensions.analytics import cusum_shift

    # mean 0 until t=5, shifts to +2 after; slack 0.5 absorbs noise-free
    # drift at 1.5/step, so S = 1.5, 3.0, 4.5... after the shift
    rows = [(1, t, 0.0 if t < 5 else 2.0) for t in range(10)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    out = cusum_shift(df, "k", "ts", "v", target=0.0, slack=0.5, threshold=3.0)
    got = [(r.ts, r.cusum, r.alarm) for r in out.collect()]
    assert got[:5] == [(t, 0.0, False) for t in range(5)]
    assert got[5:] == [
        (5, 1.5, False), (6, 3.0, False),
        (7, 4.5, True), (8, 6.0, True), (9, 7.5, True),
    ]


def test_cusum_shift_resets_after_dip(spark):
    """The running-min closed form must behave like the max(0, ...)
    recursion: a deep dip resets the statistic to 0, not negative."""
    from hdp_tez_spark.extensions.analytics import cusum_shift

    rows = [(1, 0, 5.0), (1, 1, -100.0), (1, 2, 5.0)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    out = {r.ts: r.cusum for r in cusum_shift(df, "k", "ts", "v", 0.0).collect()}
    assert out == {0: 5.0, 1: 0.0, 2: 5.0}


def test_cusum_shift_single_exchange_one_sort(spark):
    from hdp_tez_spark.extensions.analytics import cusum_shift

    df = spark.createDataFrame([(1, 0, 1.0)], "k int, ts int, v double")
    plan = cusum_shift(df, "k", "ts", "v", 0.0)._jdf.queryExecution().executedPlan().toString()
    # one hash shuffle + one per-key sort feed BOTH window passes; the
    # only other exchange is the output ordering's range partition
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort [k") == 2  # per-key sort + output sort


def test_benford_audit_known_distribution(spark):
    import math

    from hdp_tez_spark.extensions.quality import benford_audit

    # exact Benford sample: 30, 18, 12, 10, 8, 7, 6, 5, 4 (x100 scale)
    counts = {1: 30, 2: 18, 3: 12, 4: 10, 5: 8, 6: 7, 7: 6, 8: 5, 9: 4}
    rows = [(float(d) * 10 ** (i % 3),) for d, n in counts.items() for i in range(n)]
    rows += [(None,), (0.0,)]  # excluded
    df = spark.createDataFrame(rows, "v double")
    out = {r.digit: r for r in benford_audit(df, "v").collect()}
    assert set(out) == set(range(1, 10))
    assert all(out[d].n == counts[d] for d in counts)
    assert out[1].share == 0.3
    assert out[1].expected == round(math.log10(2), 6)
    # values in (0,1) keep their first significant digit
    tiny = spark.createDataFrame([(0.0042,), (0.56,)], "v double")
    tiny_out = {r.digit: r.n for r in benford_audit(tiny, "v").collect() if r.n}
    assert tiny_out == {4: 1, 5: 1}


def test_benford_audit_true_digit_at_power_of_ten_boundaries(spark):
    """Values a hair below a power of ten make libm log10 round UP
    (raw digit 0): those are TRUE leading-9 rows and must count under
    digit 9, not drop off the spine or clamp to 1. NaN/Infinity carry
    no leading digit and are excluded (NaN sorts above everything in
    Spark, so a plain x > 0 filter would keep it)."""
    from hdp_tez_spark.extensions.quality import benford_audit

    rows = [
        (999.9999999999999,),  # log10 -> 3.0 exactly: raw digit 0
        (99.99999999999999,),  # same boundary, true digit 9
        (9.999999999999998,),  # log10 < 1: raw digit 9 already
        (0.09999999999999999,),  # sub-1 boundary, true digit 9
        (1000.0,),
        (1.0,),
        (None,),
        (0.0,),
        (float("nan"),),
        (float("inf"),),
    ]
    df = spark.createDataFrame(rows, "v double")
    out = {r.digit: r.n for r in benford_audit(df, "v").collect()}
    assert sum(out.values()) == 6  # NULL/zero/NaN/Inf excluded
    assert out[9] == 4
    assert out[1] == 2
    assert set(out) == set(range(1, 10))


def test_grouped_auc_excludes_null_labels(spark):
    """A NULL label is neither positive nor negative: the row must not
    inflate n_neg (sum() skips the NULL but count() would keep the row).
    AUC over {(0.1,0),(0.9,1)} plus a NULL-labeled row must equal the
    AUC without it."""
    from hdp_tez_spark.extensions.analytics import grouped_auc

    base = [("g", 0.1, 0), ("g", 0.9, 1)]
    with_null = base + [("g", 0.5, None)]
    df = spark.createDataFrame(with_null, "g string, s double, y int")
    out = grouped_auc(df, ["g"], "s", "y").collect()[0]
    assert (out.n_pos, out.n_neg, out.auc) == (1, 1, 1.0)


def test_acf_known_series(spark):
    import numpy as np

    from hdp_tez_spark.extensions.analytics import acf

    # alternating series: corr(x_t, x_{t-1}) = -1, corr(x_t, x_{t-2}) = +1
    rows = [(1, t, float((-1) ** t)) for t in range(20)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    out = {(r.key, r.lag): r for r in acf(df, "k", "ts", "v", lags=[1, 2]).collect()}
    assert out[(1, 1)].acf == -1.0 and out[(1, 1)].n_pairs == 19
    assert out[(1, 2)].acf == 1.0 and out[(1, 2)].n_pairs == 18
    # numpy cross-check on a random-walk series
    rng = np.random.RandomState(5)
    walk = np.cumsum(rng.randn(200))
    df2 = spark.createDataFrame(
        [(1, int(t), float(v)) for t, v in enumerate(walk)], "k int, ts int, v double"
    )
    got = {r.lag: r.acf for r in acf(df2, "k", "ts", "v", lags=[1, 3]).collect()}
    for k in (1, 3):
        want = float(np.corrcoef(walk[k:], walk[:-k])[0, 1])
        assert abs(got[k] - want) < 1e-6


def test_acf_validates_and_handles_short_series(spark):
    from hdp_tez_spark.extensions.analytics import acf

    df = spark.createDataFrame([(1, 0, 1.0)], "k int, ts int, v double")
    with pytest.raises(ValueError):
        acf(df, "k", "ts", "v", lags=[])
    with pytest.raises(ValueError):
        acf(df, "k", "ts", "v", lags=[0])
    # a 1-row key has no lag pairs: NULL acf, 0 pairs
    row = acf(df, "k", "ts", "v", lags=[1]).collect()[0]
    assert row.n_pairs == 0 and row.acf is None


def test_cohens_kappa_hand_computed(spark):
    from hdp_tez_spark.extensions.experiments import cohens_kappa

    # classic example: 2 raters, labels yes/no
    # a=yes,b=yes: 20 | a=yes,b=no: 5 | a=no,b=yes: 10 | a=no,b=no: 15
    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5 + [("n", "y")] * 10 + [("n", "n")] * 15
        + [(None, "y"), ("y", None)]  # excluded
    )
    df = spark.createDataFrame(rows, "a string, b string")
    out = cohens_kappa(df, "a", "b").collect()[0]
    assert out.n == 50
    # p_o = 35/50 = 0.7; p_e = 0.5*0.6 + 0.5*0.4 = 0.5; kappa = 0.4
    assert out.p_observed == 0.7
    assert out.p_expected == 0.5
    assert out.kappa == pytest.approx(0.4, abs=1e-6)


def test_cohens_kappa_degenerate_constant_raters(spark):
    from hdp_tez_spark.extensions.experiments import cohens_kappa

    df = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
    out = cohens_kappa(df, "a", "b").collect()[0]
    assert out.p_observed == 1.0 and out.p_expected == 1.0
    assert out.kappa is None  # chance agreement is total: unmeasurable


def test_bootstrap_ci_covers_true_mean_and_is_deterministic(spark):
    import numpy as np

    from hdp_tez_spark.extensions.experiments import bootstrap_ci

    rng = np.random.RandomState(11)
    vals = rng.normal(10.0, 2.0, size=2000)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id int, v double"
    )
    out = bootstrap_ci(df, "id", "v", b=32).collect()[0]
    assert out.n == 2000 and out.b == 32
    # CI is a real interval around the sample mean, roughly +-2*sigma/sqrt(n)
    assert out.ci_lo < out.mean < out.ci_hi
    half = (out.ci_hi - out.ci_lo) / 2
    se = 2.0 / (2000 ** 0.5)
    assert 1.0 * se < half < 4.0 * se, (half, se)
    # deterministic under repartition (md5 weights, not RNG state)
    out2 = bootstrap_ci(df.repartition(7), "id", "v", b=32).collect()[0]
    assert (out.ci_lo, out.ci_hi) == (out2.ci_lo, out2.ci_hi)


def test_bootstrap_ci_validates(spark):
    from hdp_tez_spark.extensions.experiments import bootstrap_ci

    df = spark.createDataFrame([(1, 1.0)], "id int, v double")
    with pytest.raises(ValueError):
        bootstrap_ci(df, "id", "v", b=0)
    with pytest.raises(ValueError):
        bootstrap_ci(df, "id", "v", alpha=1.5)


def test_grouped_auc_matches_sklearn_style_reference(spark):
    import numpy as np

    from hdp_tez_spark.extensions.analytics import grouped_auc

    def ref_auc(scores, labels):
        # rank-sum with average ranks, computed independently via numpy
        order = np.argsort(scores, kind="mergesort")
        s, y = np.asarray(scores)[order], np.asarray(labels)[order]
        ranks = np.empty(len(s))
        i = 0
        while i < len(s):
            j = i
            while j < len(s) and s[j] == s[i]:
                j += 1
            ranks[i:j] = (i + j + 1) / 2.0
            i = j
        p, n = y.sum(), (1 - y).sum()
        return (ranks[y == 1].sum() - p * (p + 1) / 2) / (p * n)

    rng = np.random.RandomState(9)
    rows = []
    for g in ("a", "b"):
        # group 'a': informative scores; group 'b': pure noise
        for i in range(300):
            y = int(rng.rand() < 0.4)
            s = rng.rand() + (0.5 * y if g == "a" else 0.0)
            rows.append((g, float(s), y))
    df = spark.createDataFrame(rows, "g string, s double, y int")
    got = {r.g: r.auc for r in grouped_auc(df, ["g"], "s", "y").collect()}
    for g in ("a", "b"):
        sub = [(s, y) for gg, s, y in rows if gg == g]
        want = ref_auc([s for s, _ in sub], [y for _, y in sub])
        assert abs(got[g] - want) < 1e-6, g
    assert got["a"] > 0.75 and abs(got["b"] - 0.5) < 0.1


def test_grouped_auc_single_class_group_is_null(spark):
    from hdp_tez_spark.extensions.analytics import grouped_auc

    df = spark.createDataFrame(
        [("g", 0.1, 1), ("g", 0.9, 1), ("h", 0.2, 0), ("h", 0.3, 1)],
        "g string, s double, y int",
    )
    out = {r.g: r.auc for r in grouped_auc(df, ["g"], "s", "y").collect()}
    assert out["g"] is None  # no negatives
    assert out["h"] == 1.0


def test_mann_whitney_known_example_with_ties(spark):
    from hdp_tez_spark.extensions.experiments import mann_whitney

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 3.0), ("b", 4.0)],
        "g string, v double",
    )
    r = mann_whitney(df, "g", "v", "a", "b").collect()[0]
    # ranks: 1, {2,2}->2.5, {3,3}->4.5, 6; R_a = 1+2.5+4.5 = 8, U = 8-6 = 2
    assert (r.n_a, r.n_b, r.u_a) == (3, 3, 2.0)
    # tie-corrected var = 9/12 * (7 - 12/30) = 4.95
    import math

    assert r.z == round((2.0 - 4.5) / math.sqrt(4.95), 6)


def test_mann_whitney_matches_independent_python(spark):
    """Full pure-Python rank-sum twin over pseudo-random data with heavy
    ties — catches any drift in the prefix-sum rank construction."""
    import math

    rows = [("a" if i % 3 else "b", float((i * i) % 7)) for i in range(200)]
    rows += [("c", 99.0)] * 5  # out-of-scope group must be ignored
    a = sorted(v for g, v in rows if g == "a")
    b = sorted(v for g, v in rows if g == "b")
    allv = sorted(a + b)
    # average rank per distinct value
    import collections

    cnt = collections.Counter(allv)
    rank, pos = {}, 0
    for v in sorted(cnt):
        t = cnt[v]
        rank[v] = pos + (t + 1) / 2.0
        pos += t
    ra = sum(rank[v] for v in a)
    na, nb = len(a), len(b)
    n = na + nb
    u = ra - na * (na + 1) / 2.0
    tie = sum(t**3 - t for t in cnt.values())
    var = na * nb / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (u - na * nb / 2.0) / math.sqrt(var)

    from hdp_tez_spark.extensions.experiments import mann_whitney

    df = spark.createDataFrame(rows, "g string, v double").repartition(7)
    r = mann_whitney(df, "g", "v", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (na, nb)
    assert r.u_a == round(u, 6)
    assert abs(r.z - z) < 1e-6


def test_mann_whitney_degenerate_all_equal(spark):
    from hdp_tez_spark.extensions.experiments import mann_whitney

    df = spark.createDataFrame(
        [("a", 5.0)] * 4 + [("b", 5.0)] * 3, "g string, v double"
    )
    r = mann_whitney(df, "g", "v", "a", "b").collect()[0]
    assert r.z is None  # zero tie-corrected variance
    assert r.u_a == 4 * 3 / 2.0  # all-tied U is exactly mu


def test_ks_test_known_example(spark):
    from hdp_tez_spark.extensions.experiments import ks_test

    # a = {1,2,3,4}, b = {3,4,5,6}: max CDF gap at v=2: 2/4 - 0 = 0.5
    df = spark.createDataFrame(
        [("a", float(v)) for v in (1, 2, 3, 4)]
        + [("b", float(v)) for v in (3, 4, 5, 6)],
        "g string, v double",
    )
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    import math

    assert (r.n_a, r.n_b, r.d_stat) == (4, 4, 0.5)
    assert r.ks_lambda == round(math.sqrt(16 / 8.0) * 0.5, 6)


def test_ks_test_matches_independent_python(spark):
    """Pure-Python two-sample KS twin over tie-heavy data, plus
    identical-distribution sanity (D small) and determinism."""
    rows = [("a", float((i * 7) % 13)) for i in range(150)]
    rows += [("b", float((i * 5) % 13) + (1.0 if i % 4 == 0 else 0.0))
             for i in range(120)]
    a = sorted(v for g, v in rows if g == "a")
    b = sorted(v for g, v in rows if g == "b")
    support = sorted(set(a + b))
    import bisect

    d = max(
        abs(
            bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b)
        )
        for v in support
    )
    from hdp_tez_spark.extensions.experiments import ks_test

    df = spark.createDataFrame(rows, "g string, v double").repartition(6)
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (len(a), len(b))
    # d_stat is rounded to 6 dp by contract — compare at that precision
    assert abs(r.d_stat - d) <= 5e-7
    # same distribution -> D == 0 exactly
    same = spark.createDataFrame(
        [("a", float(i % 5)) for i in range(50)]
        + [("b", float(i % 5)) for i in range(50)],
        "g string, v double",
    )
    assert ks_test(same, "g", "v", "a", "b").collect()[0].d_stat == 0.0


def test_kruskal_wallis_matches_independent_python(spark):
    """Pure-Python KW twin (rank-based, tie-corrected) over 3 groups
    with heavy ties; plus the 2-group consistency check H == z² from
    mann_whitney (the textbook identity, up to 6-dp rounding)."""
    import collections

    rows = (
        [("a", float((i * 3) % 8)) for i in range(90)]
        + [("b", float((i * 5) % 8) + 1.0) for i in range(70)]
        + [("c", float((i * 7) % 8) + 0.5) for i in range(60)]
    )
    vals = sorted(v for _, v in rows)
    cnt = collections.Counter(vals)
    rank, pos = {}, 0
    for v in sorted(cnt):
        t = cnt[v]
        rank[v] = pos + (t + 1) / 2.0
        pos += t
    n = len(rows)
    groups: dict[str, list] = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    s = sum(
        sum(rank[v] for v in vs) ** 2 / len(vs) for vs in groups.values()
    )
    h = 12.0 / (n * (n + 1)) * s - 3 * (n + 1)
    tie = sum(t**3 - t for t in cnt.values())
    hc = h / (1 - tie / (n**3 - n))

    from hdp_tez_spark.extensions.experiments import kruskal_wallis

    df = spark.createDataFrame(rows, "g string, v double").repartition(5)
    r = kruskal_wallis(df, "g", "v").collect()[0]
    assert (r.n_groups, r.n) == (3, n)
    assert abs(r.h_stat - h) <= 5e-7
    assert abs(r.h_tie_corrected - hc) <= 5e-7


def test_kruskal_wallis_two_groups_equals_z_squared(spark):
    from hdp_tez_spark.extensions.experiments import kruskal_wallis, mann_whitney

    rows = [("a", float((i * i) % 11)) for i in range(80)] + [
        ("b", float((i * 3) % 11) + 0.5) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    hc = kruskal_wallis(df, "g", "v").collect()[0].h_tie_corrected
    z = mann_whitney(df, "g", "v", "a", "b").collect()[0].z
    assert abs(hc - z * z) < 1e-4


def test_kruskal_wallis_degenerate_all_equal(spark):
    from hdp_tez_spark.extensions.experiments import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 1.0)] * 3 + [("b", 1.0)] * 3, "g string, v double"
    )
    r = kruskal_wallis(df, "g", "v").collect()[0]
    assert r.h_tie_corrected is None


def test_spearman_matches_independent_python(spark):
    """Pure-Python Spearman twin (tie-averaged ranks + Pearson of
    ranks) over monotone-nonlinear data with ties, plus the perfect
    monotone case rho == 1."""
    import collections
    import math

    rows = [(float(i % 17), float((i % 17) ** 3 % 29)) for i in range(300)]

    def avg_ranks(vals):
        cnt = collections.Counter(vals)
        rank, pos = {}, 0
        for v in sorted(cnt):
            t = cnt[v]
            rank[v] = pos + (t + 1) / 2.0
            pos += t
        return [rank[v] for v in vals]

    xs = [r[0] for r in rows]
    ys = [r[1] for r in rows]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(rows)
    mx, my = sum(rx) / n, sum(ry) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry)) / n
    sx = math.sqrt(sum((a - mx) ** 2 for a in rx) / n)
    sy = math.sqrt(sum((b - my) ** 2 for b in ry) / n)
    rho = cov / (sx * sy)

    from hdp_tez_spark.extensions.experiments import spearman_corr

    df = spark.createDataFrame(rows, "x double, y double").repartition(5)
    r = spearman_corr(df, "x", "y").collect()[0]
    assert r.n == n
    assert abs(r.rho - rho) <= 5e-7
    # perfectly monotone (x -> exp-ish growth) => rho exactly 1
    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(50)], "x double, y double"
    )
    assert spearman_corr(mono, "x", "y").collect()[0].rho == 1.0
    # NULL pairs excluded
    withnull = spark.createDataFrame(
        [(1.0, 2.0), (2.0, None), (None, 3.0), (3.0, 1.0)],
        "x double, y double",
    )
    assert spearman_corr(withnull, "x", "y").collect()[0].n == 2


def test_mutual_information_known_and_independent(spark):
    import math

    from hdp_tez_spark.extensions.experiments import mutual_information

    # perfectly dependent: c == r -> MI = H = ln(2) for a 50/50 split,
    # NMI = 1
    dep = spark.createDataFrame(
        [("x", "x")] * 10 + [("y", "y")] * 10, "r string, c string"
    )
    d = mutual_information(dep, "r", "c").collect()[0]
    assert d.n == 20
    assert d.mi == round(math.log(2), 6) and d.nmi == 1.0
    assert d.h_row == d.h_col == round(math.log(2), 6)
    # independent uniform grid -> MI = 0 exactly (every cell o*n == rt*ct)
    ind = spark.createDataFrame(
        [(r, c) for r in "ab" for c in "cd" for _ in range(5)],
        "r string, c string",
    )
    i = mutual_information(ind, "r", "c").collect()[0]
    assert i.mi == 0.0 and i.nmi == 0.0
    # constant column -> zero entropy -> nmi NULL, mi 0
    const = spark.createDataFrame(
        [("k", c) for c in "aabb"], "r string, c string"
    )
    cst = mutual_information(const, "r", "c").collect()[0]
    assert cst.mi == 0.0 and cst.nmi is None and cst.h_row == 0.0


def test_mutual_information_matches_independent_python(spark):
    import collections
    import math

    from hdp_tez_spark.extensions.experiments import mutual_information

    rows = [(str(i % 4), str((i * i) % 5)) for i in range(300)]
    cells = collections.Counter(rows)
    rt = collections.Counter(r for r, _ in rows)
    ct = collections.Counter(c for _, c in rows)
    n = len(rows)
    mi = sum(
        (o / n) * math.log(o * n / (rt[r] * ct[c]))
        for (r, c), o in cells.items()
    )
    hr = -sum((v / n) * math.log(v / n) for v in rt.values())
    hc = -sum((v / n) * math.log(v / n) for v in ct.values())
    df = spark.createDataFrame(rows, "r string, c string").repartition(6)
    got = mutual_information(df, "r", "c").collect()[0]
    assert got.n == n
    assert abs(got.mi - mi) <= 5e-7
    assert abs(got.nmi - mi / math.sqrt(hr * hc)) <= 5e-7


def test_js_divergence_identities(spark):
    import math

    from hdp_tez_spark.extensions.experiments import js_divergence

    # identical distributions -> JS = 0 exactly
    same = spark.createDataFrame(
        [("a", c) for c in "xxyy"] + [("b", c) for c in "xxyy"],
        "g string, c string",
    )
    s = js_divergence(same, "g", "c", "a", "b").collect()[0]
    assert (s.n_a, s.n_b, s.js, s.js_dist) == (4, 4, 0.0, 0.0)
    # disjoint supports -> JS = ln 2 (the upper bound)
    disj = spark.createDataFrame(
        [("a", "x")] * 5 + [("b", "y")] * 7, "g string, c string"
    )
    d = js_divergence(disj, "g", "c", "a", "b").collect()[0]
    assert d.js == round(math.log(2), 6)


def test_js_divergence_matches_independent_python(spark):
    import collections
    import math

    from hdp_tez_spark.extensions.experiments import js_divergence

    rows = [("a", str(i % 5)) for i in range(200)] + [
        ("b", str((i * i) % 7)) for i in range(150)
    ]
    ca = collections.Counter(c for g, c in rows if g == "a")
    cb = collections.Counter(c for g, c in rows if g == "b")
    na, nb = sum(ca.values()), sum(cb.values())
    js = 0.0
    for c in set(ca) | set(cb):
        p, q = ca.get(c, 0) / na, cb.get(c, 0) / nb
        m = (p + q) / 2
        if p > 0:
            js += p / 2 * math.log(p / m)
        if q > 0:
            js += q / 2 * math.log(q / m)
    df = spark.createDataFrame(rows, "g string, c string").repartition(4)
    r = js_divergence(df, "g", "c", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (na, nb)
    assert abs(r.js - js) <= 5e-7
    assert abs(r.js_dist - math.sqrt(js)) <= 5e-7


def test_gini_known_and_independent(spark):
    from hdp_tez_spark.extensions.analytics import gini_coefficient

    # perfectly even -> 0
    even = spark.createDataFrame([(5.0,)] * 8, "v double")
    assert gini_coefficient(even, "v").collect()[0].gini == 0.0
    # one row holds everything: G = (n-1)/n for [0,0,...,0,X]
    conc = spark.createDataFrame([(0.0,)] * 9 + [(90.0,)], "v double")
    r = gini_coefficient(conc, "v").collect()[0]
    assert (r.n, r.gini) == (10, 0.9)
    # independent python twin with ties, repartition-invariant
    vals = [float((i * i) % 13) for i in range(200)]
    xs = sorted(vals)
    n = len(xs)
    g = 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * sum(xs)) - (
        n + 1
    ) / n
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(7)
    got = gini_coefficient(df, "v").collect()[0]
    assert got.n == n and abs(got.gini - g) <= 5e-7
    # negative values raise; zero total -> NULL
    import pytest as _pytest

    with _pytest.raises(ValueError):
        gini_coefficient(
            spark.createDataFrame([(-1.0,)], "v double"), "v"
        )
    z = gini_coefficient(
        spark.createDataFrame([(0.0,), (0.0,)], "v double"), "v"
    ).collect()[0]
    assert z.gini is None


def test_windowed_js_drift_absent_category_counts(spark):
    import math

    from hdp_tez_spark.extensions.experiments import windowed_js_drift

    # w1 has both cats evenly; w2 has ONLY cat x — its drift must
    # include the reference mass of the absent cat y
    rows = (
        [("w1", "x")] * 5 + [("w1", "y")] * 5 + [("w2", "x")] * 10
    )
    df = spark.createDataFrame(rows, "w string, c string")
    out = {r.w: r for r in windowed_js_drift(df, ["w"], "c").collect()}
    assert out["w1"].n == 10 and out["w2"].n == 10
    # independent python twin
    def js(p, q):
        s = 0.0
        for pi, qi in zip(p, q):
            m = (pi + qi) / 2
            if pi > 0:
                s += pi / 2 * math.log(pi / m)
            if qi > 0:
                s += qi / 2 * math.log(qi / m)
        return s

    ref = [15 / 20, 5 / 20]  # x, y pooled
    assert abs(out["w1"].js - js([0.5, 0.5], ref)) <= 5e-7
    assert abs(out["w2"].js - js([1.0, 0.0], ref)) <= 5e-7
    # a window identical to the reference drifts less than w2
    assert out["w1"].js < out["w2"].js
    # validates empty window_cols
    import pytest as _pytest

    with _pytest.raises(ValueError):
        windowed_js_drift(df, [], "c")


def test_new_round8_ops_handle_empty_input(spark):
    """skyline / association_rules / peak_concurrency / mmr_select on
    empty (or too-small) inputs: empty results, no errors — the
    degenerate partitions a real cluster always contains somewhere."""
    from hdp_tez_spark.extensions.analytics import (
        association_rules,
        peak_concurrency,
        skyline,
    )
    from hdp_tez_spark.extensions.similarity import mmr_select

    empty_xy = spark.createDataFrame([], "id INT, x INT, y INT")
    assert skyline(empty_xy, "x", "y").count() == 0

    empty_bk = spark.createDataFrame([], "b INT, i INT")
    assert association_rules(empty_bk, "b", "i").count() == 0

    empty_iv = spark.createDataFrame([], "id INT, s TIMESTAMP, e TIMESTAMP")
    assert peak_concurrency(empty_iv, "s", "e", "id").count() == 0

    empty_emb = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    got = mmr_select(empty_emb, [1.0, 0.0], k=3)
    assert got.count() == 0  # breaks out before the first pick

    # fewer rows than k: returns what exists, steps 1..n
    two = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    rows = mmr_select(two, [1.0, 0.0], k=5).collect()
    assert [r["step"] for r in rows] == [1, 2]


def test_peak_concurrency_carries_across_buckets(spark):
    """ADVICE r08 repro: a single span [day1 10:00, day2 14:00] is
    active 14h into day 2, so day 2 must report peak 1 (carry
    re-registered at the bucket start) — not 0 and not a missing row.
    A day fully inside a longer interval (no endpoint events at all)
    must also report its carried peak."""
    import datetime as dt

    from hdp_tez_spark.extensions.analytics import peak_concurrency

    d = lambda *a: dt.datetime(*a)  # noqa: E731
    ivs = [
        (1, d(2024, 1, 1, 10), d(2024, 1, 2, 14)),   # spans one midnight
        (2, d(2024, 1, 3, 5), d(2024, 1, 6, 1)),     # fully covers 1/4, 1/5
        (3, d(2024, 1, 4, 12), d(2024, 1, 4, 12)),   # zero-length inside
    ]
    got = {
        r["bucket_start"]: (r["peak"], r["peak_ts"])
        for r in peak_concurrency(
            spark.createDataFrame(ivs, "id INT, s TIMESTAMP, e TIMESTAMP"),
            "s", "e", "id",
        ).collect()
    }
    assert got == {
        dt.date(2024, 1, 1): (1, d(2024, 1, 1, 10)),
        dt.date(2024, 1, 2): (1, d(2024, 1, 2)),     # carry at bucket start
        dt.date(2024, 1, 3): (1, d(2024, 1, 3, 5)),
        dt.date(2024, 1, 4): (2, d(2024, 1, 4, 12)), # carry + zero-length
        dt.date(2024, 1, 5): (1, d(2024, 1, 5)),     # all-carry bucket
        dt.date(2024, 1, 6): (1, d(2024, 1, 6)),
    }


def test_new_round9_ops_handle_degenerate_input(spark):
    """rolling_median / seasonal_decompose / pareto_contributors on
    empty and too-short inputs: empty results or NULL-only derived
    columns, never errors."""
    import datetime as dt

    from hdp_tez_spark.extensions.analytics import (
        pareto_contributors,
        rolling_median,
        seasonal_decompose,
    )

    empty_series = spark.createDataFrame([], "k INT, t INT, v DOUBLE")
    assert rolling_median(empty_series, "k", ["t"], "v").count() == 0

    empty_days = spark.createDataFrame([], "d DATE, v DOUBLE")
    assert seasonal_decompose(empty_days, "d", "v").count() == 0

    # shorter than one period: trend (and so seasonal/residual) all NULL
    short = spark.createDataFrame(
        [(dt.date(2024, 1, 1) + dt.timedelta(days=i), float(i)) for i in range(4)],
        "d DATE, v DOUBLE",
    )
    rows = seasonal_decompose(short, "d", "v").collect()
    assert len(rows) == 4
    assert all(r["trend"] is None and r["residual"] is None for r in rows)

    empty_pc = spark.createDataFrame([], "g STRING, k INT, v LONG")
    assert pareto_contributors(empty_pc, "g", "k", "v").count() == 0

    # a single contributor IS 100% of its group — kept, share 1.0
    one = spark.createDataFrame([("a", 1, 42)], "g STRING, k INT, v LONG")
    row = pareto_contributors(one, "g", "k", "v").collect()[0]
    assert (row["rank"], row["share"], row["cum_share"]) == (1, 1.0, 1.0)


def test_mmr_select_inherits_corpus_id_type(spark):
    """ADVICE r08: mmr_select is id-type-agnostic — a string/UUID id
    corpus must come back with selected_id typed STRING, not coerced to
    (or failing as) BIGINT."""
    from hdp_tez_spark.extensions.similarity import mmr_select

    corpus = spark.createDataFrame(
        [("doc-a", [1.0, 0.0]), ("doc-b", [0.0, 1.0]), ("doc-c", [0.7, 0.7])],
        "vec_id STRING, embedding ARRAY<DOUBLE>",
    )
    got = mmr_select(corpus, [1.0, 0.0], k=2)
    assert got.schema["selected_id"].dataType.simpleString() == "string"
    rows = got.collect()
    assert [r["step"] for r in rows] == [1, 2]
    assert rows[0]["selected_id"] == "doc-a"  # most relevant first
    # step 2 prefers the orthogonal doc-b over the redundant doc-c
    assert rows[1]["selected_id"] == "doc-b"
