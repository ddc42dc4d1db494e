"""Property-based tests for the r09 fourth-batch operators: randomized
inputs checked against independent plain-Python references (explicit
hazard sums over risk sets, median-of-pairwise-slopes via sorted
lists, textbook AP/RR over permutations, set-containment over shingle
sets, numpy z-scores, and character-by-character class counting).
Example counts stay small — every example runs Spark jobs.
"""

from __future__ import annotations

import math
import statistics

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from hdp_tez_spark.extensions.analytics import nelson_aalen, theil_sen_trend
from hdp_tez_spark.extensions.dedup import containment_pairs
from hdp_tez_spark.extensions.ranking import ranking_eval
from hdp_tez_spark.extensions.similarity import embedding_outliers
from hdp_tez_spark.extensions.textstats import charclass_mix
from tests.conftest import SETTINGS, py_shingles


# ------------------------------------------------------------ nelson_aalen

subjects = st.lists(
    st.tuples(st.integers(1, 8), st.integers(0, 1)),  # (duration, event)
    min_size=1,
    max_size=30,
)


def _na_reference(rows):
    """(t -> n_risk, n_event, cum_hazard, var_hazard) at event times."""
    times = sorted({t for t, _ in rows})
    out, h, v = {}, 0.0, 0.0
    for t in times:
        at_risk = sum(1 for d, _ in rows if d >= t)
        d = sum(1 for dur, e in rows if dur == t and e == 1)
        if at_risk:
            h += d / at_risk
            v += d / (at_risk * at_risk)
        if d > 0:
            out[t] = (at_risk, d, h, v)
    return out


@given(rows=subjects)
@settings(**SETTINGS)
def test_nelson_aalen_matches_python_reference(spark, rows):
    df = spark.createDataFrame(
        [("g", t, e) for t, e in rows], "g string, t int, ev int"
    )
    got = {
        r.t: (r.n_risk, r.n_event, r.cum_hazard, r.var_hazard)
        for r in nelson_aalen(df, ["g"], "t", "ev").collect()
    }
    want = _na_reference(rows)
    assert set(got) == set(want)
    for t, (nr, d, h, v) in want.items():
        gnr, gd, gh, gv = got[t]
        assert (gnr, gd) == (nr, d), t
        assert gh == pytest.approx(h, abs=2e-6), t
        assert gv == pytest.approx(v, abs=2e-6), t


# ------------------------------------------------------------ theil_sen

series = st.lists(
    st.tuples(
        st.integers(0, 20),                                 # x
        st.floats(-100.0, 100.0, allow_nan=False, width=32),  # y
    ),
    min_size=2,
    max_size=15,
)


def _ts_reference(points):
    """(n_points, n_pairs, slope, intercept) after mean-collapse on x,
    or None when fewer than two distinct x remain."""
    byx: dict[int, list[float]] = {}
    for x, y in points:
        byx.setdefault(x, []).append(y)
    cells = sorted((x, sum(ys) / len(ys)) for x, ys in byx.items())
    if len(cells) < 2:
        return None
    slopes = [
        (yb - ya) / (xb - xa)
        for i, (xa, ya) in enumerate(cells)
        for xb, yb in cells[i + 1 :]
    ]
    slope = statistics.median(slopes)
    intercept = statistics.median([y - slope * x for x, y in cells])
    return len(cells), len(slopes), slope, intercept


@given(points=series)
@settings(**SETTINGS)
def test_theil_sen_matches_python_reference(spark, points):
    df = spark.createDataFrame(
        [("g", x, float(y)) for x, y in points], "g string, x int, y double"
    )
    rows = theil_sen_trend(df, ["g"], "x", "y").collect()
    want = _ts_reference(points)
    if want is None:
        assert rows == []
        return
    n_points, n_pairs, slope, intercept = want
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_points, r.n_pairs) == (n_points, n_pairs)
    assert r.slope == pytest.approx(slope, abs=1e-5)
    assert r.intercept == pytest.approx(intercept, abs=1e-5)


# ------------------------------------------------------------ ranking_eval

runs = st.lists(st.booleans(), min_size=1, max_size=12)  # rel per rank pos
extra_rel = st.integers(0, 5)  # judged-but-unranked positives


def _ir_reference(rels, extra, k):
    """(n_rel, hits, p, r, ap, rr) for a single query."""
    n_rel = sum(rels) + extra
    top = rels[:k]
    hits = sum(top)
    p = hits / k
    r = hits / n_rel if n_rel else None
    ap_num, cum = 0.0, 0
    for i, rel in enumerate(top, start=1):
        if rel:
            cum += 1
            ap_num += cum / i
    ap = ap_num / min(n_rel, k) if n_rel else None
    rr = 0.0
    for i, rel in enumerate(top, start=1):
        if rel:
            rr = 1.0 / i
            break
    return n_rel, hits, p, r, ap, rr


@given(rels=runs, extra=extra_rel)
@settings(**SETTINGS)
def test_ranking_eval_matches_python_reference(spark, rels, extra):
    k = 5
    ranked = spark.createDataFrame(
        [("q", f"d{i}", float(len(rels) - i), i + 1) for i in range(len(rels))],
        "q string, doc string, score double, rn int",
    )
    label_rows = [("q", f"d{i}", 1) for i, rel in enumerate(rels) if rel]
    label_rows += [("q", f"x{j}", 1) for j in range(extra)]
    if not label_rows:
        label_rows = [("q", "never_ranked_zero", 0)]  # rel=0: not a positive
    labels = spark.createDataFrame(label_rows, "q string, doc string, rel int")
    r = ranking_eval(
        ranked, labels, "q", "doc", "rel", rank_col="rn", k=k
    ).collect()[0]
    n_rel, hits, p, rec, ap, rr = _ir_reference(rels, extra, k)
    assert (r.n_rel, r.hits_at_k) == (n_rel, hits)
    assert r.p_at_k == pytest.approx(p, abs=1e-6)
    if rec is None:
        assert r.r_at_k is None and r.ap_at_k is None
    else:
        assert r.r_at_k == pytest.approx(rec, abs=1e-6)
        assert r.ap_at_k == pytest.approx(ap, abs=1e-6)
    assert r.rr_at_k == pytest.approx(rr, abs=1e-6)


# ------------------------------------------------------------ containment

words = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
    min_size=1,
    max_size=12,
)


@given(ta=words, tb=words)
@settings(**SETTINGS)
def test_containment_matches_python_set_reference(spark, ta, tb):
    df = spark.createDataFrame(
        [(1, " ".join(ta)), (2, " ".join(tb))], "doc_id long, text string"
    )
    got = {
        (r.src_id, r.dst_id): (r.n_inter, r.src_size, r.containment)
        for r in containment_pairs(
            df, "doc_id", "text", k=3, threshold=0.0
        ).collect()
    }
    sa, sb = py_shingles(" ".join(ta), 3), py_shingles(" ".join(tb), 3)
    inter = len(sa & sb)
    if inter == 0:
        assert got == {}
        return
    assert got[(1, 2)][0] == inter and got[(1, 2)][1] == len(sa)
    assert got[(1, 2)][2] == pytest.approx(inter / len(sa), abs=1e-6)
    assert got[(2, 1)][2] == pytest.approx(inter / len(sb), abs=1e-6)


# ------------------------------------------------------------ embedding_outliers

vectors = st.lists(
    st.lists(
        st.floats(-10.0, 10.0, allow_nan=False, width=32),
        min_size=3,
        max_size=3,
    ),
    min_size=2,
    max_size=12,
)


@given(vecs=vectors)
@settings(**SETTINGS)
def test_embedding_outliers_matches_numpy_reference(spark, vecs):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.score
        for r in embedding_outliers(
            df, "vec_id", "embedding", top_n=len(vecs)
        ).collect()
    }
    arr = np.array(vecs, dtype=np.float64)
    mu = arr.mean(axis=0)
    sigma = arr.std(axis=0)  # population
    z = np.where(sigma > 0, (arr - mu) / np.where(sigma > 0, sigma, 1.0), 0.0)
    want = np.sqrt((z * z).mean(axis=1))
    assert set(got) == set(range(len(vecs)))
    for i, s in enumerate(want):
        assert got[i] == pytest.approx(float(s), abs=1e-5), i


# ------------------------------------------------------------ charclass_mix

texts = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    max_size=40,
)


def _class_counts(s):
    letters = sum(1 for c in s if ("a" <= c <= "z") or ("A" <= c <= "Z"))
    digits = sum(1 for c in s if "0" <= c <= "9")
    spaces = sum(1 for c in s if c in " \t\n\r")
    non_ascii = sum(1 for c in s if ord(c) > 0x7F)
    symbols = len(s) - letters - digits - spaces - non_ascii
    return letters, digits, spaces, symbols, non_ascii


@given(text=texts)
@settings(**SETTINGS)
def test_charclass_mix_matches_python_counting(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = charclass_mix(df, "doc_id", "text").collect()[0]
    letters, digits, spaces, symbols, non_ascii = _class_counts(text)
    n = len(text)
    assert r.n_chars == n
    if n == 0:
        assert r.letter_ratio == 0.0
        return
    assert r.letter_ratio == pytest.approx(letters / n, abs=1e-6)
    assert r.digit_ratio == pytest.approx(digits / n, abs=1e-6)
    assert r.space_ratio == pytest.approx(spaces / n, abs=1e-6)
    assert r.symbol_ratio == pytest.approx(symbols / n, abs=1e-6)
    assert r.non_ascii_ratio == pytest.approx(non_ascii / n, abs=1e-6)
