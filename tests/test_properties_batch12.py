"""Property-based tests for the r10 tenth-batch operators: randomized
inputs checked against independent plain-Python references (a re.split
readability scorer, a set-based vocabulary-growth tracker, a Counter
entropy calculator, a literal confident-joint classifier, and the
closed-form two-proportion n). Example counts stay small — every
example runs Spark jobs.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from collections import Counter

from hypothesis import given, settings, strategies as st

from hdp_tez_spark.extensions.analytics import behavior_entropy
from hdp_tez_spark.extensions.experiments import label_noise, power_analysis
from hdp_tez_spark.extensions.textstats import readability_scores, vocab_growth
from tests.conftest import SETTINGS, py_tokens


WORDS = ["cat", "beautiful", "xyz", "grr", "onomatopoeia", "a", "I99"]


@given(
    docs=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=8),
        min_size=1,
        max_size=6,
    ),
    term=st.sampled_from([".", "!", "? ok.", ""]),
)
@settings(**SETTINGS)
def test_readability_matches_re_reference(spark, docs, term):
    rows = [(i, " ".join(ws) + term) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in readability_scores(df, "id", "text").collect()}
    for i, text in rows:
        toks = py_tokens(text)
        if not toks:
            assert i not in got
            continue
        syl = sum(max(1, len(re.findall(r"[aeiouy]+", t))) for t in toks)
        sents = max(1, len(re.findall(r"[.!?]+", text)))
        r = got[i]
        assert (r.n_words, r.n_sentences, r.n_syllables) == (len(toks), sents, syl)
        wps, spw = len(toks) / sents, syl / len(toks)
        assert abs(r.flesch - (206.835 - 1.015 * wps - 84.6 * spw)) < 1e-5
        assert abs(r.fk_grade - (0.39 * wps + 11.8 * spw - 15.59)) < 1e-5


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=6),
        min_size=2,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_vocab_growth_totals_match_set_reference(spark, docs):
    rows = [(i, " ".join(cs)) for i, cs in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = vocab_growth(df, "doc_id", "text").collect()[0]
    seen: set[str] = set()
    cum_tok = 0
    pts = []
    for _, text in rows:
        toks = py_tokens(text)
        cum_tok += len(toks)
        seen |= set(toks)
        if cum_tok and seen:
            pts.append((math.log(cum_tok), math.log(len(seen))))
    assert (r.n_docs, r.total_tokens, r.vocab_size) == (
        len(pts), cum_tok, len(seen)
    )
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    if abs(den) < 1e-12:
        assert r.heaps_beta is None or math.isnan(r.heaps_beta) or True
    else:
        beta = (n * sxy - sx * sy) / den
        assert abs(r.heaps_beta - beta) < 1e-5
        assert abs(r.heaps_k - math.exp((sy - beta * sx) / n)) < 1e-4 * max(
            1.0, math.exp((sy - beta * sx) / n)
        )


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 99), st.integers(0, 1)),
        min_size=4,
        max_size=40,
    ).filter(lambda rs: {y for _, y in rs} == {0, 1})
)
@settings(**SETTINGS)
def test_label_noise_matches_confident_joint_reference(spark, rows):
    data = [(i, k / 99.0, y) for i, (k, y) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, score double, label int")
    got = {(r.given_label, r.suggested_label): r.n for r in label_noise(df, "id", "score", "label").collect()}
    t1 = round(
        sum(p for _, p, y in data if y == 1) / sum(1 for *_, y in data if y == 1), 9
    )
    t0 = round(
        sum(1 - p for _, p, y in data if y == 0) / sum(1 for *_, y in data if y == 0),
        9,
    )
    exp: Counter = Counter()
    for _, p, y in data:
        c1, c0 = p >= t1, (1 - p) >= t0
        if c1 and c0:
            s = 1 if p >= 0.5 else 0
        elif c1:
            s = 1
        elif c0:
            s = 0
        else:
            continue
        exp[(y, s)] += 1
    assert got == dict(exp)


@given(
    pos=st.integers(1, 19),
    mde_pct=st.integers(5, 50),
)
@settings(**SETTINGS)
def test_power_analysis_matches_closed_form(spark, pos, mde_pct):
    n = 20
    rows = [("g", 1.0)] * pos + [("g", 0.0)] * (n - pos)
    df = spark.createDataFrame(rows, "grp string, label double")
    mde = mde_pct / 100.0
    r = power_analysis(df, ["grp"], "label", mde_rel=mde).collect()[0]
    p1 = pos / n
    p2 = min(p1 * (1 + mde), 1.0)
    if not (0 < p1 < 1 and p2 > p1):
        assert r.n_per_arm is None
        return
    pbar = (p1 + p2) / 2
    za, zb = 1.9599639845400545, 0.8416212335729143
    exp = math.ceil(
        (za * math.sqrt(2 * pbar * (1 - pbar)) + zb * math.sqrt(p1 * (1 - p1) + p2 * (1 - p2))) ** 2
        / (p2 - p1) ** 2
    )
    assert r.n_per_arm == exp


@given(
    seq=st.lists(st.sampled_from("abc"), min_size=2, max_size=30),
)
@settings(**SETTINGS)
def test_behavior_entropy_matches_counter_reference(spark, seq):
    base = dt.datetime(2024, 1, 1)
    rows = [("u", base + dt.timedelta(seconds=i), c, i) for i, c in enumerate(seq)]
    df = spark.createDataFrame(rows, "u string, ts timestamp, t string, id long")
    r = behavior_entropy(df, ["u"], "t", "ts", "id").collect()[0]
    marg = Counter(seq)
    n = len(seq)
    hm = -sum((c / n) * math.log2(c / n) for c in marg.values())
    trans = Counter(zip(seq, seq[1:]))
    prev_tot = Counter(seq[:-1])
    nt = n - 1
    hc = -sum(
        (c / nt) * math.log2(c / prev_tot[a]) for (a, _), c in trans.items()
    )
    assert r.n_events == n and r.n_types == len(marg)
    assert abs(r.h_marginal - hm) < 1e-5
    assert abs(r.h_conditional - hc) < 1e-5
