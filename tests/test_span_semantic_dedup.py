"""Behavioral + randomized property tests for the two r08 corpus-hygiene
additions:

- duplicated_spans (extensions/dedup.py): substring-level duplicate-span
  detection — the distributed shingle-window approximation of suffix-array
  substring dedup (Lee et al. 2022), pinned against a direct Python
  reference over random small corpora;
- semantic_dedup (extensions/similarity.py): SemDeDup-style embedding
  near-dup grouping (pairs -> transitive closure -> min-id representative),
  pinned against a Python brute-force cosine + union-find reference in
  exhaustive mode (n_planes=0) so LSH recall cannot confound the check.
"""

from __future__ import annotations

import itertools
import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row

from hdp_tez_spark.extensions.dedup import duplicated_spans
from hdp_tez_spark.extensions.similarity import semantic_dedup
from tests.conftest import SETTINGS as BASE_SETTINGS, py_tokens, py_word_ngrams

SETTINGS = {**BASE_SETTINGS, "max_examples": 5}

_VOCAB = "the cat sat mat dog ran big red".split()


def _py_duplicated_spans(texts: dict[int, str], window: int):
    wins = {i: py_word_ngrams(py_tokens(t), window) for i, t in texts.items()}
    docs_per_window: dict[str, set[int]] = {}
    for i, ws in wins.items():
        for w in ws:
            docs_per_window.setdefault(w, set()).add(i)
    out = {}
    for i, ws in wins.items():
        dup = sum(1 for w in ws if len(docs_per_window[w]) >= 2)
        frac = round(dup / len(ws), 6) if ws else None
        out[i] = (len(ws), dup, frac)
    return out


def test_duplicated_spans_shared_paragraph(spark):
    """Two long docs sharing one paragraph are flagged span-level even
    though their document-level overlap is far below any dedup threshold;
    a short doc yields NULL frac; a unique doc yields 0.0."""
    shared = "alpha beta gamma delta"  # 4 tokens, window=3 -> 2 windows
    rows = [
        Row(doc_id=1, text=f"one two three four five six {shared}"),
        Row(doc_id=2, text=f"{shared} seven eight nine ten eleven twelve"),
        Row(doc_id=3, text="just a few"),  # 3 tokens -> 1 window (itself)
        Row(doc_id=4, text="completely fresh words nobody else wrote here"),
    ]
    got = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"], r["dup_frac"])
        for r in duplicated_spans(
            spark.createDataFrame(rows), "doc_id", "text", window=3
        ).collect()
    }
    # doc1: 10 tokens -> 8 windows; the 2 windows fully inside `shared`
    # also occur in doc2 ("alpha beta gamma", "beta gamma delta")
    assert got[1] == (8, 2, round(2 / 8, 6))
    assert got[2] == (8, 2, round(2 / 8, 6))
    assert got[3] == (1, 0, 0.0)
    assert got[4] == (5, 0, 0.0)


texts_st = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=8).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(**SETTINGS)
@given(texts=texts_st)
def test_duplicated_spans_matches_python_reference(spark, texts):
    texts_by_id = {i: t for i, t in enumerate(texts)}
    expected = _py_duplicated_spans(texts_by_id, window=3)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts_by_id.items()]
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"], r["dup_frac"])
        for r in duplicated_spans(df, "doc_id", "text", window=3).collect()
    }
    assert got == expected


def _py_cosine(a: list[float], b: list[float]) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
    return dot / (na * nb) if na and nb else 0.0


def _py_semantic_dedup(vecs: dict[int, list[float]], threshold: float):
    """Brute-force pairs + union-find -> min-id representative."""
    parent = {i: i for i in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in itertools.combinations(sorted(vecs), 2):
        # the operator rounds cosine to 6 dp before thresholding
        if round(_py_cosine(vecs[a], vecs[b]), 6) >= threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in vecs}


def test_semantic_dedup_groups_and_singletons(spark):
    vecs = {
        1: [1.0, 0.0, 0.0],
        2: [0.999, 0.01, 0.0],  # near-dup of 1
        3: [0.0, 1.0, 0.0],
        4: [0.01, 0.999, 0.0],  # near-dup of 3
        5: [0.0, 0.0, 1.0],  # singleton
    }
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs.items()]
    )
    got = {
        r["vec_id"]: r["rep"]
        for r in semantic_dedup(df, threshold=0.95, n_planes=0).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    # keep rule: reps are exactly the min ids of each group
    assert sorted({v for v in got.values()}) == [1, 3, 5]


vecs_st = st.lists(
    st.lists(
        st.floats(
            min_value=-1.0, max_value=1.0, allow_nan=False, width=32
        ),
        min_size=3,
        max_size=3,
    ).filter(lambda v: any(abs(x) > 1e-3 for x in v)),
    min_size=2,
    max_size=7,
)


@settings(**SETTINGS)
@given(vecs=vecs_st)
def test_semantic_dedup_matches_union_find_reference(spark, vecs):
    vecs_by_id = {i: v for i, v in enumerate(vecs)}
    expected = _py_semantic_dedup(vecs_by_id, threshold=0.9)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs_by_id.items()]
    )
    got = {
        r["vec_id"]: r["rep"]
        for r in semantic_dedup(df, threshold=0.9, n_planes=0).collect()
    }
    assert got == expected
