"""Randomized property tests for COMPOSED pipelines (VERDICT r07 task #5).

The 30+ leaf-operator property tests in test_properties.py pin each
operator against an independent Python reference; these do the same for
the multi-stage registry pipelines, guarding the STAGE INTERFACES — the
places where one operator's output schema/semantics feed the next:

- entity resolution: ngram-Jaccard pairs -> connected components ->
  golden-record survivorship (q_entity_resolution's composition)
- BPE pack: bpe_merges -> bpe_encode -> pack_sequences
  (q_bpe_pack's composition, the raw-text-to-context-window path)
- incremental near-dups: batch-vs-corpus banding must find EXACTLY the
  batch-involving subset of the full corpus self-join's pairs
  (q_incremental_dedup's composition)

Example counts are small because every example runs several Spark jobs
(the connected-components stage is iterative)."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tests.conftest import SETTINGS as BASE_SETTINGS, py_shingles, py_tokens

SETTINGS = {**BASE_SETTINGS, "max_examples": 5}

_VOCAB = "the cat sat mat dog ran".split()

texts_st = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=6).map(" ".join),
    min_size=2,
    max_size=8,
)


def _py_md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_jaccard_pairs(texts: dict[int, str], k: int, threshold: float):
    """id_a < id_b pairs with round(set-Jaccard, 6) >= threshold — the
    ngram_jaccard_pairs contract."""
    sets = {i: py_shingles(t, k) for i, t in texts.items()}
    ids = sorted(sets)
    pairs = {}
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            jac = round(inter / union, 6) if union else 0.0
            if jac >= threshold:
                pairs[(i, j)] = jac
    return pairs


def _py_min_label_clusters(n_ids: list[int], pairs) -> dict[int, int]:
    """Union-find min-label: every id mapped to the min id reachable."""
    parent = {i: i for i in n_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


# ---------------------------------------------------------------------------
# 1. Entity resolution: clusters -> golden record
# ---------------------------------------------------------------------------


@given(
    texts=texts_st,
    langs=st.lists(
        st.sampled_from([None, "en", "de"]), min_size=8, max_size=8
    ),
    sources=st.lists(
        st.sampled_from([None, "web", "pdf"]), min_size=8, max_size=8
    ),
    quals=st.lists(st.integers(0, 3), min_size=8, max_size=8),
)
@settings(**SETTINGS)
def test_entity_resolution_pipeline_matches_python_reference(
    spark, texts, langs, sources, quals
):
    """dedup_clusters -> join -> golden_record (q_entity_resolution's
    exact composition) == a pure-Python pipeline: brute-force shingle
    Jaccard, union-find min-label clusters, then per-cluster per-attr
    survivorship from the highest-(quality, id) non-null donor. The
    tight quality range (0-3) forces ties so the doc-id tiebreak at the
    stage-3 interface is actually exercised."""
    from hdp_tez_spark.extensions.dedup import dedup_clusters, golden_record

    rows = [
        (i, t, langs[i], sources[i], quals[i]) for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    clusters = dedup_clusters(docs, "doc_id", "text", k=3, threshold=0.5)
    merged = docs.join(clusters, "doc_id")
    got = [
        (r.cluster, r.n_members, r.lang, r.source)
        for r in golden_record(
            merged, "rep", "n_chars", ["lang", "source"], "doc_id"
        )
        .orderBy("cluster")
        .collect()
    ]

    ids = list(range(len(texts)))
    pairs = _py_jaccard_pairs(dict(enumerate(texts)), k=3, threshold=0.5)
    rep = _py_min_label_clusters(ids, pairs)
    want = []
    for c in sorted(set(rep.values())):
        members = [i for i in ids if rep[i] == c]
        rec = [c, len(members)]
        for attr in (2, 3):  # lang, source column indices in rows
            donors = [i for i in members if rows[i][attr] is not None]
            rec.append(
                rows[max(donors, key=lambda i: (quals[i], i))][attr]
                if donors
                else None
            )
        want.append(tuple(rec))
    assert got == want


# ---------------------------------------------------------------------------
# 2. BPE pack: train -> encode -> pack
# ---------------------------------------------------------------------------


def _py_bpe_train(word_counts: dict[str, int], n_merges: int):
    """Textbook Sennrich trainer: overlapping adjacent-pair counts
    weighted by word frequency; ties by (max count, lexicographically
    smallest 'left right'); left-to-right greedy merge application."""
    seqs = {w: list(w) + ["</w>"] for w in word_counts}
    rules = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, seq in seqs.items():
            for i in range(len(seq) - 1):
                p = (seq[i], seq[i + 1])
                counts[p] = counts.get(p, 0) + word_counts[w]
        if not counts:
            break
        # mirror orderBy(desc(pcnt), asc(pair)): max count, then the
        # lexicographically smallest "left right" string
        top = max(counts.values())
        left, right = min(
            (p for p, c in counts.items() if c == top),
            key=lambda p: f"{p[0]} {p[1]}",
        )
        rules.append((left, right))
        for w, seq in seqs.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seqs[w] = out
    return rules, seqs


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["ab", "aab", "ba", "bb", "a"]),
            min_size=0,
            max_size=5,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    budget=st.sampled_from([4, 8]),
)
@settings(**SETTINGS)
def test_bpe_pack_pipeline_matches_python_reference(spark, texts, budget):
    """bpe_merges -> bpe_encode -> pack_sequences (q_bpe_pack's exact
    composition) == a pure-Python trainer + encoder + cumulative packer:
    the learned rules, each doc's token count, and every pack
    assignment (bucket, pack_idx, pack_offset) must all agree."""
    from hdp_tez_spark.extensions.curation import pack_sequences
    from hdp_tez_spark.extensions.textstats import bpe_encode, bpe_merges

    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rules_rows = bpe_merges(docs, "text", n_merges=3).collect()
    rules = [(r["left"], r["right"]) for r in rules_rows]

    word_counts: dict[str, int] = {}
    for _, t in rows:
        for w in py_tokens(t):
            word_counts[w] = word_counts.get(w, 0) + 1
    want_rules, seqs = _py_bpe_train(word_counts, 3)
    assert rules == want_rules

    enc = (
        bpe_encode(docs, "doc_id", "text", rules)
        .where(F.col("n_words") > 0)
        .select("doc_id", "n_tokens")
    )
    got = {
        (r.doc_id): (r.n_tokens, r.bucket, r.pack_idx, r.pack_offset)
        for r in pack_sequences(
            enc, "doc_id", "n_tokens", budget=budget, num_buckets=2
        ).collect()
    }

    ntok = {
        i: sum(len(seqs[w]) for w in py_tokens(t))
        for i, t in rows
        if py_tokens(t)
    }
    want = {}
    by_bucket: dict[int, list[int]] = {}
    for i in ntok:
        by_bucket.setdefault(_py_md5_long(str(i)) % 2, []).append(i)
    for bucket, members in by_bucket.items():
        members.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        pos = 0
        for i in members:
            want[i] = (ntok[i], bucket, pos // budget, pos % budget)
            pos += ntok[i]
    assert got == want


# ---------------------------------------------------------------------------
# 3. Incremental near-dups == batch-involving slice of the full self-join
# ---------------------------------------------------------------------------


@given(
    new_texts=texts_st,
    old_texts=texts_st,
)
@settings(**SETTINGS)
def test_incremental_near_dupes_equals_full_lsh_slice(
    spark, new_texts, old_texts
):
    """incremental_near_dupes(batch, corpus) must return EXACTLY the
    batch-involving pairs that minhash_lsh_pairs finds on the union
    corpus (same band params, so both have the same deterministic LSH
    candidate sets), with the documented orientation: new_old pairs put
    the new id first; new_new pairs keep id_a < id_b. This is the
    production claim the operator exists for — a daily batch check finds
    what a full re-cluster would, minus corpus self-pairs."""
    from hdp_tez_spark.extensions.dedup import (
        incremental_near_dupes,
        minhash_lsh_pairs,
    )

    # duplicate some batch texts into the corpus to force new_old pairs
    old_texts = old_texts + new_texts[:2]
    new_rows = [(1000 + i, t) for i, t in enumerate(new_texts)]
    old_rows = [(2000 + i, t) for i, t in enumerate(old_texts)]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    old_df = spark.createDataFrame(old_rows, "doc_id long, text string")
    params = dict(num_perms=8, band_rows=2, k=2, threshold=0.3)

    got = {
        (r.id_a, r.id_b): (r.jaccard, r.pair_type)
        for r in incremental_near_dupes(
            new_df, old_df, "doc_id", "text", **params
        ).collect()
    }

    full = minhash_lsh_pairs(
        new_df.unionByName(old_df), "doc_id", "text", **params
    ).collect()
    new_ids = {i for i, _ in new_rows}
    want = {}
    for r in full:
        a_new, b_new = r.id_a in new_ids, r.id_b in new_ids
        if not (a_new or b_new):
            continue  # old-old: incremental must NOT re-pair the corpus
        if a_new and b_new:
            want[(r.id_a, r.id_b)] = (r.jaccard, "new_new")
        else:
            nid, oid = (r.id_a, r.id_b) if a_new else (r.id_b, r.id_a)
            want[(nid, oid)] = (r.jaccard, "new_old")
    assert got == want


def test_connected_components_empty_edges_returns_empty(spark):
    """Regression (r08): an empty edge set — a batch with zero near-dup
    pairs — must return an empty labeling immediately, not spin
    max_iter rounds and crash 'not converged' (the observe-metric SUM
    over zero rows is NULL, which never compared equal to 0)."""
    from hdp_tez_spark.extensions.dedup import connected_components

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges).collect() == []


def test_embedding_near_dupes_auto_planes(spark):
    """n_planes=None derives the plane count from corpus size (r08
    scale fix: fixed planes are quadratic across corpus growth). On a
    corpus under target_bucket_rows the auto path degrades to the
    exhaustive single bucket, so its output must EQUAL the n_planes=0
    result; and every reported pair must clear the cosine threshold."""
    import random

    from hdp_tez_spark.extensions.similarity import embedding_near_dupes

    rng = random.Random(8)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ] + [(100 + i, [float(i + 1)] * 8) for i in range(3)]  # guaranteed dupes
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    auto = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dupes(
            df, threshold=0.9, n_planes=None, target_bucket_rows=4096
        ).collect()
    }
    exhaustive = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dupes(df, threshold=0.9, n_planes=0).collect()
    }
    assert auto == exhaustive
    assert all(c >= 0.9 for c in auto.values())
    # above target_bucket_rows the derived count follows ceil(log2(n/t))
    big_auto = embedding_near_dupes(
        df, threshold=0.9, n_planes=None, target_bucket_rows=8
    )
    # 43 rows, target 8 -> ceil(log2(43/8)) = 3 planes; result must be a
    # verified SUBSET of exhaustive (LSH may drop straddlers, never adds)
    got = {
        (r.id_a, r.id_b): r.cosine for r in big_auto.collect()
    }
    assert set(got) <= set(exhaustive)
    assert all(c >= 0.9 for c in got.values())
