"""CI slice of the registry-wide plan lint (tools/plan_lint.py).

The standalone tool lints every `queries()` plan; here we pin the
highest-risk families (joins, dedup/ANN candidate generation, the
scan-heavy TPC-H picks) plus every allowlisted-BNLJ query that ships in
the lint subset, so a join-strategy regression fails the suite, not
just the per-round tool run. The full 218-query lint stays in
`tools/plan_lint.py` (exit-code gated, run per round with the sweeps).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from tests.conftest import SF_SMOKE
from tools.plan_lint import (
    BNLJ_ALLOWED,
    GLOBAL_WINDOW_ALLOWED,
    UDTF_ALLOWED,
    lint_plan,
    plan_of,
)

# High-risk subset: every query here must lint clean. Families:
# candidate-pair generation (the all-pairs blowup risk), every join
# operator, iterative/graph ops, and the heaviest scans.
LINT_SUBSET = [
    "minhash_lsh",
    "simhash",
    "edit_distance_pairs",
    "prefix_filter_join",
    "embedding_near_dupes",
    "semantic_dedup",
    "dup_spans",
    "ngram_jaccard",
    "incremental_dedup",
    "cosine_topk",
    "cosine_topk_ivf",
    "cosine_topk_lsh",
    "broadcast_hash_join",
    "shuffle_hash_join",
    "sortmerge_join",
    "asof_join",
    "salted_join",
    "range_join",
    "interval_join",
    "point_in_time_join",
    "null_safe_join",
    "bucketed_join",
    "anti_join",
    "semi_join",
    "full_outer_join",
    "cross_join",
    "skyline",
    "mmr_select",
    "assoc_rules",
    "peak_concurrency",
    "rolling_median",
    "seasonal_decompose",
    "pareto_contributors",
    "image_resize",
    "triangle_count",
    "pagerank",
    "dedup_clusters",
    "tpch_q9",
    "tpch_q21",
    "tpch_q11",
    "tpch_q22",
    "python_udtf",
    "bm25",
    "heavy_hitters",
    "rolling_active_users",
    "rrf_fusion",
    "fk_integrity",
    "ntile_buckets",
    # r09 second/third batch: the new allowlisted shapes (ndcg_eval's
    # bounded query-vector BNLJ, zipf_fit's offsets window) plus the
    # wedge-join and iterative additions
    "ndcg_eval",
    "zipf_fit",
    "link_prediction",
    "label_propagation",
    "kaplan_meier",
    "rake_keywords",
    # text queries built on functions/text.tokenize + word_ngrams: the
    # repeated-tokenizer rule's bug class
    "ngram_counts",
    "quality_score",
    "distinct_ngrams",
    "lm_score",
]


@pytest.mark.parametrize("name", LINT_SUBSET)
def test_plan_lints_clean(spark, name):
    fn = E.queries()[name]
    findings = lint_plan(name, plan_of(fn(spark, SF_SMOKE)))
    assert not findings, findings


def test_global_window_detection_is_nesting_aware():
    """ADVICE r08: a global window whose aggregate list itself contains
    `], [` (array literals, nested specs) must still be detected — the
    old separator count silently missed it."""
    from tools.plan_lint import _bracket_groups, _has_global_window

    nasty = (
        "   +- Window [collect_list(a, [1, 2], [3, 4]) AS xs#1], "
        "[b#2 ASC NULLS FIRST]"
    )
    assert _has_global_window(nasty)
    partitioned = (
        "   +- Window [collect_list(a, [1, 2], [3, 4]) AS xs#1], [k#3], "
        "[ts#4 ASC NULLS FIRST]"
    )
    assert not _has_global_window(partitioned)
    grouplimit = (
        "   +- WindowGroupLimit [k#1], [ts#2 ASC NULLS FIRST], rank, 3"
    )
    assert not _has_global_window(grouplimit)
    assert _bracket_groups("x [a, [b], c], [d]") == ["a, [b], c", "d"]


def test_repeated_tokenizer_detection():
    """The tokenizer split is flagged inside a lambda body or twice in
    one operator, but not in tokenize's own `filter` lambda, in the
    `_shingles` bind-once shape (split outside, lambda over its value)
    or in an auto-generated alias (expression text without #ids)."""
    from tools.plan_lint import _repeated_tokenizer

    tok = (
        "filter(split(lower(text#1), [^a-z0-9]+, -1), "
        "lambdafunction(NOT (lambda x#6 = ), lambda x#6, false))"
    )
    grams = "lambdafunction(slice({}, lambda i#9, 3), lambda i#9, false)"
    in_lambda = f"transform(sequence(1, 3), {grams.format(tok)})"
    bind_once = (
        f"transform(array({tok}), lambdafunction(transform(sequence(1, 3), "
        f"{grams.format('lambda t#8')}), lambda t#8, false))"
    )
    alias = "size(filter(split(lower(text), [^a-z0-9]+, -1)))"
    cases = {
        f"+- Project [{bind_once} AS s#7]": [],
        f"+- Project [size({tok}, false) AS {alias}#7]": [],
        f"Generate explode({in_lambda}), false, [g#12]": [
            "tokenizer split inside a lambdafunction body"
        ],
        f"+- Project [size({tok}, false) AS n#2, {tok} AS t#3]": [
            "tokenizer split evaluated more than once in one operator"
        ],
        f"Generate explode(arrays_zip(slice({tok}, 1, 2), {tok})), [g#4]": [
            "tokenizer split evaluated more than once in one operator"
        ],
    }
    for line, found in cases.items():
        assert _repeated_tokenizer(line) == found, line


def test_allowlists_reference_real_queries():
    """Allowlist rot guard: every documented-bounded BNLJ exception must
    still name a registry query."""
    names = set(E.queries())
    missing = (
        set(BNLJ_ALLOWED) | set(GLOBAL_WINDOW_ALLOWED) | UDTF_ALLOWED
    ) - names
    assert not missing, sorted(missing)
