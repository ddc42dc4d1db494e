"""Registry-wide physical-plan lint: automated scale-hygiene gate.

Plans every `__spark_entry__.queries()` entry (planning only — no
result collection) and flags the plan shapes that are silent
scale-killers at 100 TB even when sf0.01 results are correct:

- `CartesianProduct`           — an O(N*M) join that will never finish
                                 on real data unless the operator IS a
                                 cross join.
- `BroadcastNestedLoopJoin`    — same blowup class; legitimate ONLY
                                 when the broadcast side is provably
                                 tiny (a grouping-key-free aggregate =
                                 exactly 1 row, or a bounded literal).
                                 Each allowed query carries a reason.
- `BatchEvalPython`            — row-at-a-time Python in the hot path
                                 (10-100x slower than Arrow). Python is
                                 allowed only Arrow-batched (MapInPandas
                                 / ArrowEvalPython / FlatMapGroupsInPandas)
                                 or as the documented `@udtf` parity
                                 surface (BatchEvalPythonUDTF).
- partition-less `Window`      — a global ORDER BY window funnels its
                                 whole input through ONE task; legal
                                 only over a provably bounded input
                                 (the one-row-per-partition prefix-scan
                                 offsets, calendar-bounded series,
                                 LIMITed candidate lists).
- repeated tokenizer           — the regex tokenizer `split(lower(...))`
                                 inside a `lambdafunction` body (re-run
                                 per array element) or more than once in
                                 one operator, e.g. a `Project` or a
                                 `Generate` (re-run per reference):
                                 Catalyst does no CSE across lambda
                                 bodies and only partial CSE within an
                                 operator (functions/text.tokenize).

This is the executable form of the per-operator plan audits VERDICT
rounds 4-7 did by hand on the 5 most expensive queries — here it runs
over the whole registry so a regression in ANY query's join strategy
fails CI, not just the ones a reviewer happens to re-read.

Usage:
    python tools/plan_lint.py [sf_dir] [query ...]

Exit 0 = no non-whitelisted findings. JSON report on stdout.
"""

from __future__ import annotations

import json
import re
import sys
import time

sys.path.insert(0, ".")

# A BroadcastNestedLoopJoin is the correct, bounded plan when one side
# is a grouping-key-free aggregate (exactly 1 row) or a driver-bounded
# constant relation. Every entry documents WHY its BNLJ is size-bounded;
# anything not listed here that plans a BNLJ/CartesianProduct fails.
BNLJ_ALLOWED: dict[str, str] = {
    "cross_join": "the operator IS a cross join (small dims by contract)",
    "bm25": "corpus-level stats (1-row agg: N, avgdl) crossJoined onto terms",
    "tfidf_top_terms": "1-row corpus doc-count agg crossJoined onto terms",
    "heavy_hitters": "1-row corpus total crossJoined for support fractions",
    "histogram": "1-row min/max agg crossJoined to derive bucket width",
    "ks_test": "1-row per-sample CDF scale aggs crossJoined onto the grid",
    "js_divergence": "1-row distribution totals crossJoined onto bins",
    "psi_drift": "1-row per-window totals crossJoined onto buckets",
    "chi_square": "1-row grand-total agg crossJoined onto the contingency",
    "mutual_information": "1-row grand total crossJoined onto cell counts",
    "gini": "1-row population aggregate crossJoined onto deciles",
    "woe_iv": "1-row event/non-event totals crossJoined onto bins",
    "binary_auc": "1-row positive/negative counts crossJoined onto ranks",
    "benford_audit": "1-row row-count agg crossJoined onto digit counts",
    "importance_sample": "1-row normalization agg crossJoined onto docs",
    "cosine_topk": "query vector is a 1-row relation crossJoined onto corpus",
    "cosine_topk_quantized": "1-row query-vector relation; codebook bounded",
    "random_project": "d x k projection matrix is a bounded literal relation",
    "ann_recall": "exact-vs-approx eval crossJoins the bounded query set",
    "exact_quantiles": "1-row count agg crossJoined for rank targets",
    "exact_quantiles_disc": "1-row count agg crossJoined for rank targets",
    "key_skew_stats": "1-row corpus aggregate crossJoined onto key counts",
    "hll_overlap": "1-row per-side sketch aggs crossJoined",
    "approx_percentile_bound": "1-row exact-vs-approx aggs crossJoined",
    "lm_score": "1-row corpus vocab/total aggs crossJoined onto docs",
    "collocations": "1-row corpus token total crossJoined onto bigrams",
    "kruskal_wallis": "1-row grand rank stats crossJoined onto groups",
    "cohens_kappa": "1-row agreement totals crossJoined",
    "mann_whitney": "1-row per-arm counts crossJoined",
    "assoc_rules": "1-row basket-total agg crossJoined for support/lift",
    "seasonal_decompose": "1-row mean-of-seasonal agg crossJoined onto "
    "the <= period-row seasonal table (re-centering)",
    "fk_integrity": "per-edge 1-row orphan/total-count aggs crossJoined",
    "ntile_buckets": "1-row total-count agg crossJoined for the bucket formula",
    "range_join": "the operator IS a banded theta join (demo surface; the "
    "scale path is the bucketed point_in_interval join)",
    "rolling_active_users": "day-spine range join — spine is calendar-"
    "bounded (<= #days), broadcast by construction",
    "rrf_fusion": "fusion inputs are LIMITed top-k candidate lists",
    "stream_drift": "pooled-reference grid rebuild — bounded |categories|",
    "wasserstein_1d": "1-row per-group totals crossJoined onto segments",
    "good_turing": "1-row corpus token total crossJoined onto the N_r table",
    "keyness_llr": "1-row per-corpus token totals crossJoined onto terms",
    "hits_scores": "1-row L1-norm totals crossJoined at the readout",
    "friedman_test": "1-row k/treatment-count and rank-total aggs crossJoined",
    "cochran_q": "1-row k and marginal-total aggs crossJoined",
    "isotonic_calibration": "triangular self-joins over the <=bins-row "
    "reliability table (B^2 pairs / B^3 minimax, B=20 constant)",
    "capture_recapture": "1-row per-sample count aggs crossJoined",
    "tpch_q11": "scalar subquery: 1-row group-free agg (the spec's HAVING)",
    "tpch_q22": "scalar subquery: 1-row avg(c_acctbal) agg (per spec)",
    "triangle_count": "1-row census totals (wedges/triangles) crossJoined",
    "target_encoding": "1-row global-mean agg (from the SAME cell sums) "
    "crossJoined onto the |categories| cell table",
    "modularity": "1-row edge-total agg crossJoined onto the |communities| "
    "cell table",
    "ndcg_eval": "3-row query-vector relation crossJoined onto the "
    "corpus (bruteforce retriever + label judgments) — |queries| "
    "bounded by contract, corpus side streams",
    "ranking_eval": "same run/judgment build as ndcg_eval: 3-row "
    "query-vector relation crossJoined onto the corpus — |queries| "
    "bounded by contract, corpus side streams",
    "blocking_eval": "three 1-row count aggregates crossJoined into "
    "the single readout row (triangle_count's census-totals class)",
    "negative_sampling": "1-row |V| count crossJoined onto the node "
    "list to modulo the md5 draws (census-totals class); the node "
    "index itself is the range-partitioned global rank",
    "rfm_scores": "1-row |customers| count crossJoined onto the cell "
    "table for the rank->band formula (census-totals class)",
    "knn_label": "rides cosine_topk_bruteforce: bounded query-vector "
    "relation crossJoined onto the corpus (cosine_topk class)",
    "time_embargo_split": "1-row order-statistic cutoff (and the 1-row "
    "total count under it) crossJoined onto the id list — the split "
    "label is a map-side comparison against that scalar",
    "linkage_weights": "1-row total-count agg crossJoined onto each "
    "field's |distinct values| cell table for the exact u-probability "
    "(census-totals class)",
    "label_noise": "1-row class-threshold agg crossJoined onto the "
    "stream for the map-side confident classification",
    "fleiss_kappa": "two 1-row sufficient-statistic aggs (P-bar, P_e) "
    "crossJoined into the single readout row (census-totals class)",
    "event_affinity": "1-row entity-count agg crossJoined onto the "
    "|type-pair| cell table for the lift denominator",
    "rank_overlap": "1-row overlap-count agg crossJoined onto the "
    "1-row RBO sum — both sides k-bounded by contract",
}

# Row-at-a-time Python UDTF is the documented @udtf parity surface
# (SURVEY §2 row 48) — slow by contract, exercised by exactly one query.
UDTF_ALLOWED = {"python_udtf"}

# A partition-less Window (global ORDER BY window) funnels its whole
# input through ONE task — the #1 Spark antipattern when the input is
# data-sized. It is the correct plan ONLY over a provably bounded
# input. Two bounded families exist in this engine; every user carries
# its reason:
_OFFSETS = (
    "prefix-scan offsets window: input is ONE row per shuffle "
    "partition (operators/sort.py prefix_sum / the skyline prefix-max)"
)
GLOBAL_WINDOW_ALLOWED: dict[str, str] = {
    "binary_auc": _OFFSETS,
    "gini": _OFFSETS,
    "global_sort": _OFFSETS,
    "kruskal_wallis": _OFFSETS,
    "ks_test": _OFFSETS,
    "mann_whitney": _OFFSETS,
    "ntile_buckets": _OFFSETS,
    "peak_concurrency": _OFFSETS,
    "skyline": _OFFSETS,
    "spearman_corr": _OFFSETS,
    "zipf_fit": _OFFSETS,
    "negative_sampling": _OFFSETS,
    "period_over_period": "lag over the per-day totals table — "
    "calendar-bounded (<= #days)",
    "seasonal_decompose": "centered moving average over the per-day "
    "series — calendar-bounded (<= #days) by construction",
    "rrf_fusion": "row_number over the fused candidate set — inputs "
    "are LIMITed top-k lists",
    "lift_curve": "running sums over the distinct-6dp-score CELL table "
    "(bounded value grid, never row-sized) and the |buckets|-row "
    "rollup — both windows are cell/bucket-bounded by construction",
    "rfm_scores": _OFFSETS,
    "sorted_neighborhood": _OFFSETS,
    "vocab_growth": _OFFSETS,
    "linkage_weights": _OFFSETS,
    "qini_auuc": _OFFSETS,
    "rank_overlap": "row_number over the LIMITed top-20 revenue lists "
    "(rrf_fusion class: inputs are k-bounded by construction)",
    "time_embargo_split": "cumulative count over the |distinct seconds| "
    "CELL table — clock-bounded (seconds in the data's time span), "
    "never row-sized; plus the global-rank offsets window",
}

# `+- Window [aggs], [order]` = global (2 bracket groups);
# `+- Window [aggs], [part], [order]` = partitioned (3 groups).
# WindowGroupLimit prints `[part], [order], fn, k, mode` — always
# partitioned, excluded by the lookbehind on the operator name.
_GLOBAL_WINDOW_LINE = re.compile(r"(?<!GroupLimit )\bWindow \[")

_LAMBDA = re.compile(r"lambdafunction\(")
_TOKENIZER = re.compile(r"split\(lower\(")

_PATTERNS = {
    "cartesian": re.compile(r"CartesianProduct"),
    "bnlj": re.compile(r"BroadcastNestedLoopJoin"),
    # BatchEvalPython but NOT BatchEvalPythonUDTF
    "row_udf": re.compile(r"BatchEvalPython(?!UDTF)"),
    "udtf": re.compile(r"BatchEvalPythonUDTF"),
}


def lint_plan(name: str, plan: str) -> list[str]:
    """Return the list of non-whitelisted findings for one query plan."""
    findings = []
    if _PATTERNS["cartesian"].search(plan) and name not in BNLJ_ALLOWED:
        findings.append("CartesianProduct in plan (unbounded all-pairs)")
    if _PATTERNS["bnlj"].search(plan) and name not in BNLJ_ALLOWED:
        findings.append(
            "BroadcastNestedLoopJoin without a documented bounded side"
        )
    if _PATTERNS["row_udf"].search(plan):
        findings.append("row-at-a-time BatchEvalPython in the plan")
    if _PATTERNS["udtf"].search(plan) and name not in UDTF_ALLOWED:
        findings.append("BatchEvalPythonUDTF outside the @udtf parity query")
    if _has_global_window(plan) and name not in GLOBAL_WINDOW_ALLOWED:
        findings.append(
            "partition-less Window (single-task global sort funnel) "
            "without a documented bounded input"
        )
    findings.extend(_repeated_tokenizer(plan))
    return findings


def _tokenizer_calls(s: str) -> int:
    """Tokenizer splits in `s` that read an attribute (`#id`); the
    auto-generated alias names that repeat an expression's text do not."""
    return sum("#" in _paren_group(s[m.end() - 1 :]) for m in _TOKENIZER.finditer(s))


def _paren_group(s: str) -> str:
    return (_bracket_groups(s, "(", ")") or [""])[0]


def _repeated_tokenizer(plan: str) -> list[str]:
    lines = plan.splitlines()
    found = []
    if any(
        _tokenizer_calls(_paren_group(line[m.start() :]))
        for line in lines
        for m in _LAMBDA.finditer(line)
    ):
        found.append("tokenizer split inside a lambdafunction body")
    if any(_tokenizer_calls(line) > 1 for line in lines):
        found.append("tokenizer split evaluated more than once in one operator")
    return found


def _bracket_groups(s: str, open_: str = "[", close: str = "]") -> list[str]:
    """The top-level `[...]` (or `open_`...`close`) groups of a plan
    line, nesting-aware.

    The old `], [` separator count miscounted when the window's
    aggregate-expression list itself contained nested `], [` (array
    literals, collect_list output types), silently missing a global
    window — a false negative in this gate (ADVICE r08). Brackets in
    plan strings are balanced, so a depth counter recovers the true
    top-level group structure.
    """
    groups, depth, start = [], 0, -1
    for pos, ch in enumerate(s):
        if ch == open_:
            if depth == 0:
                start = pos
            depth += 1
        elif ch == close and depth:
            depth -= 1
            if depth == 0:
                groups.append(s[start + 1 : pos])
    return groups


def _has_global_window(plan: str) -> bool:
    for line in plan.splitlines():
        m = _GLOBAL_WINDOW_LINE.search(line)
        if not m or "WindowGroupLimit" in line:
            continue
        groups = _bracket_groups(line[m.start() :])
        # `Window [aggs], [order]` = global (2 groups);
        # `Window [aggs], [part], [order]` = partitioned (3 groups)
        if len(groups) == 2 and ("ASC" in groups[1] or "DESC" in groups[1]):
            return True
    return False


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as entry_mod
    from hdp_tez_spark.session import get_session

    spark = get_session()
    qs = entry_mod.queries()
    report, bad = {}, 0
    t0 = time.time()
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            plan = plan_of(fn(spark, sf_dir))
            findings = lint_plan(name, plan)
            stats = {
                "exchanges": plan.count("Exchange"),
                "codegen": "WholeStageCodegen" in plan,
                "bnlj": bool(_PATTERNS["bnlj"].search(plan)),
                "cartesian": bool(_PATTERNS["cartesian"].search(plan)),
                "global_window": _has_global_window(plan),
            }
        except Exception as exc:  # planning itself failed
            findings = [f"planning error: {exc!r:.200}"]
            stats = {}
        report[name] = {"findings": findings, **stats}
        if findings:
            bad += 1
            print(f"FAIL {name}: {findings}", file=sys.stderr)
    # whitelist rot: allowed entries whose plan no longer contains a
    # BNLJ/CartesianProduct at this SF (harmless, but keep the list honest)
    stale = sorted(
        n
        for n in BNLJ_ALLOWED
        if n in report
        and not (report[n].get("bnlj") or report[n].get("cartesian"))
    )
    stale_gw = sorted(
        n
        for n in GLOBAL_WINDOW_ALLOWED
        if n in report and not report[n].get("global_window")
    )
    summary = {
        "queries": len(report),
        "failed": bad,
        "stale_allowlist": stale,
        "stale_global_window_allowlist": stale_gw,
        "wall_s": round(time.time() - t0, 1),
    }
    print(json.dumps({"summary": summary, "report": report}, indent=1))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
