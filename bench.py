"""Benchmark harness: runs the headline query set and prints ONE JSON line.

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), cores
from $SPARK_GRAFT_CPUS (default all). Each query is fully executed via the
noop sink (no driver collect — measures the distributed plan, not arrow
transfer to the driver).
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from hdp_tez_spark.metrics import TaskMetricsCollector
from tools.measure import open_session, run, sf_dir, write_artifact

# Headline set: one per operator family (SURVEY §2) + the TPC-H-ish bench
# queries. Kept in sync with _REGISTRY as coverage widens.
HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q10",
    "tpch_q18",
    "mrr_group_order",
    "asof_join",
    "broadcast_hash_join",
    "sortmerge_join",
    "shuffle_hash_join",
    "wordcount",
    "global_sort",
    "secondary_sort",
    "topk",
    "window_rank",
    "window_running",
    "union_grouped",
    "cube",
    # LLM-pipeline extensions
    # NOTE: the first 28 entries are the baseline-shared core-28 whose
    # composition must stay fixed across rounds — new queries go BELOW
    # the core boundary (dup_spans/semantic_dedup live after
    # session_window for that reason)
    "dedup_exact",
    "minhash_lsh",
    "simhash",
    "cosine_topk",
    "token_stats",
    "quality_score",
    # streaming batch-twins
    "tumbling_window",
    "session_window",
    # ^^^ the 28 queries above are the round-1 baseline-shared set: they are
    # the only per-query timings inlined in the stdout JSON line (see
    # _CORE_N below) — the full timings dict goes to BENCH_TIMINGS.json.
    # iterative / cogroup / interval paths (added round 2 per BASELINE §C)
    "dup_spans",
    "semantic_dedup",
    "minhash_recall",
    "skyline",
    "mmr_select",
    "assoc_rules",
    "peak_concurrency",
    "dedup_clusters",
    "cogroup",
    "interval_join",
    # curation surface (round-2 additions)
    "sessionize",
    "decontaminate",
    "pack_sequences",
    "incremental_dedup",
    "label_centroids",
    # round-3 additions: ranking/retrieval, analytics, CDC, graph
    "tfidf_top_terms",
    "bm25",
    "heavy_hitters",
    "bloom_decontaminate",
    "chunk_documents",
    "exact_quantiles",
    "merge_upsert",
    "scd2",
    "pagerank",
    "range_frame_window",
    # round-4 additions: exact ranking/join ops + robust stats
    "ntile_buckets",
    "lateral_topn",
    "null_safe_join",
    "robust_outliers",
    # round-4 write-side / streaming / DAG surface (each includes its own
    # write or stream-drain work by design — they measure the full path)
    "zorder_stats",
    "compact_files",
    "bucketed_join",
    "stream_tumbling",
    "stream_interval_join",
    "dag_pipeline",
    "kmeans_cells",
    "funnel",
    "kfold_split",
    "stream_stateful_totals",
    # round-4 second batch: graph census, sampling, quality, sketches,
    # time-series, fuzzy matching
    "triangle_count",
    "weighted_sample",
    "profile_table",
    "fk_integrity",
    "gap_fill",
    "cms_frequency",
    "edit_distance_pairs",
    "stream_dedup",
    "dataset_diff",
    "key_skew_stats",
    "cohort_retention",
    "time_weighted_avg",
    "ngram_counts",
    "stream_cdc_upsert",
    # round-4 third batch: BFS hops, exact prefix-filter join, EWMA
    "bfs_distances",
    "prefix_filter_join",
    "ewma",
    "stream_left_join",
    "partition_overwrite",
    "point_in_time_join",
    "transition_counts",
    "embedding_covariance",
    "grouped_ols",
    "binary_auc",
    "rollup_maintain",
    "schema_evolution",
    "csv_scan",
    "ohlc_downsample",
    "golden_record",
    "rolling_zscore",
    "windowed_topk",
    "hll_overlap",
    "ab_ttest",
    "chi_square",
    "gaps_islands",
    "winsorize",
    "period_over_period",
    "proportion_ci",
    "cuped",
    "entity_resolution",
    "incident_window_join",
    "stream_session",
    "python_udtf",
    "stream_sliding",
    # round-4 fourth batch: privacy audit, distributed PCA, hybrid
    # retrieval fusion, feature screening
    "k_anonymity",
    "pca_component",
    "rrf_fusion",
    "woe_iv",
    "calibration_bins",
    "random_project",
    "attribution",
    "psi_drift",
    "merge_intervals",
    "lm_score",
    "rolling_active_users",
    "collocations",
    "rendezvous_shard",
    # round-5 additions: source surface + ANN acceptance eval + tokenizer
    "json_scan",
    "orc_scan",
    "ann_recall",
    "bpe_merges",
    "bpe_encode",
    "bpe_pack",
    "window_distribution",
    "l_diversity",
    "stream_enrich",
    "cusum_shift",
    "benford_audit",
    "acf",
    "cohens_kappa",
    "bootstrap_ci",
    "grouped_auc",
    "mixture_weights",
    "importance_sample",
    "apply_mixture",
    "ngram_novelty",
    "mann_whitney",
    "ks_test",
    "kruskal_wallis",
    "spearman_corr",
    "mutual_information",
    "js_divergence",
    "gini",
    "stream_drift",
    # round-9 additions (below the core boundary)
    "rolling_median",
    "seasonal_decompose",
    "pareto_contributors",
    "image_resize",
    # round-9 second batch: experimentation stats, link prediction,
    # ranking eval, corpus audit
    "srm_check",
    "ratio_metric_delta",
    "fdr_bh",
    "link_prediction",
    "ndcg_eval",
    "zipf_fit",
    "kaplan_meier",
    "diff_in_diff",
    "label_propagation",
    "rake_keywords",
    "nelson_aalen",
    "theil_sen",
    "ranking_eval",
    "containment",
    "embedding_outliers",
    "charclass_mix",
    "k_core",
    "sprt_check",
    "best_split",
    "rolling_corr",
    "oov_rate",
    "weighted_quantiles",
    "conformal",
    "stream_sprt",
    "quantile_normalize",
    "trimmed_mean",
    "blocking_eval",
    "lift_curve",
    "calibration_error",
    "distinct_ngrams",
    "stratified_kfold",
    "negative_sampling",
    # r10 additions (eighth batch)
    "target_encoding",
    "propensity_match",
    "bcubed_eval",
    "modularity",
    "hill_tail_index",
    "interarrival_stats",
    # r10 additions (ninth batch)
    "rfm_scores",
    "rare_categories",
    "sorted_neighborhood",
    "average_precision",
    "knn_label",
    "time_embargo_split",
    # r10 additions (tenth batch)
    "readability",
    "vocab_growth",
    "linkage_weights",
    "label_noise",
    "power_analysis",
    "behavior_entropy",
    # r10 additions (eleventh batch)
    "fleiss_kappa",
    "qini_auuc",
    "mcnemar",
    "event_affinity",
    "embedding_separability",
    "rank_overlap",
    # r10 additions (twelfth batch)
    "anova_f",
    "cramers_v",
    "wasserstein_1d",
    "good_turing",
    "keyness_llr",
    "hits_scores",
    # r10 additions (thirteenth batch)
    "levene_test",
    "friedman_test",
    "cochran_q",
    "icc",
    "runs_test",
    "isotonic_calibration",
    # r10 additions (fourteenth batch)
    "phash_near_dupes",
    "dispersion_test",
    "poisson_rate",
    "capture_recapture",
    "tokenizer_fertility",
    "odds_ratio",
]

# How many HEADLINE entries form the baseline-shared core whose timings are
# inlined on stdout. The driver captures only the last ~2000 chars of stdout;
# 28 compact entries keep the line near ~700 chars with headroom, while the
# full 100+-query dict (~3 KB) overflowed the capture in rounds 2-4 and the
# driver recorded parsed=null.
_CORE_N = 28


# The r08 operators that joined the per-round medians protocol
# (BENCH_NOTES) after their introduction round; every headline query from
# r09 on (rolling_median onwards) joined it when added.
_R08_STANDING = [
    "skyline",
    "mmr_select",
    "assoc_rules",
    "peak_concurrency",
    "dup_spans",
    "semantic_dedup",
    "minhash_recall",
]


def standing_set() -> list[str]:
    """The standing medians set: core-28 plus the per-round adds, so the
    steady-state trend stays comparable across rounds. BENCH_PROFILE.json
    keeps stage timelines for these queries only."""
    return (
        HEADLINE[:_CORE_N]
        + _R08_STANDING
        + HEADLINE[HEADLINE.index("rolling_median") :]
    )


def main() -> None:
    data = sf_dir()
    m = re.search(r"sf([0-9.]+)", data)
    sf = float(m.group(1)) if m else -1.0

    spark = open_session("hdp-tez-spark-bench")
    cores = spark.sparkContext.defaultParallelism

    qs = entry_mod.queries()
    names = [n for n in HEADLINE if n in qs]
    # SPARK_GRAFT_BENCH_ONLY: comma-separated subset (e.g. "core28" for
    # the baseline-shared prefix, or explicit names) — used for scale
    # probes at nonstandard SFs where the full 144-query set is overkill
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only == "core28":
        names = names[:_CORE_N]
    elif only:
        want = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in want]

    collector = TaskMetricsCollector(spark)
    # Warm up the JVM/codegen paths once (excluded from timings; the timed
    # run of the same query overwrites its counters and stage rows).
    run(spark, collector, names[0], lambda: qs[names[0]](spark, data))

    timings: dict[str, float] = {}
    exec_ms: dict[str, int] = {}
    cpu_ms: dict[str, int] = {}
    counters: dict[str, dict[str, int]] = {}
    # r11 (VERDICT r10 task #1): the single-shot wall-clock headline is
    # hostage to the documented host throttle band (BENCH_NOTES r07-r10:
    # swings 3x within minutes, 27 phantom "regressions" on untouched
    # queries in PERF_r10). Two ADDITIONS make the line arbitrable without
    # changing the existing methodology or removing/renaming anything:
    #   - "queries_med": per-query median of 3 inline reps for the core-28
    #     (rep0 IS the single-shot value kept in "queries"; reps 1-2 run
    #     immediately after, outside every other query's timed window);
    #   - "exec_ms_total": sum of per-query executor_run_ms (rep0 only)
    #     from the status store — a load-independent total next to
    #     wall-clock.
    core_reps: dict[str, list[float]] = {}
    for i, name in enumerate(names):

        def build(q: str = name):
            return qs[q](spark, data)

        rec = run(spark, collector, name, build)
        timings[name] = round(rec["wall_s"], 3)
        exec_ms[name] = rec["exec_ms"]
        cpu_ms[name] = rec["cpu_ms"]
        # shuffle_bytes = read side; spill = memory+disk (BASELINE §C)
        counters[name] = {
            "shuffle_bytes": rec["shuffle_read_bytes"],
            "spilled_bytes": rec["spill_bytes"],
        }
        if name in HEADLINE[:_CORE_N]:
            core_reps[name] = [timings[name]] + [
                round(run(spark, collector, f"{name}#rep{r}", build)["wall_s"], 3)
                for r in (1, 2)
            ]
        # Between queries (outside the timed window): drop Python-side
        # DataFrame/RDD references and force one JVM GC so ContextCleaner
        # releases localCheckpoint + broadcast blocks — without this, state
        # from the iterative queries accumulates in the shared local JVM
        # and measurably slows the tail of a 100+ query run.
        gc.collect()
        if i % 8 == 7:
            spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 3)
    # Counters, full timings and stage timelines go to SIDECAR files, not
    # stdout: the driver captures only the tail of stdout and must find
    # the one short JSON line below intact (round 2's inline counters
    # pushed the line past the capture window and the driver recorded
    # parsed=null).
    here = os.path.dirname(os.path.abspath(__file__))

    def sidecar(file: str, payload: dict) -> None:
        write_artifact(os.path.join(here, file), payload, cores=cores, sf=sf)

    sidecar("BENCH_COUNTERS.json", {"counters": counters})
    sidecar(
        "BENCH_TIMINGS.json",
        {
            "total_sec": total,
            "queries": timings,
            "exec_ms": exec_ms,
            "cpu_ms": cpu_ms,
            "core28_reps": core_reps,
        },
    )
    # Per-query stage timeline (swimlane/ATS history parity): every
    # stage's submission/first-task/completion timestamps + byte
    # counters. Retention is capped to the standing medians set so the
    # artifact stays bounded and round-comparable rather than growing
    # with the whole registry.
    keep = set(standing_set())
    sidecar(
        "BENCH_PROFILE.json",
        {n: rows for n, rows in collector.profile().items() if n in keep},
    )

    core = [n for n in HEADLINE[:_CORE_N] if n in timings]
    meds = {
        n: round(sorted(rs)[len(rs) // 2], 3)
        for n, rs in core_reps.items()
        if rs
    }
    # exec_ms_total / cpu_ms_total: executor-side companions to the
    # wall-clock total (CPU time is the one that does not grow with host
    # load), summed over the first (single-shot) execution of every
    # query — extra reps excluded so they cover exactly the same work as
    # "value"
    line = json.dumps(
        {
            "metric": "headline_query_set_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": {n: timings[n] for n in core},
            "queries_med": {n: meds[n] for n in core if n in meds},
            "exec_ms_total": sum(exec_ms.values()),
            "cpu_ms_total": sum(cpu_ms.values()),
            "n_queries": len(timings),
            "sf": sf,
        },
        separators=(",", ":"),
    )
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
