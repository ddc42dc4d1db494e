"""Physical-plan quality gates: the plans the engine promises at 100 TB.

These assert on `.explain()` output, not results: predicate/column
pushdown into the parquet scan, broadcast strategy for small dims,
whole-stage codegen coverage, AQE enabled, and salted-join equivalence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from hdp_tez_spark.operators.joins import salted_join
from hdp_tez_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = E.queries()["filter_project"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters:" in plan
    assert "IsNotNull(l_discount)" in plan or "GreaterThan(l_discount" in plan


def test_column_pruning(spark):
    df = E.queries()["filter_project"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().toString()
    # ReadSchema in the scan must not include unprojected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "l_comment" not in read_schema[0]
    assert "l_tax" not in read_schema[0]


def test_broadcast_join_strategy(spark):
    df = E.queries()["broadcast_hash_join"](spark, SF_SMOKE)
    assert "BroadcastHashJoin" in _plan(df)


def test_sortmerge_join_strategy(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    j = li.hint("MERGE").join(orders, li.l_orderkey == orders.o_orderkey)
    assert "SortMergeJoin" in _plan(j)


def test_shuffle_hash_join_strategy(spark):
    df = E.queries()["shuffle_hash_join"](spark, SF_SMOKE)
    assert "ShuffledHashJoin" in _plan(df)


def test_topk_uses_take_ordered(spark):
    df = E.queries()["topk"](spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in _plan(df)


def test_whole_stage_codegen_covers_agg(spark):
    df = E.queries()["tpch_q1"](spark, SF_SMOKE)
    df.collect()  # AQE shows codegen spans only in the final (executed) plan
    plan = _plan(df)
    # '*(n)' prefixes mark WholeStageCodegen spans in the simpleString form
    assert "WholeStageCodegen" in plan or "*(" in plan, plan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_partial_aggregation_present(spark):
    """Combiner parity: map-side partial agg before the exchange."""
    df = E.queries()["mrr_group_order"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    dim = li.select("l_returnflag").distinct().withColumn(
        "label", F.concat(F.lit("x-"), F.col("l_returnflag"))
    )
    plain = (
        li.join(dim, "l_returnflag")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    salted = (
        salted_join(li, dim, on=["l_returnflag"], salt_buckets=8)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_global_sort_no_single_partition_window(spark):
    """global_sort must not funnel all rows through one window task."""
    df = E.queries()["global_sort"](spark, SF_SMOKE)
    plan = _plan(df)
    # the ranked implementation partitions by __pid — a Window over an
    # empty partition spec would show 'Window [...] []' with no partition
    assert "partitionBy" not in plan or "__pid" in plan
    assert df.count() > 0


def test_asof_join_single_shuffle(spark):
    """asof_join promises exactly one hash-partitioned exchange (the window
    shuffle) — no range-join explosion, no cartesian product."""
    df = E.queries()["asof_join"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_minhash_signatures_no_shuffle(spark):
    """Signatures are a pure projection: no hash-partitioned exchange
    before the signature columns exist (only the optional round-robin
    spread of a single-split input)."""
    from hdp_tez_spark.extensions import dedup as D

    docs = load_table(spark, SF_SMOKE, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text")
    assert "Exchange hashpartitioning" not in _plan(sigs)


def test_grouping_sets_single_expand(spark):
    """GROUPING SETS compiles to one Expand + one aggregation pass, not a
    union of per-set scans."""
    df = E.queries()["grouping_sets"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Expand") == 1, plan


def test_tpch_q7_broadcasts_dims_via_aqe(spark):
    """At small SF, AQE must still pick broadcast for the dim-filtered
    joins — without the forced hints the engine no longer applies to
    fact-scaled inputs. Checked on the final adaptive plan (post-collect)."""
    df = E.queries()["tpch_q7"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_decorrelated_q17_no_cartesian(spark):
    df = E.queries()["tpch_q17"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_no_forced_broadcast_of_fact_scaled_inputs(spark):
    """Scale gate: a hard `F.broadcast` on anything whose size grows with
    the data (customer/supplier/part or fact-derived aggregates) bypasses
    AQE's size check and OOMs the driver at cluster scale. These queries
    must carry NO broadcast hint at all — broadcast selection is AQE's
    call (the Tez contrast: HashJoinExample.java:78-103 makes the user
    choose; Catalyst decides better)."""
    for name in ("tpch_q3", "tpch_q17", "scalar_subquery", "tpch_q14", "tpch_q19"):
        df = E.queries()[name](spark, SF_SMOKE)
        assert "ResolvedHint" not in _analyzed(df), name


def test_q7_broadcast_hints_only_on_nation(spark):
    """q7 keeps exactly its two nation-projection hints (25-row bounded
    dims) and nothing else."""
    df = E.queries()["tpch_q7"](spark, SF_SMOKE)
    assert _analyzed(df).count("ResolvedHint") == 2


def test_histogram_broadcasts_stats_not_sort(spark):
    """The 1-row min/max aggregate reaches the bin expression via a
    broadcast, and no global sort appears anywhere."""
    df = E.queries()["histogram"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_label_centroids_partial_agg(spark):
    """(label, pos) cells partially aggregate map-side: shuffle carries
    partial avg states, not raw vector elements."""
    from hdp_tez_spark.extensions.similarity import label_centroids

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(label_centroids(emb))
    import re

    first_exchange = plan.lower().index("exchange hashpartitioning")
    partials = [m.start() for m in re.finditer(r"HashAggregate.*partial_avg", plan)]
    assert partials and min(partials) > first_exchange, plan
    # note: executedPlan prints top-down, so the partial agg (upstream of
    # the exchange) appears BELOW it in the text — index must be larger


def test_pack_sequences_single_shuffle(spark):
    from hdp_tez_spark.extensions.curation import pack_sequences
    from hdp_tez_spark.extensions.textstats import token_stats

    docs = load_table(spark, SF_SMOKE, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    plan = _plan(pack_sequences(toks, "doc_id", "n_tokens", 256))
    # one hash exchange for the bucket window; the spread repartition is a
    # RoundRobin exchange and must not add more hash exchanges
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_decontaminate_joins_on_hashes(spark):
    """The train-vs-test shingle join keys are 8-byte hashes (the __h
    bigint), never shingle strings."""
    from hdp_tez_spark.extensions.curation import decontaminate

    docs = load_table(spark, SF_SMOKE, "documents")
    train = docs.where(F.col("doc_id") % 10 > 0).select("doc_id", "text")
    test = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    plan = _plan(decontaminate(train, test, "doc_id", "text"))
    assert "__h" in plan, plan
    joins = [l for l in plan.splitlines() if "Join" in l and "__h" in l]
    assert joins, plan


def test_embedding_near_dupes_bucket_equijoin(spark):
    """The driver-checked query must take the bucket equi-join path, not
    an all-pairs nested-loop join (n_planes=0 exhaustive mode is the
    explicit opt-in exception)."""
    plan = _plan(E.queries()["embedding_near_dupes"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bm25_topk_uses_take_ordered(spark):
    """The BM25 limit must compile to TakeOrderedAndProject (per-partition
    heap + driver merge of k), never a global sort."""
    df = E.queries()["bm25"](spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in _plan(df)


def test_ranking_scalar_crossjoins_broadcast(spark):
    """The 1-row corpus-stat aggregates (N, avgdl, total) in tfidf/bm25/
    heavy_hitters cross-join as explicit broadcasts: the plan must show
    BroadcastNestedLoopJoin (never CartesianProduct), independent of AQE
    inference."""
    for q in ("tfidf_top_terms", "bm25", "heavy_hitters"):
        plan = _plan(E.queries()[q](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, (q, plan)
        assert "BroadcastNestedLoopJoin" in plan, (q, plan)


def test_chunk_documents_zero_shuffle(spark):
    """Chunking is pure map-side: no Exchange anywhere in the plan."""
    from hdp_tez_spark.extensions.curation import chunk_documents

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(chunk_documents(docs, "doc_id", "text", 16, 12))
    # the only allowed exchange is the small-input spread repartition
    assert plan.count("Exchange") <= 1, plan


def test_heavy_hitters_candidates_broadcast(spark):
    """The Misra-Gries candidate set joins the token stream as a
    broadcast — the tail must never reach a shuffle."""
    df = E.queries()["heavy_hitters"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # token stream itself must not hash-exchange before the semi join
    assert "SortMergeJoin" not in plan


def test_exact_quantiles_no_global_sort_no_funnel(spark):
    """exact_quantiles must probe positions with a map-side literal
    filter over the distinct-value table (r10; previously a broadcast
    range join) — never globally sort the input or funnel it through a
    single-partition window, and never join at all in the probe."""
    from hdp_tez_spark.extensions.analytics import exact_quantiles

    li = load_table(spark, SF_SMOKE, "lineitem")
    df = exact_quantiles(li, "l_extendedprice", [0.5, 0.9])
    plan = _plan(df)
    # the probe is a Generate(explode(filter(literal array))) — no join
    # operator of any kind between the prefix-sum table and the hits
    assert "Generate explode" in plan  # the position probe
    assert "BroadcastNestedLoopJoin" not in plan
    # no join OPERATOR anywhere post-checkpoint — anchored to the real
    # physical operator names so an incidental "Join" substring in an
    # expression or RDD name can never mask a regression (ADVICE r10)
    for op in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
    ):
        assert op not in plan, (op, plan)
    # the only Sort allowed is the final ORDER BY p over |probs| rows and
    # range-partition local sorts; no global Sort of the value column
    # feeding a single partition: the checkpointed prefix-sum plan never
    # contains one by construction (windows partition by __pid).
    assert "rangepartitioning(l_extendedprice" not in plan.lower()


def test_bucketed_join_entry_no_join_exchange(spark):
    """The driver-checked bucketed_join query: both sides are pre-bucketed
    on the join key, so the join inputs are never hash-exchanged — the
    scans carry the bucket spec and the only exchange keys allowed in the
    plan are the final rollup's (o_orderpriority). At smoke scale AQE may
    replace the zero-exchange sort-merge with a broadcast of the tiny
    side; both satisfy the no-join-shuffle contract."""
    df = E.queries()["bucketed_join"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert plan.count("Bucketed: true") >= 2, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan


def test_zorder_jvm_only_no_python(spark):
    """The Morton interleave is pure integer column expressions — no
    Python evaluation node anywhere in the z-order plan."""
    from hdp_tez_spark.sources.layout import zorder_by

    part = load_table(spark, SF_SMOKE, "part")
    plan = _plan(zorder_by(part, ["p_size", "p_retailprice"], bits=8, partitions=4))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_merge_upsert_windows_changes_not_base(spark):
    """merge_upsert's window runs over the change batch only — the base
    table must reach the output through join/union alone."""
    df = E.queries()["merge_upsert"](spark, SF_SMOKE)
    plan = _plan(df)
    # the latest-wins window appears twice (Catalyst column-prunes the
    # anti-join branch to keys only rather than reusing the subtree) but
    # both instances sit over the FILTERED change scans; the base reaches
    # the output via broadcast anti-join + union, never an exchange.
    assert plan.count("Window [row_number()") == 2, plan
    assert "LeftAnti" in plan
    # window group limit pushes the rn=1 filter into the shuffle
    assert "WindowGroupLimit" in plan


def test_unpivot_single_expand_no_shuffle(spark):
    """UNPIVOT compiles to one map-side Expand and never shuffles."""
    df = E.queries()["unpivot"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Expand") == 1, plan
    assert "Exchange" not in plan, plan


def test_weighted_sample_uses_take_ordered(spark):
    """A-ES selection must compile to TakeOrderedAndProject (per-task
    top-n heaps) — never a global Sort followed by Limit."""
    df = E.queries()["weighted_sample"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan


def test_cms_build_partial_aggregates(spark):
    """The CMS build must partially aggregate before its one shuffle —
    heavy keys collapse map-side, the shuffle carries <= d*w cells per
    map partition."""
    from hdp_tez_spark.functions.text import tokenize
    from hdp_tez_spark.extensions.sketches import cms_build

    docs = load_table(spark, SF_SMOKE, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
    plan = _plan(cms_build(toks, "word", d=4, w=256))
    assert "partial_count" in plan or "partial_" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_profile_table_single_pass(spark):
    """Multi-column exact profile is ONE aggregation pass over the scan:
    a single Expand feeding one partial-agg shuffle chain (two exchanges
    for the two-phase distinct agg), and exactly one parquet scan."""
    df = E.queries()["profile_table"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_triangle_wedge_join_is_equi_not_nested_loop(spark):
    """The wedge build and closure joins must be equi-joins (hash or
    sort-merge) — a nested-loop there would be the all-pairs blowup the
    degree orientation exists to avoid. (BroadcastNestedLoopJoin appears
    ONLY as the final cross-join assembly of the three 1-row scalar
    aggregates, which is free by construction.)"""
    df = E.queries()["triangle_count"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    # the wedge self-join on the midpoint and the closure join on the
    # (x, y) endpoints both compile to keyed joins
    import re

    equi = re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[__", plan)
    assert len(equi) >= 2, plan
    # nested loops only ever join single-row aggregate legs (Cross type)
    for m in re.finditer(r"BroadcastNestedLoopJoin BuildRight, (\w+)", plan):
        assert m.group(1) == "Cross", plan


def test_point_in_time_join_is_hash_join_not_nested_loop(spark):
    """The validity predicate must ride a keyed equi-join, never a
    BroadcastNestedLoopJoin/CartesianProduct over facts x versions."""
    df = E.queries()["point_in_time_join"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_prefix_filter_join_no_cartesian(spark):
    """Candidate generation is the prefix-token equi-join; verification
    joins candidates back by (doc, token) — all equi, nothing nested-loop."""
    df = E.queries()["prefix_filter_join"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the sf1.0 OOM regression guard (r07): no STATIC broadcast build —
    # every join side here sits downstream of explode+distinct where
    # Catalyst's size estimate is garbage, so the broadcast call belongs
    # to AQE (runtime stats) only. AQE's converted joins don't appear in
    # the static plan, so asserting its absence pins exactly the
    # static-estimation decision that OOMed.
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastExchange" not in plan


def test_transition_counts_single_window_shuffle(spark):
    """One exchange for the keyed lag() window, one for the (src, dst)
    partial-aggregated groupBy — and the groupBy must partial-aggregate."""
    df = E.queries()["transition_counts"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_count" in plan or "HashAggregate" in plan


def test_grouped_ols_single_aggregation_pass(spark):
    """All five sufficient statistics ride ONE grouped aggregation —
    exactly one hash-partitioned exchange, with map-side partial sums."""
    df = E.queries()["grouped_ols"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_ewma_single_window_sort(spark):
    """All k lag() terms share one window sort: a single hash exchange
    on the key, no Python evaluation anywhere."""
    df = E.queries()["ewma"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan  # pure JVM expression tree


def test_binary_auc_no_global_window(spark):
    """Average ranks come from the range-partitioned prefix sum — the
    plan must not contain an empty-partition global window (the funnel)."""
    df = E.queries()["binary_auc"](spark, SF_SMOKE)
    plan = _plan(df)
    # Window.orderBy with no partitionBy renders as 'Window [...], [x ASC...]'
    # after an Exchange SinglePartition over the FULL data; the offsets
    # table (one row per range partition) is the only single-partition hop.
    # Since the r10 dual-instantiation fix, prefix_sum pins its
    # range-partitioned scan with a lazy localCheckpoint, so the range
    # exchange lives INSIDE the checkpointed RDD and the downstream plan
    # shows a Scan ExistingRDD instead of the rangepartitioning string.
    assert "rangepartitioning" in plan or "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_embedding_covariance_partial_merge(spark):
    """The d x d partials merge through a partial-aggregated groupBy;
    the Arrow pass is the only Python stage."""
    df = E.queries()["embedding_covariance"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "MapInPandas" in plan
    assert "partial_sum" in plan


def test_ann_recall_eval_join_is_hash_not_nested_loop(spark):
    """The recall eval joins two k-bounded top-k tables on
    (query_id, neighbor_id) — an equi-join that must plan as a hash
    join. The only nested-loop allowed in the whole query is the ANN
    inputs' own broadcast query-cross (their documented scale shape)."""
    from hdp_tez_spark.extensions.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11)], "query_id long, neighbor_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99)], "query_id long, neighbor_id long"
    )
    plan = _plan(ann_recall(exact, approx))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "Join" in plan  # the equi-join survived (not rewritten away)


def test_bfs_frontier_join_is_equi(spark):
    from hdp_tez_spark.extensions.graph import bfs_distances

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    sources = spark.createDataFrame([(1,)], "node int")
    df = bfs_distances(edges, sources, max_hops=2)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ohlc_single_aggregation_no_window(spark):
    """open/close ride min_by/max_by partials inside ONE grouped agg —
    the plan must contain no Window operator and partial aggregates."""
    df = E.queries()["ohlc_downsample"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Window" not in plan
    assert "partial" in plan.lower()


def test_golden_record_single_aggregation(spark):
    df = E.queries()["golden_record"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_rolling_zscore_one_window_sort(spark):
    df = E.queries()["rolling_zscore"](spark, SF_SMOKE)
    plan = _plan(df)
    # both frame aggregates share one Window over one exchange
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_winsorize_broadcasts_bounds_table(spark):
    df = E.queries()["winsorize"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan  # |keys|-row bounds side
    assert "CartesianProduct" not in plan


def test_chi_square_single_raw_scan_shape(spark):
    """Marginals derive from the checkpointed cell table: the final
    plan reads ONLY the |r x c|-row checkpoint (ExistingRDD), never the
    raw parquet — the raw scan happened exactly once, at checkpoint
    materialization."""
    df = E.queries()["chi_square"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_ab_ttest_single_aggregation_pass(spark):
    df = E.queries()["ab_ttest"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_gaps_islands_reuses_window_partitioning(spark):
    """The island-collapse groupBy must reuse the window's hash
    partitioning — one exchange total, not two."""
    df = E.queries()["gaps_islands"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2  # distinct + window/agg
    assert "Window" in plan


def test_bucketed_interval_join_is_equi_not_nested_loop(spark):
    """The no-equi-key point-in-interval join must plan as a bucket
    equi-join (hash/sort-merge on __bucket), never a nested loop or
    cartesian over points x windows."""
    df = E.queries()["incident_window_join"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_k_anonymity_single_hash_exchange(spark):
    """Quasi-identifier groupBy is the only hash exchange (the 1-row
    rollup rides an Exchange SinglePartition); both aggregates are
    partial-aggregated and nothing row-shaped passes the first."""
    df = E.queries()["k_anonymity"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 1  # rollup is 1-partition
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Python" not in plan


def test_woe_iv_single_grouped_pass_with_broadcast_totals(spark):
    """Category stats ride one grouped aggregation; the totals come back
    as a broadcast join, not a second corpus shuffle."""
    df = E.queries()["woe_iv"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Python" not in plan


def test_rrf_fusion_no_corpus_shuffle_after_candidates(spark):
    """Fusion runs over two top-20 candidate lists: no cartesian
    product, and the rank windows stay JVM-side."""
    df = E.queries()["rrf_fusion"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_pca_project_zero_shuffle(spark):
    """Projection onto a fixed component is a pure map: no exchange of
    any kind in the plan."""
    from hdp_tez_spark.extensions.similarity import pca_project

    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = pca_project(emb, [0.125] * 64, mu=[0.0] * 64)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_random_project_zero_shuffle(spark):
    """The JL projection is a broadcast-joined map: no hash or range
    exchange anywhere in the plan."""
    from hdp_tez_spark.extensions.similarity import random_project

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(random_project(emb, out_dim=8))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Python" not in plan


def test_grouped_auc_reuses_group_exchange(spark):
    """The within-group rank window and the per-group aggregate share the
    group key, so the plan carries ONE hash exchange on it (plus the
    cells groupBy's own exchange on (group, score))."""
    from hdp_tez_spark.extensions.analytics import grouped_auc

    df = spark.createDataFrame(
        [("g", 0.1, 1), ("g", 0.2, 0)], "g string, s double, y int"
    )
    plan = _plan(grouped_auc(df, ["g"], "s", "y"))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan


def test_bootstrap_ci_explosion_never_crosses_exchange(spark):
    """The b-replica explode feeds a map-side partial aggregate: walking
    from the Generate toward the root, a HashAggregate (partial, keyed
    on the replica index) must appear BEFORE the first Exchange, so each
    partition collapses to b rows before anything crosses the wire. The
    draw chain must also stay out of the scan: the r10 transform-based
    variant let InferFiltersFromGenerate push a size(transform(...))>0
    predicate into the scan filter, re-evaluating 8*b md5 per input row
    interpreted (measured 290s at sf0.1) — no Filter condition may
    mention the hash chain."""
    from hdp_tez_spark.extensions.experiments import bootstrap_ci

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double")
    out = bootstrap_ci(df, "id", "v", b=8)
    plan = _plan(out)
    lines = plan.splitlines()
    gen_line = next(
        (i for i, l in enumerate(lines) if "Generate" in l and "(" in l),
        None,
    )
    assert gen_line is not None, f"no Generate node in plan:\n{plan}"
    # formatted plans print top-down, so walking to smaller indices walks
    # toward the root; nearest HashAggregate must precede nearest Exchange
    agg_up = exch_up = None
    for off, l in enumerate(reversed(lines[:gen_line])):
        if agg_up is None and "HashAggregate" in l:
            agg_up = off
        if exch_up is None and "Exchange" in l:
            exch_up = off
    assert agg_up is not None and exch_up is not None, plan
    assert agg_up < exch_up, plan
    for l in lines:
        if "Condition" in l:
            assert "md5" not in l and "conv(" not in l, l


def test_bootstrap_ci_weight_ladder_is_branch_free(spark):
    """The Poisson inverse-CDF must stay a flat sum of comparisons: the
    8-deep nested CASE ladder, times b=32 replicas, overflowed janino's
    method limits so whole-stage codegen hard-failed and the whole corpus
    pass silently ran interpreted (r05 review finding). A CASE WHEN in
    the weight projection is the regression signature."""
    from hdp_tez_spark.extensions.experiments import bootstrap_ci

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double")
    out = bootstrap_ci(df, "id", "v", b=32)
    # default maxToStringFields truncates the 32 weight expressions out
    # of the plan string — raise it so the ladder is actually visible
    old = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
    try:
        plan = out._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set("spark.sql.debug.maxToStringFields", old)
    start = plan.find("conv(")
    assert start != -1, plan[:2000]
    assert "CASE WHEN" not in plan[start:], plan[start : start + 2000]


def test_importance_sample_is_scalar_broadcast_plus_map_filter(spark):
    """The corpus must collapse to ONE (n, sum-of-weights) row that is
    broadcast back: no row-shaped hash shuffle anywhere, and the score
    filter reaches the scan. The regression shape is a hashpartitioning
    Exchange (someone keyed the normalizer) or a row-shaped join."""
    from hdp_tez_spark.extensions.curation import importance_sample

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    out = importance_sample(df, "doc_id", "n_chars", 2.0, 0.2)
    plan = _plan(out)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange IdentityBroadcastMode" in plan, plan
    assert "PushedFilters: [IsNotNull(n_chars)]" in plan, plan


def test_mixture_weights_single_domain_shuffle(spark):
    """One map-side-combined groupBy is the only data-shaped shuffle;
    the total-token window runs over the |domains|-row aggregate, never
    the corpus (a corpus-wide unpartitioned window would be a funnel)."""
    from hdp_tez_spark.extensions.curation import mixture_weights

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = mixture_weights(df, "source", "n_chars", {"src0": 1.0}, 1000)
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "partial_count" in plan, plan  # map-side combine before shuffle
    # the window's Sort/Exchange sits ABOVE the aggregate in the plan
    # (consumes |domains| rows), so the aggregate appears after Window;
    # Window must actually be present or the < check passes vacuously
    assert "Window" in plan, plan
    assert plan.find("Window") < plan.rfind("HashAggregate"), plan


def test_apply_mixture_broadcasts_rates_single_shuffle(spark):
    """The executed mix keeps the planner's shape: one hash shuffle (the
    per-domain groupBy) and the |domains|-row rate table joins back via
    BroadcastHashJoin — never a sort-merge join or a second corpus
    shuffle."""
    from hdp_tez_spark.extensions.curation import apply_mixture

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    out = apply_mixture(
        df, "source", "n_chars", "doc_id", {"src0": 1.0}, 1000
    )
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_ngram_novelty_tokenizes_once(spark):
    """The (id, shingle-hash) set is checkpointed before fanning out to
    the count branch and the join branch: the final plan must contain NO
    shingle explode (it ran once at checkpoint time) and exactly one
    parquet scan (the outer-join id side). Two Generates = the corpus
    tokenize running twice, the r05 review anti-pattern."""
    from hdp_tez_spark.extensions.dedup import ngram_novelty

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    out = ngram_novelty(df, "doc_id", "text")
    plan = _plan(out)
    assert plan.count("Generate explode") == 0, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_rank_tests_scan_raw_input_once(spark):
    """mann_whitney / ks_test checkpoint their distinct-value cells, so
    the final plan must contain ZERO parquet scans (the raw input was
    scanned exactly once at checkpoint time) — every consumer (prefix
    chain, totals) reads the materialized cells. A FileScan reappearing
    means a consumer re-derives cells from raw rows, the r05 review
    anti-pattern."""
    from hdp_tez_spark.extensions.experiments import ks_test, mann_whitney

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderstatus", "o_totalprice"
    )
    for out in (
        mann_whitney(orders, "o_orderstatus", "o_totalprice", "F", "O"),
        ks_test(orders, "o_orderstatus", "o_totalprice", "F", "O"),
    ):
        plan = _plan(out)
        assert plan.count("FileScan parquet") == 0, plan
        assert "Scan ExistingRDD" in plan, plan


def test_bloom_decontaminate_verification_join_stays_sort_merge(spark):
    """The exact-verification join against the eval hash set is
    merge-pinned: e_hash grows with the eval corpus (the one input the
    bitmap's m_bits cap does not bound), and its broadcast build is
    what OOMed the r09 sf1.0 full-registry sweep once the shared
    driver heap was ~200 queries deep. The hint must survive into the
    plan at every scale (it is honored through AQE replans)."""
    df = E.queries()["bloom_decontaminate"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
