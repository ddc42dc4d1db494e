"""Reliable-checkpoint path of the iterative operators.

`plans/checkpoints.truncate_lineage` falls back to `localCheckpoint`
(sandbox default, covered by every other test in the suite); these tests
pin the RELIABLE branch: a SparkContext checkpoint dir — the one switch,
`spark.checkpoint.dir` / `sc.setCheckpointDir` — must (a) produce
bit-identical results and (b) actually write checkpoint data under the
directory — the property a 1000-executor job depends on to survive
executor loss mid-iteration (Tez analogue: re-fetchable PERSISTED edge
output, `tez-api/.../dag/api/EdgeProperty.java:71-77`).

The checkpoint dir is session state, so the `ckpt_dir` fixture sets it
and resets it afterwards; tests that need a LOCAL baseline compute it
before requesting the fixture.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hdp_tez_spark.plans.checkpoints import LoopCheckpointer, truncate_lineage


@pytest.fixture()
def ckpt_dir(spark):
    d = tempfile.mkdtemp(prefix="hdp_tez_ckpt_")
    spark.sparkContext.setCheckpointDir(d)
    yield d
    # restore the default (no checkpoint dir) so other tests keep the
    # localCheckpoint fast path, then clean up
    spark.sparkContext._jsc.sc().setCheckpointDir(None)
    shutil.rmtree(d, ignore_errors=True)


def _files_under(d: str) -> list[str]:
    return [f for _, _, fs in os.walk(d) for f in fs]


def test_truncate_lineage_reliable_branch_writes_files(spark, ckpt_dir):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = truncate_lineage(df)
    assert out.count() == 100
    assert _files_under(ckpt_dir), "reliable checkpoint wrote nothing"


def test_truncate_lineage_uses_context_configured_dir(spark, ckpt_dir):
    """The mode follows the LIVE context dir: set -> files under it;
    cleared -> back to localCheckpoint, nothing new written."""
    assert truncate_lineage(spark.range(10)).count() == 10
    n_reliable = len(_files_under(ckpt_dir))
    assert n_reliable, "context-configured dir was not used"
    spark.sparkContext._jsc.sc().setCheckpointDir(None)
    assert truncate_lineage(spark.range(10)).count() == 10
    assert len(_files_under(ckpt_dir)) == n_reliable, (
        "cut stayed reliable after the context dir was cleared"
    )


def test_iterative_ops_reliable_match_local(spark, request):
    """connected_components / pagerank / bfs / prefix_filter_join /
    k_core under a reliable checkpoint dir produce bit-identical results
    to the localCheckpoint path. ALL local baselines run before the
    fixture switches the context to reliable cuts."""
    from hdp_tez_spark.extensions.dedup import (
        connected_components,
        prefix_filter_join,
    )
    from hdp_tez_spark.extensions.graph import bfs_distances, k_core, pagerank

    cc_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    pr_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox leaps"),
            (3, "completely different words entirely here"),
        ],
        "doc_id long, text string",
    )
    # triangle 1-2-3 plus a tail 3-4-5: the 2-core peels 5, then 4
    kc_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "a long, b long"
    )

    def run():
        return (
            {(r.node, r.label) for r in connected_components(cc_edges).collect()},
            {(r.node, r.rank) for r in pagerank(pr_edges, iters=3).collect()},
            {(r.node, r.dist) for r in bfs_distances(pr_edges, srcs).collect()},
            {
                (r.id_a, r.id_b, r.jaccard)
                for r in prefix_filter_join(docs, "doc_id", "text", 0.5).collect()
            },
            {(r.node, r.degree) for r in k_core(kc_edges, k=2).collect()},
        )

    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    cc_local, pr_local, bfs_local, ppj_local, kc_local = run()
    ckpt_dir = request.getfixturevalue("ckpt_dir")
    cc_rel, pr_rel, bfs_rel, ppj_rel, kc_rel = run()

    assert cc_rel == cc_local == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert pr_rel == pr_local
    assert bfs_rel == bfs_local == {(1, 0), (2, 1), (3, 2), (4, 3)}
    assert ppj_rel == ppj_local and {p[:2] for p in ppj_local} == {(1, 2)}
    assert kc_rel == kc_local == {(1, 2), (2, 2), (3, 2)}
    assert _files_under(ckpt_dir)


def test_lazy_reliable_checkpoint_does_not_pin_cache(spark, ckpt_dir):
    """eager=False must not leave a persisted dataset behind (the r05
    review leak): the lazy path skips the persist entirely, so the
    session's pinned-RDD census cannot GROW across the call."""
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = truncate_lineage(spark.range(50), eager=False)
    assert out.count() == 50
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before, f"lazy path pinned {after - before} datasets"


def test_eager_reliable_cut_of_small_aggregate_runs_once(spark, ckpt_dir):
    """An eager reliable cut computes and writes its data in one pass:
    a Python UDF after the aggregate sees each of the N rows once, not
    2N. Nothing caches the plan around the checkpoint, so AQE coalesces
    the shuffle and the cut writes a few partitions, not the 512 the
    session starts every shuffle at."""
    seen = spark.sparkContext.accumulator(0)
    tally = F.udf(lambda k: seen.add(1) or k, "long")
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    out = truncate_lineage(df.select(tally("k").alias("k")))
    assert seen.value == 7
    assert out.rdd.getNumPartitions() <= 4 * spark.sparkContext.defaultParallelism
    assert sorted(r.k for r in out.collect()) == list(range(7))
    assert _files_under(ckpt_dir)


def test_loop_checkpointer_releases_previous_rounds(spark):
    """Each cut frees the previous round's localCheckpoint blocks: six
    rounds leave at most the final cut pinned (r10: 2.5 GB stayed
    pinned after one x100-edge graph operator without the release)."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    lc = LoopCheckpointer()
    df = spark.range(10).withColumnRenamed("id", "v")
    for _ in range(6):
        df = lc.cut(df.withColumn("v", F.col("v") + 1))
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert sorted(r.v for r in df.collect()) == list(range(6, 16))
