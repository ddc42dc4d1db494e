"""Lineage truncation for iterative DataFrame algorithms.

Every iterative operator in this engine (connected components, PageRank,
BFS, the PPJoin candidate pipeline) must cut its logical plan once per
round or the plan grows without bound. Two ways to cut it:

- `localCheckpoint()` — blocks cached on executor local storage. Fast
  (no DFS write) but NOT fault-tolerant: losing an executor loses its
  blocks, and because the lineage was truncated Spark cannot recompute
  them — the job dies mid-iteration. Fine for a sandbox or short jobs.
- `checkpoint()` to a reliable directory (HDFS/S3/DBFS) — survives
  executor loss; the job resumes from the persisted round. This is the
  right mode for a 1000-executor cluster where SOME executor dying
  during a 40-round job is the expected case, not the edge case.

Reference parity: Tez models the same choice on the edge — an ephemeral
output served by the producer vs a re-fetchable `PERSISTED` /
`PERSISTED_RELIABLE` edge output that survives container loss
(`tez-api/.../dag/api/EdgeProperty.java:71-77`).

`truncate_lineage` picks from ONE switch, the SparkContext's checkpoint
dir: when it is set, every cut is a reliable checkpoint; otherwise it
falls back to `localCheckpoint`. A cluster deployment therefore sets it
once — `--conf spark.checkpoint.dir=hdfs://...` at submit time (Spark
reads it at startup), or `sc.setCheckpointDir("hdfs://...")` — and every
iterative operator in the engine becomes fault-tolerant, with zero code
changes. There is no per-operator location: reliability is a deployment
setting, like the reference's edge persistence.

Chained cuts and the size estimate. A cut's output is a `LogicalRDD`
whose statistics Spark copies from the plan it cut
(`LogicalRDD.fromDataset` -> `rewriteStatsAndConstraints`), so the
estimate survives any number of cuts. Without column statistics a join
is estimated by `SizeInBytesOnlyStatsPlanVisitor` as the PRODUCT of its
children's `sizeInBytes` (a BigInt). A round that joins the cut state
with itself therefore squares the estimate: its digit count doubles per
round, and from about round 17 the BigInteger multiply alone costs 0.2,
0.5, 1.2, 3, 8, 21, 57 s per round (15k-row self-join chain, Spark
4.1.2; jstack sits in `BigInteger.multiplyToomCook3`). That is the
"geometric chained-checkpoint slowdown" SCALE.md r08 recorded — the r08
connected_components joined its label map with itself to pointer-jump.
Joining the state with a fixed table (edges, degrees, node set) only
ADDS that table's digits per round, which stays cheap for any round
count. So the one condition every loop here keeps, and every new loop
must keep: **a round never joins the cut state with itself.**
`tests/test_deep_graph_convergence.py` gates it on the estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut `df`'s lineage: reliable `checkpoint` when the SparkContext
    has a checkpoint dir, `localCheckpoint` otherwise — one Spark call
    either way.

    `eager=True` materializes immediately — iterative loops rely on this
    so each round runs exactly one pass (convergence metrics observe the
    materialization). An eager `Dataset.checkpoint` computes and writes
    the data in the same pass, so nothing is cached around it: a persist
    would only add a job and freeze the cached plan's output partitioning
    (AQE may not coalesce a cached plan), writing `initialPartitionNum`
    = 512 files per reliable cut however few rows it holds.

    Every eager cut runs under `session.coalesce_floor`: the cut IS the
    per-round job of every iterative operator, and those jobs shuffle
    narrow (long, long) rows that compress ~10x — AQE's byte-based
    coalescing under-partitions their deserialized volume (measured r10:
    label_propagation at x100 edges, 16-task rounds, 125 GB spill; floor
    128 -> ZERO spill at half the wall, SCALE.md). Scoping the floor
    here gives every loop the fix without touching operators and leaves
    ordinary one-shot queries on the default coalescing.
    """
    reliable = df.sparkSession.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    cut = df.checkpoint if reliable else df.localCheckpoint
    if not eager:
        return cut(eager=False)
    from hdp_tez_spark.session import coalesce_floor

    with coalesce_floor(df.sparkSession):
        return cut(eager=True)


class LoopCheckpointer:
    """Per-round lineage truncation for ITERATIVE DataFrame loops
    (connected components, PageRank, BFS, BPE training): each `cut` is a
    `truncate_lineage` that also frees the previous round's blocks.

    Chaining cuts round after round is cheap as long as the round does
    not join the cut state with itself (module docstring); one instance
    per state, because each `cut` releases its own previous cut.

    Usage::

        lc = LoopCheckpointer()
        for ...:
            state = lc.cut(new_state)   # once per round
    """

    def __init__(self) -> None:
        self._prev: DataFrame | None = None  # last cut, for block release

    def _release_prev(self, new_df: DataFrame) -> None:
        """Free the PREVIOUS round's checkpoint blocks. Safe the moment
        the new cut has materialized: every cut is EAGER and truncates
        lineage, so round N's blocks are never ancestors of round N+1's
        data. Without this, a long loop pins every round's
        MEMORY_AND_DISK blocks until the JVM happens to GC the
        Python-side references (measured r10: 2.5 GB of storage memory
        left pinned after one x100-edge graph operator, squeezing the
        unified pool for everything after it). The FINAL cut is never
        released — the caller's result reads from it.

        NOTE `Dataset.unpersist()` is the WRONG tool here and is a
        silent no-op: localCheckpoint blocks belong to the Dataset's
        internal checkpointed RDD (persisted inside
        Dataset.localCheckpoint), not to the CacheManager that
        unpersist() talks to — measured r10: 348 MB of blocks untouched
        by unpersist(), freed completely by unpersisting the LogicalRDD
        accessor below. Best-effort: a plan that is not LogicalRDD-backed
        raises and is skipped — release is an optimization, never
        correctness."""
        if self._prev is not None:
            try:
                self._prev._jdf.queryExecution().analyzed().rdd().unpersist(
                    False
                )
            except Exception:
                pass
        self._prev = new_df

    def cut(self, df: DataFrame) -> DataFrame:
        """Truncate one round's lineage; call exactly once per round.
        Eager — attached `observe` metrics ride the job."""
        out = truncate_lineage(df)
        self._release_prev(out)
        return out
