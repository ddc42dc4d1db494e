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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Every RESET_EVERY-th LoopCheckpointer cut is a parquet round-trip
# instead of a checkpoint (see LoopCheckpointer).
RESET_EVERY = 8


def _context_dir(spark) -> str | None:
    """The SparkContext's checkpoint dir (the one reliability switch),
    or None when the session runs on local checkpoints."""
    live = spark.sparkContext._jsc.sc().getCheckpointDir()
    return live.get() if live.isDefined() else None


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut `df`'s lineage: reliable `checkpoint` when the SparkContext
    has a checkpoint dir, `localCheckpoint` otherwise.

    `eager=True` materializes immediately — iterative loops rely on this
    so each round runs exactly one pass (convergence metrics observe the
    materialization). The reliable branch persists the input around an
    EAGER checkpoint to avoid the un-persisted double-compute; with
    `eager=False` there is no safe point to release such a cache, so the
    lazy reliable path accepts the one recompute instead of leaking a
    pinned dataset per call.

    Every eager cut runs under `session.coalesce_floor`: the cut IS the
    per-round job of every iterative operator, and those jobs shuffle
    narrow (long, long) rows that compress ~10x — AQE's byte-based
    coalescing under-partitions their deserialized volume (measured r10:
    label_propagation at x100 edges, 16-task rounds, 125 GB spill; floor
    128 -> ZERO spill at half the wall, SCALE.md). Scoping the floor
    here gives every loop the fix without touching operators and leaves
    ordinary one-shot queries on the default coalescing.
    """
    from hdp_tez_spark.session import coalesce_floor

    if eager:
        with coalesce_floor(df.sparkSession):
            return _truncate_lineage_inner(df, eager)
    return _truncate_lineage_inner(df, eager)


def _truncate_lineage_inner(df: DataFrame, eager: bool) -> DataFrame:
    if _context_dir(df.sparkSession) is None:
        return df.localCheckpoint(eager=eager)
    if not eager:
        # lazy reliable checkpoint: no persist — see docstring
        return df.checkpoint(eager=False)
    # Persist before an eager reliable checkpoint: RDD.checkpoint
    # materializes through the action's job and then RECOMPUTES the whole
    # lineage in the checkpoint-writing pass unless the data is cached —
    # the classic un-persisted-checkpoint double-compute. The cache is
    # dropped as soon as the checkpoint files hold the data.
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    out = df.checkpoint(eager=True)
    df.unpersist()
    return out


class LoopCheckpointer:
    """Per-round lineage truncation for ITERATIVE DataFrame loops
    (connected components, PageRank, BFS, BPE training).

    Why not just `truncate_lineage` per round: Dataset.localCheckpoint /
    checkpoint cost grows GEOMETRICALLY with the depth of the
    checkpoint-built-on-checkpoint chain in Spark 4.1 — measured r08 on
    a constant 15k-row labels table with an identical plan every round:
    rounds 0-14 ~0.25s, then ~2.5x per round (round 22: 70s; round 30
    would be hours). Reliable `checkpoint()` shows the same curve, and a
    plain `count()` on the same plans stays flat at 0.25s — so it is the
    checkpoint machinery, not the job, and not lineage recompute (plans
    and RDD debug strings stay flat; post-checkpoint reads are instant).
    Any loop deep enough walks into it: a connected-components pass over
    a near-critical similarity graph (the sf1.0 semantic-dedup graph
    needs ~22 propagate+jump rounds), or a 20-merge BPE run.

    Fix (measured flat through 40 rounds): every ``RESET_EVERY``-th cut
    is a parquet ROUND-TRIP through a double buffer — a file scan has no
    RDD ancestry, so the chain the checkpoint machinery walks never
    exceeds ``RESET_EVERY``; the other rounds keep the cheap
    `truncate_lineage` path (localCheckpoint, or reliable checkpoint
    when the context has a checkpoint dir).

    Spill location: the SparkContext's checkpoint dir, else a
    driver-local temp dir — the same switch as `truncate_lineage`
    (driver-local paths are only correct in local mode; a real cluster
    configures a DFS checkpoint dir once and every loop spill follows
    it automatically).

    Usage — the ``with`` block deletes the spill dir on every exit,
    including a loop that raises::

        with LoopCheckpointer(df.sparkSession, "cc") as lc:
            for ...:
                state = lc.cut(new_state)   # once per round
            return lc.finish(state)         # cuts file deps, rm spill
    """

    def __init__(self, spark, label: str) -> None:
        import uuid

        self._spark = spark
        self._rounds = 0
        self._writes = 0
        self._base: str | None = None  # resolved lazily, only if needed
        self._label = label
        self._token = uuid.uuid4().hex[:8]
        self._prev: DataFrame | None = None  # last cut, for block release

    def __enter__(self) -> LoopCheckpointer:
        return self

    def __exit__(self, *exc) -> None:
        self.cleanup()

    def _release_prev(self, new_df: DataFrame | None) -> None:
        """Free the PREVIOUS round's checkpoint blocks. Safe the moment
        the new cut has materialized: every cut is EAGER and
        self-contained (localCheckpoint truncates lineage; the parquet
        buffer is a file scan), so round N's blocks are never ancestors
        of round N+1's data. Without this, a long loop pins every
        round's MEMORY_AND_DISK blocks until the JVM happens to GC the
        Python-side references (measured r10: 2.5 GB of storage memory
        left pinned after one x100-edge graph operator, squeezing the
        unified pool for everything after it).

        NOTE `Dataset.unpersist()` is the WRONG tool here and is a
        silent no-op: localCheckpoint blocks belong to the Dataset's
        internal checkpointed RDD (persisted inside
        Dataset.localCheckpoint), not to the CacheManager that
        unpersist() talks to — measured r10: 348 MB of blocks untouched
        by unpersist(), freed completely by unpersisting the LogicalRDD
        accessor below. Best-effort: a plan that is not LogicalRDD-backed
        (reliable-checkpoint branch, file scans) raises and is skipped —
        release is an optimization, never correctness."""
        if self._prev is not None:
            try:
                self._prev._jdf.queryExecution().analyzed().rdd().unpersist(
                    False
                )
            except Exception:
                pass
        self._prev = new_df

    def _resolve_base(self) -> str:
        if self._base is None:
            base = _context_dir(self._spark)
            if base is None:
                import tempfile

                # the mkdtemp dir is already unique — use it directly so
                # cleanup removes everything we created
                self._base = tempfile.mkdtemp(prefix="spark-loop-spill-")
            else:
                self._base = f"{base}/spill-{self._label}-{self._token}"
        return self._base

    def _buffer(self, i: int) -> str:
        return f"{self._resolve_base()}/buf-{i % 2}"

    def cut(self, df: DataFrame) -> DataFrame:
        """Truncate one round's lineage; call exactly once per round.
        Eager either way — attached `observe` metrics ride the job."""
        self._rounds += 1
        if self._rounds % RESET_EVERY != 0:
            out = truncate_lineage(df)
            self._release_prev(out)
            return out
        path = self._buffer(self._writes)
        self._writes += 1
        from hdp_tez_spark.session import coalesce_floor

        with coalesce_floor(self._spark):
            df.write.mode("overwrite").parquet(path)
        out = self._spark.read.parquet(path)
        # a file scan holds no blocks; release the previous cut's and
        # track nothing (unpersist on a scan would be a no-op anyway)
        self._release_prev(None)
        return out

    def finish(self, df: DataFrame) -> DataFrame:
        """Detach `df` from the spill files (one checkpoint on a flat,
        at-most-``RESET_EVERY``-deep plan — cheap) and delete them.
        The FINAL cut's blocks are intentionally NOT released — the
        caller's returned DataFrame reads from them."""
        if self._writes:
            df = truncate_lineage(df)
        # df either IS the tracked final cut or was just re-cut from the
        # parquet buffer; either way drop tracking without unpersisting
        # the data the caller is about to read.
        self._prev = None
        self.cleanup()
        return df

    def cleanup(self) -> None:
        """Delete the spill dir (Hadoop FS — works for file:/hdfs:/s3a:).
        Idempotent: the ``with`` exit calls it again after `finish`."""
        if self._base is None or not self._writes:
            self._base = None
            return
        sc = self._spark.sparkContext
        jvm = sc._jvm
        path = jvm.org.apache.hadoop.fs.Path(self._base)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        fs.delete(path, True)
        self._base = None
        self._writes = 0
