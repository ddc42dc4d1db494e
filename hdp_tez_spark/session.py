"""SparkSession factory with a scale-tuned configuration profile.

The reference engine (Apache Tez 0.7.1) performs all of its physical
optimization at *runtime*: ShuffleVertexManager re-computes downstream
parallelism from observed output sizes
(`tez-runtime-library/.../vertexmanager/ShuffleVertexManager.java:557-618`,
desired task input 100 MB :108-111), split grouping bin-packs input splits
into 50 MB..1 GB tasks (`TezMapReduceSplitsGrouper.java:79-91`), and
containers are reused across tasks (`TezConfiguration.java:731-733`).

Spark equivalents are configured here once, declaratively:

- AQE (`spark.sql.adaptive.*`)      == ShuffleVertexManager auto-parallelism
- advisoryPartitionSizeInBytes=100m == desired reduce input of 100 MB
- files.maxPartitionBytes           == grouped split max size
- resident executors                == container reuse (built-in)
- autoBroadcastJoinThreshold        == the manual `doBroadcast` flag in
  `tez-examples/.../HashJoinExample.java:78,218-236`, decided by Catalyst
  instead of the user.

At 100 TB the same profile holds: AQE coalesces / splits shuffle partitions
from runtime statistics exactly the way ShuffleVertexManager rewires
partitions, and skew-join handling replaces manual salting for the common
cases.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tez's desired reduce-task input is 100 MB (ShuffleVertexManager.java:108-111).
_ADVISORY_PARTITION_BYTES = str(100 * 1024 * 1024)
# Tez groups input splits up to 1 GB (TezMapReduceSplitsGrouper.java:85).
# 128 MB is the Spark-idiomatic default and the better choice for Parquet.
_MAX_PARTITION_BYTES = str(128 * 1024 * 1024)
# Every shuffle starts at 512 partitions and AQE coalesces down (see
# tuned_builder); the r11 A/B of 64/128/512 kept 512 (BENCH_NOTES r11).
_INITIAL_SHUFFLE_PARTITIONS = "512"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def tuned_builder(app_name: str = "hdp-tez-spark") -> SparkSession.Builder:
    """Return a SparkSession.Builder carrying the engine's tuning profile.

    Callers may further override confs before `.getOrCreate()`.
    """
    cpus = default_parallelism()
    return (
        SparkSession.builder.appName(app_name)
        # --- runtime re-planning (ShuffleVertexManager parity) -----------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            _ADVISORY_PARTITION_BYTES,
        )
        # --- input split sizing (TezMapReduceSplitsGrouper parity) -------
        .config("spark.sql.files.maxPartitionBytes", _MAX_PARTITION_BYTES)
        # --- task memory (TezConfiguration.java:543-559 sets task/AM memory
        #     explicitly; Spark's local-mode default is a 1 GiB driver JVM,
        #     which all 32 concurrent local tasks share and which the graph
        #     wedge joins can exhaust). 2 GiB measured best here: enough
        #     headroom for the heaviest operator, while 8 GiB's larger G1
        #     young gen slowed the short-task queries 1.3-2x. This and the
        #     cleaner setting below are only effective when the builder
        #     launches the JVM (first session in the process); on a cluster
        #     spark-submit owns executor memory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"))
        # --- reliable checkpoint files -----------------------------------
        # Delete a reliable checkpoint's files once no RDD references it.
        # Spark keeps them for the life of the session by default (the
        # sf0.01 reliable sweep left 459 MB in 133 rdd-* dirs). Acts only
        # when a checkpoint dir is set (plans/checkpoints.py).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # --- shuffle sizing ----------------------------------------------
        # Static fallback; AQE coalesces below this at runtime. On a real
        # cluster this should be ~2-3x total cores (set via spark-submit).
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # AQE can only coalesce DOWN from the initial partition count, so
        # a heavy shuffle at shuffle.partitions=32 gets ~N/32-row sort
        # tasks regardless of N — measured failure at the x30-docs
        # containment probe: 375M join rows / 32 tasks spilled thousands
        # of files per sort and the merge OOMed opening their 1 MB
        # readers (UnsafeSorterSpillReader). Starting every shuffle at
        # 512 and letting AQE coalesce to the 100 MB advisory keeps
        # small queries at few post-coalesce partitions (no overhead
        # measured at sf0.1) while bounding per-task sort volume on the
        # heavy ones — the exact ShuffleVertexManager desired-task-input
        # behavior this profile exists to mirror.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            _INITIAL_SHUFFLE_PARTITIONS,
        )
        # --- python <-> JVM transfer is always Arrow-batched --------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism for oracle comparisons ---------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # --- status-store retention ---------------------------------------
        # The in-memory AppStatusStore tracks every job/stage/task even with
        # the UI off (metrics.py reads it). The defaults retain 1000 stages
        # + 100k tasks + 1000 SQL executions; over a 100+ query session that
        # accumulation measurably degrades later queries (GC pressure in the
        # shared local JVM). Cap retention well above any single query's
        # needs; TaskMetricsCollector tolerates eviction (monotone cache).
        .config("spark.ui.retainedJobs", "300")
        .config("spark.ui.retainedStages", "500")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "50")
        # Periodic JVM GC so ContextCleaner's weak references actually fire
        # and release dropped localCheckpoint/broadcast blocks during long
        # multi-query sessions (default is 30 min — longer than the run).
        .config("spark.cleaner.periodicGC.interval", "2min")
    )


def get_session(app_name: str = "hdp-tez-spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) the engine session.

    `master` defaults to local[$SPARK_GRAFT_CPUS] when not attached to a
    cluster; on a real deployment spark-submit supplies the master and this
    argument stays None.
    """
    b = tuned_builder(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        b = b.master(master)
    return b.getOrCreate()


def warm_up(spark: SparkSession) -> SparkSession:
    """Pre-warm the session before latency-sensitive work — PreWarmVertex
    parity (`tez-api/.../dag/api/PreWarmVertex.java:54-125`,
    `SimpleSessionExample.java`): Tez sessions launch throwaway tasks so
    containers/JVMs are hot when the first real DAG arrives. Spark's
    executors are already resident; what still pays first-run cost is
    codegen/classloading and the Python worker pool, so the warm-up runs
    one tiny shuffle + one tiny Arrow batch through the machinery.

    Idempotent and cheap (~100 ms); returns the same session for chaining.
    Session reuse note: `get_session` already `getOrCreate`s, so repeated
    engine calls share one warm JVM — the analogue of Tez session mode
    re-submitting DAGs to a live AM.
    """
    from pyspark.sql import functions as F

    spark.range(0, 1000, numPartitions=2).groupBy(
        (F.col("id") % 10).alias("k")
    ).count().count()
    return spark


from contextlib import contextmanager


@contextmanager
def coalesce_floor(spark: SparkSession):
    """Scoped AQE coalesce floor for narrow-row fan-out plans.

    The floor DERIVES from the session: 4 x defaultParallelism (the
    r10 measurement below was exactly 4 x the 32 sandbox cores, and its
    own rationale was cores-proportional). A pinned 128 made every
    eager lineage cut — including 3-row test graphs and sf0.001 sweep
    rounds — materialize through >= 128 tasks (and, in reliable
    checkpoint mode, write 128 files PER ROUND: measured r11, the
    8-core test-suite bfs reliable path alone took 40s). At 32 cores
    the derived floor is 128, bit-identical to the measured x100
    configuration; larger clusters now scale the floor up instead of
    capping at 128.

    AQE's parallelism-first coalescing sizes post-shuffle stages by
    COMPRESSED map-output bytes with a floor of defaultParallelism.
    Graph-loop shuffles are (long, long) rows that compress ~10x, so a
    59.8M-row per-round join at x100 edges coalesced to 16 tasks —
    each task then aggregated ~3.7M deserialized join rows inside a
    ~250 MB memory grant and the round spilled ~42 GB (measured r10,
    SCALE.md: label_propagation 125 GB total spill, wall 231s). A
    minPartitionNum floor of 128 made the same run spill ZERO at wall
    117s (floor 64 still spilled 10 GB). The floor is SCOPED to the
    operator rather than set session-wide because every small query
    would otherwise pay >= 128 tasks per stage; iterative graph
    operators opt in around their loops. On a real cluster
    defaultParallelism is the core count, so the same 4x-cores-style
    floor reasoning applies at any scale; 128 also stays below the
    session's initialPartitionNum=512 so AQE still coalesces the
    512-partition start, just not past the floor.
    """
    n = 4 * spark.sparkContext.defaultParallelism
    key = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if old is None:
            try:
                spark.conf.unset(key)
            except Exception:
                pass
        else:
            spark.conf.set(key, old)
