"""Graph operators: fixed-iteration PageRank over an edge DataFrame.

Second iterative algorithm in the engine next to
`dedup.connected_components` — together they pin the pattern any
iterative workload needs on Spark: keyed joins per round, lineage
truncation via checkpointing, and NO driver-side graph state (Tez users
run exactly this class of job as multi-round DAGs; Pregel-on-Tez /
Giraph is the reference-era equivalent — SURVEY §4.5 delegates the
scheduling to Spark, the algorithm lives here).

Scale shape per iteration:
- out-degrees are joined onto the edge list ONCE before the loop (the
  degree of an edge's source never changes), so each round is a single
  equi-join `edges join ranks` on the source node — co-partitioned
  across rounds, so AQE reuses the exchange;
- contributions aggregate with map-side partial sums (shuffle carries
  one row per (dst) per map partition, not one per edge);
- every round's lineage is truncated through
  `plans.checkpoints.truncate_lineage`: `localCheckpoint` by default
  (sandbox-fast), upgraded to a reliable `checkpoint` when the
  SparkContext has a checkpoint dir — executor loss under
  localCheckpoint forces a full job restart, so a real cluster should
  always set the dir (same note as connected_components).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hdp_tez_spark.plans.checkpoints import LoopCheckpointer, truncate_lineage


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank with `iters` synchronous iterations over a directed edge
    list (duplicate edges count once — dedup upstream if needed).

    rank_0(v) = 1/N;
    rank_{i+1}(v) = (1-d)/N + d * sum over in-neighbors u of
                    rank_i(u) / outdeg(u).

    Nodes = src ∪ dst. Nodes with no out-edges leak their damped mass
    (the simple-leak variant — deterministic and cheap; feed a
    symmetrized edge list if you need a leak-free chain). Output:
    (node, rank) with rank rounded to 6 dp, ordered by node.

    The scalar N rides as a 1-row cross join — never collected; the
    per-round plan is two joins + one partial-aggregated groupBy, and
    a per-round lineage cut keeps round i's plan independent of round
    i-1 (a SparkContext checkpoint dir upgrades it to a reliable
    checkpoint — see plans/checkpoints.py).
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    # cut the edge projection FIRST: nodes and the degree-joined edge
    # table below each materialize their input, and without this cut
    # every one of those jobs re-runs the caller's upstream edge
    # pipeline (for q_pagerank, an orders x lineitem join — measured
    # running 3x per call at sf0.1 before r10; same fix as
    # connected_components)
    e = truncate_lineage(
        edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    )
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
    )
    nodes = truncate_lineage(nodes)
    n_df = nodes.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    outdeg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__od"))
    # degrees never change across rounds: pre-join them onto the edges once
    # (keeping __od as a column, so each round still computes rank/__od —
    # bit-identical arithmetic to joining outdeg per round)
    ew = truncate_lineage(e.join(outdeg, "__src"))

    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    # per-round cuts via LoopCheckpointer; each round joins the ranks
    # with the fixed edge and node tables, never with themselves
    # (plans/checkpoints.py)
    lc = LoopCheckpointer()
    for _ in range(iters):
        contribs = (
            ew.join(ranks, ew["__src"] == ranks["node"])
            .select(
                F.col("__dst").alias("node"),
                (F.col("rank") / F.col("__od")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("__n")
                    + damping * F.coalesce(F.col("__s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        ranks = lc.cut(ranks)
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy("node")


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS: minimum hop count from any source node, bounded
    by `max_hops`. Third iterative operator next to `pagerank` and
    `dedup.connected_components` (the multi-round DAG class Tez clients
    hand-build; SURVEY §4.5).

    `sources` is a one-column DataFrame (`node`). Output: (node, dist)
    for every node reachable within max_hops, dist = exact minimum hops
    (sources themselves at dist 0).

    Scale shape per round — textbook frontier expansion, which is the
    shape that survives 100 TB graphs:
    - one equi-join `frontier ⋈ edges` on the source endpoint: the join
      is keyed, never all-pairs, and the frontier is usually a small
      fraction of the node set;
    - newly reached nodes are de-duplicated (`distinct`) BEFORE the
      anti-join against the visited set, so the anti-join probes each
      candidate once however many in-edges it has;
    - the visited set is the only growing state, checkpointed per round
      (`localCheckpoint` by default; configure a checkpoint dir on the
      SparkContext for a reliable checkpoint on a real cluster — same
      note as `pagerank`);
    - rounds with an empty frontier short-circuit via a cheap
      `observe`-free isEmpty (frontier row counts are bounded by |V|,
      and isEmpty only materializes one partition's first row).
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst")).distinct()
    if max_hops >= 1:
        e = truncate_lineage(e)  # scanned once per round
    dist = truncate_lineage(
        sources.select(
            F.col(sources.columns[0]).alias("node"), F.lit(0).alias("dist")
        ).distinct()
    )
    frontier = dist.select("node")
    # two cuts per round (frontier + visited set), one LoopCheckpointer
    # each: a cut releases its own previous cut, and the next frontier's
    # anti-join still reads the previous visited set
    lc_f, lc_d = LoopCheckpointer(), LoopCheckpointer()
    for hop in range(1, max_hops + 1):
        if frontier.isEmpty():
            break
        nxt = (
            frontier.join(e, frontier["node"] == e["__src"])
            .select(F.col("__dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
        )
        nxt = lc_f.cut(nxt)
        dist = lc_d.cut(
            dist.unionByName(nxt.select("node", F.lit(hop).alias("dist")))
        )
        frontier = nxt
    return dist.orderBy("node")


def cooccurrence_edges(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 1,
    max_basket: int | None = None,
) -> DataFrame:
    """Bipartite co-occurrence projection: an undirected edge (a, b) for
    every item pair appearing in the same basket, weighted by the number
    of distinct baskets. Output: (a, b, n_baskets) with a < b.

    The two knobs are what make the projection survive 100 TB:
    - `max_basket` drops baskets larger than the cap BEFORE the
      self-join — one degenerate basket of 10^5 items would otherwise
      emit 5*10^9 pairs (the classic projection blowup; capping is the
      standard sparsifier and biases only against mega-baskets);
    - `min_count` prunes noise edges AFTER the partial-aggregated
      groupBy, so the filter rides the same shuffle.
    The self-join is keyed on the basket id — co-members only, never an
    all-pairs stage across the item universe.
    """
    pairs = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    if max_basket is not None:
        sizes = pairs.groupBy("__b").agg(F.count(F.lit(1)).alias("__sz"))
        pairs = pairs.join(
            sizes.where(F.col("__sz") <= max_basket).select("__b"), "__b"
        )
    l, r = pairs.alias("l"), pairs.alias("r")
    return (
        l.join(
            r,
            (F.col("l.__b") == F.col("r.__b")) & (F.col("l.__i") < F.col("r.__i")),
        )
        .groupBy(F.col("l.__i").alias("a"), F.col("r.__i").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .where(F.col("n_baskets") >= min_count)
    )


def triangle_count(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global triangle / wedge / edge census of an undirected graph.

    Input: an edge DataFrame (one row per edge, either orientation,
    duplicates tolerated). Output: ONE row
    (n_nodes, n_edges, n_wedges, n_triangles).

    Scale shape — the classic degree-oriented compact-forward algorithm:
    every edge is oriented from its lower-(degree, id) endpoint to the
    higher one, which makes the orientation acyclic and bounds every
    node's out-degree by O(sqrt(m)) on any graph; wedges are then built
    by self-joining the oriented list on its midpoint and closed against
    the oriented list itself. Total work is O(m^1.5) worst-case (vs the
    unbounded hot-vertex blowup of the naive a<b<c join), and both joins
    are plain hash equi-joins — no all-pairs stage, nothing collected.
    Wedge count uses sum(deg*(deg-1)/2), a |V|-row aggregate.

    Eager-at-construction contract (ADVICE r10): CONSTRUCTING this
    DataFrame runs blocking jobs (the edge-list cut + one scalar read
    of the degree census that sizes the wedge fan-out) — the returned
    frame is not fully lazy, and the localCheckpoint cut is not
    fault-tolerant without a configured checkpoint dir.
    """
    e = (
        edges.select(F.col(a).alias("__u"), F.col(b).alias("__v"))
        .where(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__u"), F.greatest("__u", "__v").alias("__v")
        )
        .distinct()
        .transform(truncate_lineage)  # feeds degrees + orientation + closure: scan once
    )
    deg = (
        e.select(F.col("__u").alias("node"))
        .union(e.select(F.col("__v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    counts = deg.groupBy().agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("__d") * (F.col("__d") - 1)) / 2).cast("long").alias("n_wedges"),
    )
    # orient each edge low->high by (degree, id): acyclic, out-degree O(sqrt m)
    du = deg.select(F.col("node").alias("__u"), F.col("__d").alias("__du"))
    dv = deg.select(F.col("node").alias("__v"), F.col("__d").alias("__dv"))
    oriented = (
        e.join(du, "__u")
        .join(dv, "__v")
        .select(
            F.when(
                (F.col("__du") < F.col("__dv"))
                | ((F.col("__du") == F.col("__dv")) & (F.col("__u") < F.col("__v"))),
                F.struct(F.col("__u").alias("s"), F.col("__v").alias("t")),
            )
            .otherwise(F.struct(F.col("__v").alias("s"), F.col("__u").alias("t")))
            .alias("__e")
        )
        .select(F.col("__e.s").alias("__s"), F.col("__e.t").alias("__t"))
        .transform(truncate_lineage)
    )
    # Both wedge-side joins are pinned SHUFFLE-HASH with the bounded
    # edge-sized relation as build side (r10 found-at-scale fix,
    # SCALE.md): SMJ would SORT the n_wedges ~ m^1.5 fan-out table for
    # the closure join — at x100 edges AQE's byte advisory coalesced
    # that sort to ~100 MB-compressed tasks of 8-byte triples (~10x
    # deserialized) and spilled 100 GB / 282s. Hash joins stream the
    # exploded side with zero sort (27s / 0 spill, same census). The
    # build sides here are PRE-explode edge lists (|E|/partitions rows
    # per task), not the post-explode streams that force merge pins
    # elsewhere (dedup.py containment precedent) — the hint survives
    # AQE replans in both directions.
    # The wedge fan-out stage runs at an EXPLICIT partition count:
    # REPARTITION_BY_NUM is exempt from AQE coalescing, which would
    # otherwise size this stage by its COMPRESSED input bytes (~10x
    # under the deserialized volume for 8-byte long pairs) and hand
    # each of ~16 tasks a ~1 GB fan-out to emit (the second half of
    # the r10 100 GB spill). The count is DERIVED from the wedge census
    # (guide §2: scale-adaptive, not a constant): the degree aggregate
    # already computes n_wedges for the output row, so collecting it is
    # one scalar job over the |V|-row degree table, and the stage gets
    # ~64 MB of deserialized wedge triples per task at any scale —
    # a 200k-edge bench graph no longer schedules 512 near-empty tasks
    # (the old conf-pinned count) and the x100 probe still gets the
    # hundreds of partitions that kept it spill-free.
    cstats = counts.first()
    n_nodes_v = int(cstats["n_nodes"])
    n_wedges_v = int(cstats["n_wedges"] or 0)
    # Upper clamp (ADVICE r10): a 1e12-wedge graph would otherwise ask
    # for ~375k shuffle partitions — past practical scheduler/shuffle-
    # tracker limits. Past 2048x the core count the right lever is task
    # SIZE growing past 64 MB, not task count growing without bound.
    dp = e.sparkSession.sparkContext.defaultParallelism
    n_fanout = max(
        dp,
        min(math.ceil(n_wedges_v * 24 / (64 << 20)), 2048 * dp),
    )
    w1 = oriented.repartition(n_fanout, "__s").select(
        F.col("__s").alias("__mid"), F.col("__t").alias("__x")
    )
    w2 = oriented.select(F.col("__s").alias("__mid"), F.col("__t").alias("__y"))
    wedges = w1.join(w2.hint("shuffle_hash"), "__mid").where(
        F.col("__x") < F.col("__y")
    )
    # Measured rejection (r10): pre-collapsing the wedge stream to
    # (x, y, multiplicity) cells before the closure join made things
    # WORSE (222 GB spill vs 60) — wedge endpoint pairs on sparse
    # graphs are mostly unique, so the "collapse" shrank nothing and
    # added a full hash-aggregate pass over the m^1.5 stream.
    # e is already normalized __u < __v, so it IS the closure list keyed
    # the same way as the (x < y) wedge endpoints — no re-orientation pass
    closing = e.select(F.col("__u").alias("__x"), F.col("__v").alias("__y"))
    tri = wedges.select("__x", "__y").join(
        closing.hint("shuffle_hash"), ["__x", "__y"]
    ).groupBy().agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = e.groupBy().agg(F.count(F.lit(1)).alias("n_edges"))
    # n_nodes/n_wedges were already materialized for the fan-out sizing;
    # re-emitting them as literals avoids re-running the degree aggregate
    return (
        n_edges.crossJoin(F.broadcast(tri)).select(
            F.lit(n_nodes_v).cast("long").alias("n_nodes"),
            "n_edges",
            F.lit(n_wedges_v).cast("long").alias("n_wedges"),
            "n_triangles",
        )
    )


def link_prediction(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    min_common: int = 2,
    top_n: int = 100,
    max_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-based link prediction: scores NON-adjacent node
    pairs by common-neighbor count and Adamic-Adar (Σ 1/ln(deg z) over
    shared neighbors z — LibenNowell & Kleinberg '03), the standard
    "who should be connected" readout for recommendation and
    entity-graph completion. Input: one row per undirected edge (either
    orientation, duplicates tolerated). Output: the `top_n` candidate
    pairs (a, b, common_neighbors, adamic_adar) with a < b, at least
    `min_common` shared neighbors, and NO existing edge; ranked by
    (common_neighbors DESC, a, b) — an integer ordering, so the
    selection boundary is bit-stable across engines (adamic_adar is
    reported, not raced against float ties). adamic_adar rounded 6 dp.

    Scale shape — the triangle_count wedge machinery pointed at open
    wedges instead of closed ones: candidates come from self-joining
    the directed adjacency list on its MIDPOINT (co-neighbors only,
    never an all-pairs stage), scores aggregate with map-side partial
    sums, existing edges leave via one anti-join, and selection is
    TakeOrderedAndProject (per-task top-n heaps, no global sort). Work
    is Σ_z deg(z)² — hub midpoints dominate, and a hub's wedges carry
    the least signal (that is WHY Adamic-Adar down-weights by 1/ln deg),
    so `max_degree` drops super-hub midpoints BEFORE the join: the
    standard sparsifier at web scale, biasing only against pairs whose
    sole evidence is a mega-hub.
    """
    e = (
        edges.select(F.col(a).alias("__u"), F.col(b).alias("__v"))
        .where(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__u"), F.greatest("__u", "__v").alias("__v")
        )
        .distinct()
        .transform(truncate_lineage)  # feeds adjacency, degrees, anti-join: scan once
    )
    nb = e.select(F.col("__u").alias("__z"), F.col("__v").alias("__x")).union(
        e.select(F.col("__v").alias("__z"), F.col("__u").alias("__x"))
    )
    deg = nb.groupBy("__z").agg(F.count(F.lit(1)).alias("__d"))
    if max_degree is not None:
        deg = deg.where(F.col("__d") <= max_degree)
    # wedge midpoints need deg >= 2, so ln(__d) > 0 — join also applies
    # the cap. Cut: w1 and w2 are separate plan subtrees, so the
    # adjacency x degree join (and the degree aggregation feeding it)
    # ran twice per call without it (r10).
    mid = truncate_lineage(nb.join(deg, "__z"))
    w1 = mid.select("__z", F.col("__x").alias("__a"), "__d")
    w2 = mid.select("__z", F.col("__x").alias("__b"))
    cand = (
        w1.join(w2, "__z")
        .where(F.col("__a") < F.col("__b"))
        .groupBy("__a", "__b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(1.0 / F.log(F.col("__d").cast("double"))).alias("__aa"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    non_adjacent = cand.join(
        e,
        (cand["__a"] == e["__u"]) & (cand["__b"] == e["__v"]),
        "left_anti",
    )
    return (
        non_adjacent.select(
            F.col("__a").alias(a),
            F.col("__b").alias(b),
            "common_neighbors",
            F.round("__aa", 6).alias("adamic_adar"),
        )
        .orderBy(F.col("common_neighbors").desc(), a, b)
        .limit(top_n)
    )


def label_propagation(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation community detection (Raghavan et
    al. '07) over an undirected edge list: every node starts with its
    own id as label; each round, every node adopts the most frequent
    label among its NEIGHBORS' previous-round labels, ties broken by
    the smallest label — both choices make the update deterministic
    (the original's random tie-breaks and asynchronous order are
    deliberately dropped: engine-reproducible > convergence speed,
    and a fixed `iters` keeps the oracle expressible as unrolled SQL).
    Isolated self-loops are dropped; duplicate/reversed edges count
    once. Output: (node, label) ordered by node.

    Scale shape: one symmetrized adjacency build, then per round ONE
    edge-sized equi-join + a partial-aggregated (node, label) count +
    a per-node argmax window over the count table (partitioned by
    node — count-table-sized, never a global sort). Per-round lineage
    cuts via LoopCheckpointer, same contract as pagerank; community
    convergence on diameter-d graphs needs O(d) rounds — this is the
    fixed-budget readout, not a fixpoint iterator (use
    connected_components for exact reachability classes).
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = truncate_lineage(
        edges.select(F.col(a).alias("__u"), F.col(b).alias("__v"))
        .where(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__u"),
            F.greatest("__u", "__v").alias("__v"),
        )
        .distinct()
    )
    # cut e BEFORE the symmetrizing union: both nb branches read e, so
    # the nb cut would otherwise run the caller's upstream edge pipeline
    # twice (r10, same fix as pagerank/connected_components)
    nb = e.select(F.col("__u").alias("__n"), F.col("__v").alias("__m")).union(
        e.select(F.col("__v").alias("__n"), F.col("__u").alias("__m"))
    )
    nb = truncate_lineage(nb)
    labels = nb.select(F.col("__n").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("__n").orderBy(
        F.col("__cnt").desc(), F.col("label").asc()
    )
    lc = LoopCheckpointer()
    for _ in range(iters):
        counts = (
            nb.join(labels, nb["__m"] == labels["node"])
            .groupBy("__n", "label")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(F.col("__n").alias("node"), "label")
        )
        labels = lc.cut(labels)
    return labels.select("node", "label").orderBy("node")


def k_core(
    edges: DataFrame,
    k: int,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 50,
) -> DataFrame:
    """k-core decomposition (membership for a fixed k): iteratively
    peel every node of degree < k until the remaining subgraph — the
    unique maximal subgraph with minimum degree >= k (Seidman '83) —
    is stable. The density screen next to label_propagation's
    communities and connected_components' reachability: spam/bot rings
    and dense duplicate clusters survive high-k cores while organic
    long-tail structure peels away. Self-loops dropped; duplicate /
    reversed edges count once. Output: (node, degree) of the surviving
    core, degree measured INSIDE the core, ordered by node; empty when
    the whole graph peels.

    Scale shape: synchronized peeling — each round removes ALL sub-k
    nodes at once: one map-side-combined degree count over the edge
    list + two anti-joins against the dropped-node set, lineage cut
    through LoopCheckpointer. Round count is the graph's "peeling
    depth", NOT O(log n): real co-occurrence graphs stabilize in a few
    rounds (each pass strips a full onion layer), but adversarial
    chains peel two endpoints per round — hence the explicit
    max_rounds guard (raises rather than silently returning a
    non-core) and the per-round emptiness probe, a 1-bit driver
    decision per round. The unique-fixpoint property makes the result
    order-independent, so the synchronized schedule is oracle-exact
    against any sequential peeling.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = (
        edges.select(F.col(a).alias("__u"), F.col(b).alias("__v"))
        .where(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__u"),
            F.greatest("__u", "__v").alias("__v"),
        )
        .distinct()
    )
    e = truncate_lineage(e)

    def degrees(es: DataFrame) -> DataFrame:
        nb = es.select(F.col("__u").alias("__n")).union(
            es.select(F.col("__v").alias("__n"))
        )
        return nb.groupBy("__n").agg(F.count(F.lit(1)).alias("__d"))

    lc = LoopCheckpointer()
    for _ in range(max_rounds):
        # materialize the (small) dropped set once: the emptiness probe
        # and the two anti-joins would otherwise each recompute the
        # degree aggregation (2 jobs/round -> 1). Fresh truncation per
        # round, never chained — dropped does not feed later lineage.
        dropped = truncate_lineage(degrees(e).where(F.col("__d") < k).select("__n"))
        # bounded driver state: one emptiness bit per round (an empty
        # edge set yields an empty dropped set, so the all-peeled case
        # exits here too, with a schema-correct empty result)
        if dropped.isEmpty():
            return (
                degrees(e)
                .select(F.col("__n").alias("node"), F.col("__d").alias("degree"))
                .orderBy("node")
            )
        e = e.join(
            dropped.withColumnRenamed("__n", "__u"), "__u", "left_anti"
        ).join(dropped.withColumnRenamed("__n", "__v"), "__v", "left_anti")
        e = lc.cut(e)
    raise RuntimeError(
        f"k_core did not stabilize in {max_rounds} rounds (peeling depth "
        "exceeds the budget — raise max_rounds)"
    )


def negative_sampling(
    edges: DataFrame,
    k: int = 5,
    a: str = "a",
    b: str = "b",
    oversample: int = 4,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative edge sampling: for every node with at
    least one edge, up to k non-adjacent partner nodes drawn
    (approximately) uniformly from the node universe — the
    contrastive-pair generator for link-prediction / retrieval /
    embedding training, where each positive edge needs reproducible
    negatives (rand() breaks on task retry; every split operator here
    is md5-deterministic for exactly that reason). Candidate i for
    node u is the node at index md5(salt:u:i) mod |V| in the
    id-ordered node list; self-pairs and true edges (either
    orientation) are rejected, and the first k survivors IN DRAW ORDER
    are kept — so the sample is a pure function of (edge set, k, salt)
    reproducible in any SQL engine from the md5 recipe. Nodes whose
    k·oversample draws all collide with true neighbors (near-complete
    rows) may yield fewer than k — the standard truncation, documented
    over silently re-drawing forever. Output: (node, neg, draw) with
    draw the 0-based surviving draw index, ordered by (node, draw).

    Scale shape: the node index is the range-partition + broadcast-
    offset global rank (operators/sort.global_sort_ranked — never a
    single-task window); draws are a map-side sequence explode
    (k·oversample rows per node); candidates meet their node ids
    through one equi-join on the index, the rejection is one
    (node, cand) anti-join against the symmetrized edge list, and the
    keep-k is a per-node window over ≤ k·oversample rows. Everything
    shuffled is (long, long) pairs.

    Measured rejection (r10, SCALE.md): an index-space restructure —
    reject on (node, cand_idx) against a pre-indexed neighbor table
    and resolve candidate ids only AFTER keep-k, so the resolve join
    carries k instead of k·oversample rows — measured MORE shuffle at
    sf1.0 (481 MB read vs 445 MB here): the anti-join (node, idx key)
    and keep-k window (node key) cannot share partitioning, and the
    neighbor side needs its own edge-sized resolve join, so the saved
    resolve bytes reappear as an extra edge reshuffle. A per-node
    neighbor-idx-ARRAY variant would halve row-shuffles but builds a
    deg(node)-sized single row — fatal on a 100 TB hub — and a
    broadcast Bloom needs a verify join for exactness anyway while its
    bitset outgrows the driver at 10^9+ edges. The flat anti-join
    shape stays: skew degrades into AQE-splittable join keys, never a
    giant row or driver state.
    """
    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    from hdp_tez_spark.extensions.dedup import _md5_long
    from hdp_tez_spark.operators.sort import global_sort_ranked

    # cut e and nodes (r10): e feeds the node set AND both branches of
    # the symmetrized anti-join list; nodes feeds the global rank AND
    # the draw explode — without the cuts the caller's upstream edge
    # pipeline ran 4-5x per call. n_nodes counts the cut node set
    # directly instead of re-running the ranked table a second time.
    e = truncate_lineage(
        edges.select(F.col(a).alias("__u"), F.col(b).alias("__v"))
        .where(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__u"),
            F.greatest("__u", "__v").alias("__v"),
        )
        .distinct()
    )
    nodes = truncate_lineage(
        e.select(F.col("__u").alias("node"))
        .union(e.select(F.col("__v").alias("node")))
        .distinct()
    )
    idx = global_sort_ranked(nodes, [F.col("node").asc()], "idx")
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("__n"))
    m = k * oversample
    draws = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .select(
            "node",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("i"),
            "__n",
        )
        .select(
            "node",
            "i",
            (
                F.pmod(
                    _md5_long(
                        F.concat_ws(
                            ":", F.lit(salt), F.col("node").cast("string"),
                            F.col("i").cast("string"),
                        )
                    ),
                    F.col("__n"),
                )
                + 1
            ).alias("__cidx"),
        )
    )
    d = draws.alias("d")
    ix = idx.alias("ix")
    cand = (
        d.join(ix, F.col("d.__cidx") == F.col("ix.idx"))
        .select(
            F.col("d.node").alias("__s"),
            F.col("d.i").alias("i"),
            F.col("ix.node").alias("__c"),
        )
        .where(F.col("__s") != F.col("__c"))
    )
    sym = e.select(
        F.col("__u").alias("__s"), F.col("__v").alias("__c")
    ).union(e.select(F.col("__v").alias("__s"), F.col("__u").alias("__c")))
    survivors = cand.join(sym, ["__s", "__c"], "left_anti")
    w = Window.partitionBy("__s").orderBy("i")
    return (
        survivors.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            F.col("__s").alias("node"),
            F.col("__c").alias("neg"),
            (F.col("__rn") - 1).cast("int").alias("draw"),
        )
        .orderBy("node", "draw")
    )


def modularity_score(
    edges: DataFrame,
    labels: DataFrame,
    a: str = "a",
    b: str = "b",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman-Girvan modularity Q of a community labeling over an
    undirected graph (Newman & Girvan '04) — the quality score that
    turns `label_propagation` / `connected_components` output into a
    number a pipeline can threshold or regression-test:

        Q = Σ_c ( m_c / m  −  (d_c / 2m)² )

    with m the undirected edge count, m_c the intra-community edge
    count, and d_c the total degree of community c. Self-loops and
    duplicate/reversed edge rows collapse first (the same
    canonicalization every graph operator here applies); nodes missing
    from `labels` form their own singleton communities contributing
    only their degree term (inner-join edges would silently shrink m —
    degrees come from the labeled edge list, so both endpoints'
    memberships resolve via left joins with the node id itself as the
    fallback label). Output: ONE row (m_edges, n_communities, q)
    with q rounded to 6 dp.

    Scale shape: canonicalize + distinct is the only edge-sized
    shuffle; membership resolves through two node-keyed equi-joins
    against the |V|-row label table, then the labeled edges collapse
    ONCE to the |observed community-pair| cell table — m, every m_c,
    and every d_c are all algebra over those cells (no second scan,
    no driver-side count action); the readout is a 1-row aggregate
    with the 1-row m table broadcast back. Integer counts throughout —
    the division happens once at the end, cross-engine exact at 6 dp.
    """
    lab = labels.select(
        F.col(node_col).alias("__n"), F.col(label_col).alias("__l")
    )
    e = (
        edges.select(F.col(a).alias("__u"), F.col(b).alias("__v"))
        .where(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__u"),
            F.greatest("__u", "__v").alias("__v"),
        )
        .distinct()
    )
    lu = lab.select(F.col("__n").alias("__u"), F.col("__l").alias("__lu"))
    lv = lab.select(F.col("__n").alias("__v"), F.col("__l").alias("__lv"))
    labeled = (
        e.join(lu, "__u", "left")
        .join(lv, "__v", "left")
        .select(
            F.coalesce("__lu", F.col("__u").cast("string")).alias("__lu"),
            F.coalesce("__lv", F.col("__v").cast("string")).alias("__lv"),
        )
    )
    pair_cells = labeled.groupBy("__lu", "__lv").agg(
        F.count(F.lit(1)).alias("__e")
    )
    intra = pair_cells.where(F.col("__lu") == F.col("__lv")).groupBy(
        F.col("__lu").alias("__c")
    ).agg(F.sum("__e").alias("m_c"))
    deg = (
        pair_cells.select(F.col("__lu").alias("__c"), "__e")
        .union(pair_cells.select(F.col("__lv").alias("__c"), "__e"))
        .groupBy("__c")
        .agg(F.sum("__e").alias("d_c"))
    )
    m_tab = pair_cells.agg(F.sum("__e").alias("__m"))
    cells = (
        deg.join(intra, "__c", "left")
        .select("__c", F.coalesce("m_c", F.lit(0)).alias("m_c"), "d_c")
        .crossJoin(F.broadcast(m_tab))
    )
    two_m = 2.0 * F.col("__m").cast("double")
    return cells.agg(
        F.any_value(F.col("__m")).alias("m_edges"),
        F.count(F.lit(1)).alias("n_communities"),
        F.round(
            F.sum(
                F.col("m_c").cast("double") / F.col("__m").cast("double")
                - (F.col("d_c").cast("double") / two_m)
                * (F.col("d_c").cast("double") / two_m)
            ),
            6,
        ).alias("q"),
    )


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """HITS hub/authority scores (Kleinberg, JACM 1999) over a directed
    edge list — the bipartite-friendly companion to `pagerank`: hubs
    are nodes that POINT AT good authorities, authorities are nodes
    pointed at BY good hubs. Per iteration i:
    auth_i(v) = Σ_{(u,v)∈E} hub_{i-1}(u), then
    hub_i(u) = Σ_{(u,v)∈E} auth_i(v). Duplicate edges count once —
    dedup upstream if needed.

    Normalization is deferred to the readout (each vector scaled to
    L1 = 1 there), so with hub_0 = 1 every intermediate iterate is an
    INTEGER (auth_1 is in-degree, hub_1 is the sum of successors'
    in-degrees, …) carried exactly in LONG arithmetic — bit-stable
    across engines, partitionings, and retries, where the textbook
    per-round L2 normalization would compound float summation-order
    noise through every iteration. Exactness bounds iters: iterate
    magnitudes grow like (Σdeg)^iters, so keep iters ≤ 3 on billion-
    edge graphs (the default 2 is the classic co-citation readout) —
    raise it only with the overflow headroom checked.

    Output: (node, hub, auth) over nodes = src ∪ dst, both columns
    rounded to 6 dp, ordered by node. Nodes with no out-edges have
    hub = 0; no in-edges, auth = 0. A graph with zero edges returns
    zero rows.

    Scale shape per round: two keyed equi-joins (edges ⋈ scores) each
    followed by a map-side-combined groupBy on the opposite endpoint —
    never all-pairs, shuffle O(|E|) narrow (long, long) rows; per-round
    LoopCheckpointer cuts keep round i's plan independent of round i-1
    (and carry the iterative-loop AQE coalesce floor — the
    label_propagation x100-edge lesson). The L1 totals ride a 1-row
    broadcast at readout; nothing is ever collected.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # cut e FIRST so the nodes cut derives from the checkpointed edge
    # list instead of re-running the caller's upstream edge pipeline
    # (same fix as pagerank/connected_components, r10)
    e = truncate_lineage(
        edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    )
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
    )
    nodes = truncate_lineage(nodes)

    # TWO checkpointers, one per score vector: LoopCheckpointer.cut
    # releases the PREVIOUS cut's blocks, so interleaving auth and hub
    # cuts through one instance would free the final auth the readout
    # still needs (each instance only ever releases its own stale
    # rounds).
    # hub_0 = 1 for every node; auth/hub stay LONG until the readout
    hub = nodes.select("node", F.lit(1).cast("long").alias("__h"))
    auth = None
    # shuffle_hash pin, score side as build: the per-phase join would
    # otherwise fall to sort-merge once the score vector outgrows the
    # broadcast threshold, SORTING the |E|-row edge stream every phase
    # (the triangle_count x100 lesson — 1.5 GB sort spill at sf3.0
    # here). The build side is the |nodes|-row score vector: narrow,
    # well-estimated, |nodes|/partitions rows per task.
    lc_a, lc_h = LoopCheckpointer(), LoopCheckpointer()
    for _ in range(iters):
        auth = lc_a.cut(
            e.join(hub.hint("shuffle_hash"), e["__src"] == hub["node"])
            .groupBy(F.col("__dst").alias("node"))
            .agg(F.sum("__h").alias("__a"))
        )
        hub = lc_h.cut(
            e.join(auth.hint("shuffle_hash"), e["__dst"] == auth["node"])
            .groupBy(F.col("__src").alias("node"))
            .agg(F.sum("__a").alias("__h"))
        )

    totals = hub.agg(F.sum("__h").alias("__sh")).crossJoin(
        auth.agg(F.sum("__a").alias("__sa"))
    )
    out = (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "node",
            F.round(
                F.coalesce(F.col("__h"), F.lit(0)).cast("double")
                / F.col("__sh"),
                6,
            ).alias("hub"),
            F.round(
                F.coalesce(F.col("__a"), F.lit(0)).cast("double")
                / F.col("__sa"),
                6,
            ).alias("auth"),
        )
    )
    return out.orderBy("node")
