"""Similarity search over embedding columns (array<float>).

Beyond-reference extension (BASELINE.json). Two paths:

- `cosine_topk_bruteforce`: exact top-k by cosine — the correctness
  baseline. The candidate side streams; the (small) query side is
  broadcast, so cost is |queries| x |corpus| dot products with no
  shuffle of the corpus. Viable when |queries| is small; at 100 TB with
  large query sets use the bucketed variant.
- `cosine_topk_lsh`: sign-projection LSH — queries and corpus are
  bucketed by the sign pattern of the first `n_planes` coordinates
  (axis-aligned random projection; deterministic and oracle-friendly),
  candidates meet through a bucket equi-join, top-k within bucket.
  Trades recall for turning all-pairs into an equi-join.

All arithmetic is done in float64 after casting from float32 so results
are reproducible against SQL oracles; cosine is rounded to 6 decimals and
ties broken by id so rankings are deterministic across engines.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdp_tez_spark.parallel import spread as _spread
from hdp_tez_spark.plans.checkpoints import truncate_lineage


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, float64, unrounded."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self).

    Output: (query_id, neighbor_id, cosine, rn). The query side is
    broadcast; ranking uses the per-group heap path (WindowGroupLimit),
    so no full sort of the |q|x|corpus| cross product materializes.
    """
    # norms ride the inputs as per-row columns (r10, guide §4): the
    # scorer evaluates |q| x |corpus| cosines, and hoisting both norms
    # leaves one dot-product fold per pair instead of three. Operand
    # order (dot / (norm_q * norm_c)) matches cosine(), bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("__nq"),
    )
    c = _spread(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("__nc"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("__nq") * F.col("__nc")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


def _sign_bucket(vec: Column, n_planes: int) -> Column:
    """Bucket id from the sign bits of the first n_planes coordinates.

    The 2**i weights are plain literals (n_planes <= 32, well inside
    exact-integer range), sidestepping column-valued shift amounts.
    """
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        bucket = bucket + F.when(
            F.element_at(vec, i + 1).cast("double") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    The bucket join is an equi-join, so the corpus shuffles once by
    bucket id regardless of query count — the 100 TB-safe shape. Recall
    is traded for n_planes (more planes = smaller buckets).
    """
    # hoisted norms — same rewrite as cosine_topk_bruteforce (r10)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("__nq"),
        _sign_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    c = _spread(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("__nc"),
        _sign_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    scored = (
        c.join(q, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("__nq") * F.col("__nc")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is partitioned into Voronoi
    cells around seed centroids; each query probes only its `n_probe`
    nearest cells.

    Seeds are deterministic (the n_centroids lowest-id vectors) instead of
    trained k-means so results are exactly reproducible; swap in trained
    centroids for better recall without touching the plan shape.

    Scale design: centroids are tiny metadata — they are collected to the
    driver once and baked into the assignment expression, so cell
    assignment is a pure map-side projection over the corpus (zero
    shuffle). The only shuffle is the (cell) equi-join between probed
    queries and corpus cells, ∝ corpus size — never corpus × queries.
    Cosines are rounded to 6dp *before* ranking with an id tiebreak, so
    ranking is engine-independent.
    """
    cent_rows = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    cents = F.array(
        *[
            F.struct(
                F.lit(int(r[id_col])).alias("cid"),
                F.array(*[F.lit(float(x)) for x in r[vec_col]]).alias("cvec"),
            )
            for r in cent_rows
        ]
    )

    def cos_to(c: Column, vec: Column) -> Column:
        return F.round(cosine(vec, c), 6)

    def cells_of(vec: Column, n: int) -> Column:
        """The n nearest centroid ids (cos desc, cid asc) as an array."""
        ranked = F.array_sort(
            F.transform(
                cents,
                lambda c: F.struct(
                    (-cos_to(c.cvec, vec)).alias("neg_cos"), c.cid.alias("cid")
                ),
            )
        )
        return F.transform(F.slice(ranked, 1, n), lambda s: s.cid)

    c = _spread(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("__nc"),
        F.element_at(cells_of(F.col(vec_col), 1), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("__nq"),
        F.explode(cells_of(F.col(vec_col), n_probe)).alias("cell"),
    )
    scored = (
        c.join(q, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        # hoisted norms — same rewrite as cosine_topk_bruteforce (r10)
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("__nq") * F.col("__nc")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k readout for an approximate nearest-neighbor result
    against the exact one — the acceptance metric every ANN deployment
    (LSH planes, IVF probe counts, quantization bits) is tuned by.
    `exact` and `approx` are top-k tables shaped like the engine's ANN
    operators emit ((query_id, neighbor_id, ...)); duplicates are
    collapsed. Output per query: (query_id, n_exact, n_hit, recall)
    with recall = |approx ∩ exact| / |exact| rounded to 6 dp, ordered
    by query_id.

    Scale shape: both inputs are top-k tables — |queries| x k rows, a
    sketch of the corpus, not the corpus — so the equi-join on
    (query, neighbor) is tiny by construction; with a bounded query set
    AQE broadcasts one side. The expensive parts (the ANN searches
    themselves) are the INPUTS, already computed by their own
    scale-shaped operators; the eval adds one k-bounded join, which is
    why recall can be monitored continuously in production.
    """
    e = exact.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
    ).distinct()
    a = (
        approx.select(
            F.col(query_col).alias("query_id"),
            F.col(neighbor_col).alias("neighbor_id"),
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hit").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = max(|x|), elements -> floor(x * 127 / scale) in [-127, 127].

    Output: (id, qvec array<int>, scale double). At 100 TB this is the
    storage/shuffle lever for ANN: 4x smaller vectors on disk and in every
    bucket join; the measured bound (test_quantized_topk_recall_vs_exact)
    is >= 80% top-5 recall vs exact float cosine at dim 64. floor()
    over float64 is used (not round()) because floor is bit-identical
    across engines, so quantized search stays oracle-checkable; and all
    downstream dot products are exact integer sums (< 2^53), immune to
    float summation-order nondeterminism.
    """
    vec = F.col(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    return _spread(df.select(id_col, vec_col)).select(
        F.col(id_col).alias("id"),
        F.transform(
            vec, lambda x: F.floor(x.cast("double") * 127 / scale).cast("int")
        ).alias("qvec"),
        scale.alias("scale"),
    )


def cosine_topk_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors (quantize_embeddings).

    Same plan shape as the brute-force baseline — corpus streams, queries
    broadcast, per-group heap top-k — but every vector the join carries is
    a 4x-smaller int array and the dot products are exact integer sums.
    Output: (query_id, neighbor_id, qcosine, rn).
    """
    q = quantize_embeddings(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("qvec").alias("qa")
    )
    c = quantize_embeddings(corpus, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), F.col("qvec").alias("qb")
    )
    qcos = F.round(
        _dot(F.col("qa"), F.col("qb"))
        / (_norm(F.col("qa")) * _norm(F.col("qb"))),
        6,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qcosine", qcos)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "qcosine", "rn")
    )


def embedding_near_dupes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = 8,
    target_bucket_rows: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold),
    bucket-prefiltered with the same sign-LSH. Output (id_a, id_b, cosine).

    Note: sign-LSH prefiltering can miss near-dup pairs straddling a
    hyperplane; for exhaustive dedup run with n_planes=0 (single bucket)
    at correspondingly higher cost.

    SCALE: within-bucket candidate pairs grow as N^2 / 2^n_planes, so a
    FIXED plane count is quadratic across corpus growth — measured r08:
    a 3x corpus (20k -> 60k vectors, clean disjoint rotations) cost 4.2x
    wall at the registry's pinned n_planes=4. Pass ``n_planes=None`` to
    derive the plane count from the corpus size (one count() job):
    buckets scale with N so expected bucket population stays near
    ``target_bucket_rows`` and candidate work stays ~linear. The first
    ``n_planes`` vector coordinates are used as hyperplane signs, so the
    embedding dimension must be >= the derived count (capped at 24 ~
    16.7M buckets; beyond that pre-cluster with kmeans_cells/IVF).
    """
    if n_planes is None:
        import math

        n = df.count()
        n_planes = (
            0
            if n <= target_bucket_rows
            else min(24, math.ceil(math.log2(n / target_bucket_rows)))
        )
    # cut: the bucket self-join's two sides are separate plan subtrees,
    # so the corpus scan + sign-bucket projection ran twice per call (r10)
    # The norm rides the cut as a per-row column (r10, guide §4): the
    # within-bucket verification evaluates O(|bucket|^2) cosines, and
    # hoisting the two norms out of each pair leaves one dot-product
    # fold per candidate instead of three. Same operand order
    # (dot / (norm_l * norm_r)), so every cosine is bit-identical.
    b = truncate_lineage(
        _spread(df.select(id_col, vec_col)).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            _norm(F.col(vec_col)).alias("nv"),
            (
                _sign_bucket(F.col(vec_col), n_planes)
                if n_planes > 0
                else F.lit(0)
            ).alias("bucket"),
        )
    )
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("l.vec"), F.col("r.vec"))
                / (F.col("l.nv") * F.col("r.nv")),
                6,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            "cosine",
        )
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding: (label, n_vectors, centroid).

    The vector aggregate a clustering/IVF pipeline needs, shaped for
    scale: posexplode to (label, pos, val) scalar cells, aggregate with
    map-side partial combine (shuffle carries |labels| x dim doubles,
    never vectors), then rebuild the ordered array per label. No
    assumed dimension, no driver collect, no Python in the hot path.
    Values are rounded to 6 decimals so the result is stable across
    summation orders (floating-point addition is not associative; the
    raw double differs in the last bits between any two partitionings).
    """
    e = _spread(df.select(label_col, vec_col)).select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "val"),
    )
    cell = e.groupBy("label", "pos").agg(
        F.avg("val").alias("avg"), F.count(F.lit(1)).alias("n")
    )
    return cell.groupBy("label").agg(
        F.max("n").alias("n_vectors"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "avg"))),
            lambda s: F.round(s.avg, 6),
        ).alias("centroid"),
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    max_iter: int = 10,
    tol: float = 1e-4,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over an embedding column; returns the trained
    centroids as [(cell, vector)] — the trainer `cosine_topk_ivf`'s
    docstring promises ("swap in trained centroids for better recall").

    Deterministic end to end: seeds are the k lowest-id vectors, the
    assignment metric is cosine rounded to 6dp with cell-id tiebreak, and
    per-cell means are rounded to 6dp each round — so any partitioning,
    retry, or engine re-run reproduces the same model.

    Scale shape per iteration: assignment is a pure map-side expression
    against the k x dim centroid literals (zero shuffle — the same baked
    broadcast as IVF), then means reduce by scalar (cell, pos) cells with
    map-side partial aggregation. Only k x dim floats ever reach the
    driver, and the corpus is never collected. The (id, vector)
    projection is persisted MEMORY_AND_DISK for the duration of the fit —
    every Lloyd round reads the same data, so caching turns max_iter
    scans into one (blocks that don't fit memory spill to local disk; the
    persist is dropped before returning). An empty cell keeps its
    previous centroid (no respawn heuristics, to stay deterministic).
    """
    cent_rows = (
        df.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    )
    cents: list[tuple[int, list[float]]] = [
        (i, [round(float(x), 6) for x in r[vec_col]]) for i, r in enumerate(cent_rows)
    ]
    src = _spread(df.select(id_col, vec_col)).persist()
    for _ in range(max_iter):
        assigned = assign_cells(src, cents, vec_col).select(
            "cell", F.posexplode(vec_col).alias("pos", "val")
        )
        cell_means = (
            assigned.groupBy("cell", "pos")
            .agg(F.avg("val").alias("avg"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "avg"))),
                    lambda s: F.round(s.avg, 6),
                ).alias("centroid")
            )
            .collect()
        )
        new = {int(r.cell): [float(x) for x in r.centroid] for r in cell_means}
        shift = 0.0
        nxt: list[tuple[int, list[float]]] = []
        for cid, old in cents:
            vec = new.get(cid, old)  # empty cell keeps its centroid
            shift = max(shift, max((abs(a - b) for a, b in zip(vec, old)), default=0.0))
            nxt.append((cid, vec))
        cents = nxt
        if shift <= tol:
            break
    src.unpersist()
    return cents


def assign_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Label every row with its nearest trained centroid (cosine, 6dp,
    cell-id tiebreak) — the map-side assignment used by both kmeans_fit
    iterations and an IVF index build. Adds a `cell` int column.

    Two r10 rewrites (guide §1.3/§4):
    - the centroid matrix ships as ONE flat array literal sliced per
      centroid instead of k CreateArray(d literals) structs, so every
      Lloyd round analyzes a constant-size expression tree;
    - the row norm is projected ONCE per row and the centroid norms are
      pre-folded on the driver, so the per-row interpreted
      higher-order-function work drops from 3k array folds to k dots
      + 1 norm. The driver fold is the same left-to-right IEEE sum and
      sqrt the engine's `_norm` performs, and the division keeps the
      dot/(cnorm*rownorm) operand order — every cosine bit-identical."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    d = len(centroids[0][1])
    flat = F.lit([float(x) for _, vec in centroids for x in vec])
    cids = F.lit([int(cid) for cid, _ in centroids])

    def _pynorm(vec: list[float]) -> float:
        acc = 0.0
        for x in vec:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    cnorms = F.lit([_pynorm(vec) for _, vec in centroids])
    best = F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda i: F.struct(
                F.round(
                    _dot(F.slice(flat, i * d + 1, d), F.col(vec_col))
                    / (F.element_at(cnorms, i + 1) * F.col("__rownorm")),
                    6,
                ).alias("cos"),
                (-F.element_at(cids, i + 1)).alias("neg_cid"),
            ),
        )
    )
    return (
        df.withColumn("__rownorm", _norm(F.col(vec_col)))
        .withColumn("cell", (-best["neg_cid"]).cast("int"))
        .drop("__rownorm")
    )


def embedding_covariance(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Population covariance matrix of an embedding column — the input
    to PCA whitening, Mahalanobis outlier scoring, and ZCA decorrelation
    over a vector corpus. Output: (i, j, cov) for the upper triangle
    (i <= j), cov rounded to 4 dp.

    Why 4 dp: the Spark side sums per-partition numpy partials while a
    SQL oracle sums row-at-a-time in its own order; both totals agree to
    ~1e-9 relative, but at 6 dp a cell sitting exactly on a rounding
    boundary can round to different final digits depending on summation
    order (observed once at sf0.01). 4 dp leaves ~1e2 headroom over the
    float noise so the rounded values are order-independent, and loses
    nothing for the PCA/Mahalanobis consumers (covariances at magnitude
    ~1e-2).

    Scale shape: one `mapInPandas` pass emits PER-PARTITION sufficient
    statistics — n, per-coordinate sums, and the d x d sum of outer
    products (one numpy `X.T @ X` per Arrow batch) — so each partition
    contributes d(d+1)/2 rows regardless of row count, and the final
    groupBy merges |partitions| partials. Python is the right tool here
    (a documented exception to the stay-JVM rule): the column-expression
    alternative explodes d^2/2 cells per ROW before partial aggregation
    (~2000x row blowup at d=64), while BLAS computes the same partials
    in one matrix multiply per batch. Values are widened float32 ->
    float64 BEFORE multiplying, so products are bit-identical to a SQL
    engine computing on DOUBLE.
    """
    import numpy as np
    import pandas as pd

    schema = "i int, j int, n long, s_xy double, s_x double, s_y double"

    def partials(batches):
        for pdf in batches:
            vecs = pdf[vec_col].to_numpy()
            if not len(vecs):
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            n, d = X.shape
            S = X.T @ X
            s = X.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu,
                    "j": ju,
                    "n": np.full(len(iu), n, dtype=np.int64),
                    "s_xy": S[iu, ju],
                    "s_x": s[iu],
                    "s_y": s[ju],
                }
            )

    merged = (
        df.select(vec_col)
        .mapInPandas(partials, schema=schema)
        .groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s_xy").alias("s_xy"),
            F.sum("s_x").alias("s_x"),
            F.sum("s_y").alias("s_y"),
        )
    )
    return merged.select(
        "i",
        "j",
        # + 0.0 normalizes IEEE negative zero: a tiny negative covariance
        # rounds to -0.0, which string-compares unequal to the oracle's
        # +0.0 (or vice versa). -0.0 + 0.0 = +0.0 on both engines.
        (
            F.round(
                (F.col("s_xy") - F.col("s_x") * F.col("s_y") / F.col("n"))
                / F.col("n"),
                4,
            )
            + F.lit(0.0)
        ).alias("cov"),
    ).orderBy("i", "j")


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = 3,
) -> DataFrame:
    """Top principal component of an embedding corpus by distributed
    power iteration — the direction PCA whitening, 1-d projection
    indexes, and embedding drift monitors need first. Output: one row
    per coordinate, (i, loading), the unit eigenvector of the
    population covariance after `iters` rounds.

    The covariance matrix is NEVER materialized: each round computes
    w = C v = (1/n) * sum_rows x (x . v) - mu (mu . v) directly from
    the rows — one job per round that explodes (pos, x*dot) cells and
    partially aggregates d per-coordinate sums (the kmeans_fit
    cell-means shape: scalar group keys keep codegen small, map-side
    combine keeps the shuffle at d rows per partition), with the
    current v baked in as an array literal. Only d floats reach the
    driver per round (the kmeans_fit contract), so the corpus never
    collects and nothing shuffles row-shaped data: at 100 TB this is
    `iters` scans, each reducing to a d-float vector.

    Determinism (the kmeans_fit recipe): the start vector is the
    rounded uniform unit vector, the mean vector is rounded to 6 dp
    once, and v is re-rounded to 6 dp after every normalization — so
    any partitioning, retry, or other engine (the DuckDB oracle unrolls
    the same rounds in SQL) reproduces the iterates up to 6-dp
    rounding-boundary ties (partition-order float summation can still
    flip the 6th decimal when an unrounded value sits exactly on a
    rounding boundary; the rounding makes that event rare, not
    impossible).
    Driver-side rounding is half-away-from-zero to match SQL ROUND and
    Spark F.round (Python's builtin round() is half-to-even and would
    diverge on exact ties). Float32 cells are widened to float64 before
    any product. A zero-variance corpus (C v = 0) short-circuits and
    returns the current iterate — every direction is equally principal.
    """
    import math

    def _round6(x: float) -> float:
        # half-away-from-zero at 6 dp, the ROUND both SQL engines use
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    # ONE pass discovers the fit dimension AND the per-position sums:
    # cells group by (vector length, position), so the driver receives
    # Σ(distinct lengths) rows — d + a few for a clean corpus — and can
    # pick the MAJORITY length (ties -> smallest) plus that length's
    # sums without a separate probe scan (the r05 review found the
    # dedicated majority-length probe added a whole extra corpus pass).
    # NULL vectors are excluded here; ragged vectors are excluded by
    # taking only the majority-length slice, matching the oracle's
    # length filter. Grouping is NOT by the physical first row, whose
    # partition order is undefined.
    all_stats = (
        _spread(df.where(F.col(vec_col).isNotNull()).select(F.col(vec_col).alias("v")))
        .select(F.size("v").alias("__len"), F.posexplode("v").alias("pos", "x"))
        .groupBy("__len", "pos")
        .agg(
            F.sum(F.col("x").cast("double")).alias("s"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    if not all_stats:
        raise ValueError(f"no non-NULL non-empty {vec_col!r} vectors to fit")
    # vectors of length L contribute cnt rows at every pos < L, so the
    # count at (L, 0) IS the number of length-L vectors
    len_counts = {r["__len"]: r["cnt"] for r in all_stats if r["pos"] == 0}
    d = min(L for L, c in len_counts.items() if c == max(len_counts.values()))
    n = len_counts[d]
    by_pos = {r["pos"]: r["s"] for r in all_stats if r["__len"] == d}
    base = _spread(
        df.select(F.col(vec_col).alias("v")).where(
            F.col("v").isNotNull() & (F.size(F.col("v")) == d)
        )
    )
    mu = [_round6(by_pos[i] / n) for i in range(d)]
    v = [_round6(1.0 / math.sqrt(d))] * d
    spark = df.sparkSession
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("varr"), lambda x, w: x.cast("double") * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(iters):
        # v rides in as a broadcast 1-row table rather than an array
        # literal: the generated code is identical every round, so
        # whole-stage codegen compiles once instead of per-iteration
        vdf = spark.createDataFrame([(v,)], "varr array<double>")
        rows = (
            base.crossJoin(F.broadcast(vdf))
            # dot is PROJECTED BELOW the explode (r11): Catalyst places
            # non-generator expressions of a generate-select in a Project
            # ABOVE the Generate, re-evaluating the interpreted d-element
            # aggregate once per exploded cell (d times per vector) —
            # measured 2.2x on the per-round stage at sf0.1
            .select(F.col("v"), dot.alias("dot"))
            .select(F.col("dot"), F.posexplode("v").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.sum(F.col("x").cast("double") * F.col("dot")).alias("s"))
            .collect()
        )
        s = {r["pos"]: r["s"] for r in rows}
        muv = sum(m * x for m, x in zip(mu, v))
        w = [s[i] / n - mu[i] * muv for i in range(d)]
        nrm = math.sqrt(sum(x * x for x in w))
        if nrm == 0.0:
            break  # zero-variance corpus: keep the current iterate
        v = [_round6(x / nrm) for x in w]
    return df.sparkSession.createDataFrame(
        [(i, v[i]) for i in range(d)], "i int, loading double"
    )


def pca_project(
    df: DataFrame,
    component: list[float],
    mu: list[float] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out: str = "pc1",
) -> DataFrame:
    """Project every embedding onto a fixed component (from
    `pca_top_component`): score = (x - mu) . v as a pure map-side
    column expression — the component is baked in as an array literal,
    so projection of a 100 TB corpus is a zero-shuffle scan. Output:
    (id, pc1) rounded to 6 dp."""
    varr = F.lit([float(x) for x in component])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), varr, lambda x, w: x.cast("double") * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    shift = sum(m * x for m, x in zip(mu, component)) if mu else 0.0
    return df.select(F.col(id_col), F.round(dot - F.lit(shift), 6).alias(out))


def random_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 16,
    seed: str = "jl",
    out: str = "proj",
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto `out_dim` deterministic +-1 directions, scaled by
    1/sqrt(out_dim) so pairwise distances are preserved in expectation
    — the cheap pre-step that lets LSH/ANN/clustering run on 16 dims
    instead of 768. Output: (id, proj array<double>), each coordinate
    rounded to 6 dp; rows whose vector is NULL or differs in length from
    the input dimension are excluded (the matrix is sized once).

    Pass `dim` when the corpus dimension is known (it almost always is)
    and the operator is a true ZERO-SHUFFLE single pass. With dim=None
    it is discovered as the majority vector length, which costs one
    extra aggregation pass over the corpus before the projection — the
    price of not trusting an order-undefined first row.

    The projection matrix is never stored: sign s[j][i] is the parity
    of md5(f"{seed}-{j}-{i}") — the repo's standard engine-portable
    hash, so any SQL engine replays the exact matrix. It rides in as a
    broadcast 1-row array-of-arrays (the pca_top_component recipe:
    stable codegen, no giant literal tree), making the whole operator a
    ZERO-SHUFFLE map over the corpus — at 100 TB this is one scan, and
    the sketch-sized output is what downstream stages shuffle instead
    of the full-width vectors.
    """
    import hashlib
    import math

    if out_dim <= 0:
        raise ValueError(f"out_dim must be positive, got {out_dim}")
    if dim is not None:
        if dim <= 0:
            raise ValueError(f"dim must be positive, got {dim}")
        d = dim
    else:
        # majority vector length, not the order-undefined first row — a
        # ragged/NULL row surfacing first must not size the matrix
        probe = (
            df.where(F.col(vec_col).isNotNull())
            .groupBy(F.size(F.col(vec_col)).alias("d"))
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), F.asc("d"))
            .first()
        )
        if probe is None:
            raise ValueError(f"no non-NULL {vec_col!r} vectors to project")
        d = int(probe["d"])

    def sgn(j: int, i: int) -> float:
        h = int(hashlib.md5(f"{seed}-{j}-{i}".encode()).hexdigest()[:15], 16)
        return 1.0 if h % 2 == 1 else -1.0

    signs = [[sgn(j, i) for i in range(d)] for j in range(out_dim)]
    sdf = df.sparkSession.createDataFrame(
        [(signs,)], "__signs array<array<double>>"
    )
    scale = 1.0 / math.sqrt(out_dim)
    proj = F.transform(
        F.col("__signs"),
        # + 0.0 normalizes IEEE -0.0: a tiny-negative dot product rounds
        # to negative zero, which string-hashes as '-0.0' != '0.0'
        # (surfaced by the sf1.0 probe, r07; same fix as
        # embedding_covariance) — mirrored by + CAST(0 AS DOUBLE) in the
        # oracle
        lambda s: F.round(_dot(F.col(vec_col), s) * scale, 6) + F.lit(0.0),
    )
    return (
        # NULL or ragged vectors are excluded, not silently projected to
        # NULLs: the matrix was sized from the first row, and zip_with
        # against a different length would pad with NULLs and poison the
        # dot product
        df.where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == d))
        .crossJoin(F.broadcast(sdf))
        .select(F.col(id_col), proj.alias(out))
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): vectors
    whose embedding cosine exceeds `threshold` are semantic duplicates;
    duplicate pairs are closed transitively and each group keeps its
    minimum id as the representative. Output (id, rep) for EVERY input
    row — singletons represent themselves; keep rows where rep == id to
    materialize the semantically deduplicated corpus. This is the
    embedding-space sibling of dedup_clusters (which groups on lexical
    n-gram Jaccard): paraphrases and near-verbatim translations that
    share no shingles still collapse here.

    Scale shape: candidate pairs come from embedding_near_dupes'
    sign-LSH bucket equi-join (never all-pairs; n_planes=None derives
    the plane count from one corpus count() so candidate work stays
    ~linear as the corpus grows); transitive closure is the shared
    iterative min-label propagation (O(component diameter) rounds,
    lineage-truncated per round, one job per round via observe). Dup
    groups in a deduplicated corpus are shallow — a handful of rounds.
    The final labeling joins back on the id column only; embeddings
    never leave the pair stage.
    """
    from hdp_tez_spark.extensions.dedup import connected_components

    pairs = embedding_near_dupes(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold, n_planes=n_planes
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(cc, df[id_col] == cc.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("rep"),
        )
    )


def mmr_select(
    corpus: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR'98): greedily pick k items maximizing
        lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)
    — the standard diversity-aware subset selector for retrieval
    reranking and training-data curation (relevant AND mutually
    non-redundant). rel/sim are cosine similarities.

    Determinism contract (the registry's 6-dp cosine convention): every
    cosine is rounded to 6 dp before entering a score, ties break on
    ascending id, and `lam` should be dyadic (0.5, 0.25, ...) so the
    blend is one exact float multiply — the argmax each round is then
    engine-reproducible, not summation-noise roulette.

    Scale shape: k bounded driver round-trips, each a map-side scan +
    TakeOrdered(1) — no shuffle, no |corpus|^2 similarity matrix, state
    is k (id, vector) pairs on the driver (aggregate-sized, like the
    k-means centroids). The marginal penalty is maintained INCREMENTALLY
    (r10, guide §1.3/§5): after pick r the running max-similarity column
    folds in ONE new cosine-vs-literal and the updated frame replaces
    the cached candidate table, so each round adds O(1) NEW expressions
    — analyzed-plan depth is linear in k (each generation layers a
    withColumn over the previous cached frame and the isin() exclusion
    list grows with picks), i.e. O(k) analysis per round / O(k^2)
    total, vs the r09 shape that re-planned a greatest() over r-1
    cosine EXPRESSION STACKS per round — 1.3-2.8s/round of pure
    Catalyst analysis at bench scale — and evaluated O(k^2/2) cosines
    per row overall vs O(k) now. At the registry's k=8 the linear
    depth is noise; a caller pushing k into the hundreds should
    periodically collapse the frame via a checkpoint (~every 32
    rounds).
    max() is associative, so greatest(pen, new) over rounds is
    bit-identical to the flat greatest over all selected (Spark orders
    NaN above any double in BOTH forms); the candidate's own norm is
    projected once at cache time — same expression, same operand order,
    same bits as recomputing it per round.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    qlit = F.lit([float(v) for v in query_vec])
    cand = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__rel", F.round(cosine(F.col("__v"), qlit), 6)).withColumn(
        "__nv", _norm(F.col("__v"))
    )
    cur = cand.cache()
    retired: DataFrame | None = None  # previous generation, unpersist after successor materializes
    try:
        picked: list[tuple[int, int, float]] = []
        for step in range(1, k + 1):
            # step 1 has no penalty term (argmax of lam * rel alone);
            # later steps take the TRUE max over selected — which can be
            # negative, so never clamp it at 0
            max_sim = F.col("__pen") if picked else F.lit(0.0)
            score = F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * max_sim
            top = (
                cur.where(
                    ~F.col("__id").isin([i for _, i, _ in picked])
                    if picked
                    else F.lit(True)
                )
                .orderBy(F.desc(score), F.asc("__id"))
                .limit(1)
                .select("__id", "__v", "__rel")
                .collect()
            )
            # the collect materialized `cur`'s cache, so its parent
            # generation can go without forcing a recompute
            if retired is not None:
                retired.unpersist()
                retired = None
            if not top:
                break  # corpus exhausted before k picks
            row = top[0]
            picked.append((step, row["__id"], row["__rel"]))
            if step == k:
                continue  # last pick needs no penalty update
            vlit = F.lit([float(x) for x in row["__v"]])
            sim = F.round(
                _dot(F.col("__v"), vlit) / (F.col("__nv") * _norm(vlit)), 6
            )
            pen = F.greatest(F.col("__pen"), sim) if len(picked) > 1 else sim
            retired, cur = cur, cur.withColumn("__pen", pen).cache()
        spark = corpus.sparkSession
        # the operator is id-type-agnostic (string/UUID ids are as valid
        # as bigints), so the result schema inherits the corpus id type
        # instead of hardcoding BIGINT (ADVICE r08)
        schema = T.StructType(
            [
                T.StructField("step", T.IntegerType(), False),
                T.StructField(
                    "selected_id", corpus.schema[id_col].dataType, True
                ),
                T.StructField("rel", T.DoubleType(), True),
            ]
        )
        return spark.createDataFrame(picked, schema=schema).orderBy("step")
    finally:
        cur.unpersist()
        if retired is not None:
            retired.unpersist()


def embedding_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Per-dimension standardized embedding outlier score — the
    curation audit that flags vectors far from the corpus distribution
    (mis-embedded rows, wrong-modality payloads, collapsed/all-zero
    vectors) before they poison semantic dedup or ANN recall. Score is
    the RMS per-dimension z-score (diagonal-covariance Mahalanobis
    distance / sqrt(d)):

        score(v) = sqrt( mean_j ((v_j - mu_j) / sigma_j)^2 )

    with mu/sigma the corpus per-dimension mean and POPULATION stddev;
    dimensions with sigma = 0 contribute 0 (constant dims carry no
    outlier signal). The full-covariance version needs a d x d inverse
    (see `embedding_covariance` for the stats); the diagonal form is
    the standard first-pass screen and keeps every step oracle-
    checkable. Output: the top_n (id, score) rows by (score DESC, id),
    score rounded to 6 dp.

    Scale shape: ONE posexplode pass collapses the corpus to a
    d-row (pos, mu, sigma) stats table (map-side partial agg over
    scalar cells); the table broadcasts back onto a second posexplode
    and the per-id score is another partial-agg collapse keyed by id —
    shuffle rows are (id, double) cells, never vectors. Selection is
    TakeOrderedAndProject(top_n), no global sort.
    """
    cells = _spread(df.select(id_col, vec_col)).select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    stats = cells.groupBy("pos").agg(
        F.avg("val").alias("mu"),
        F.stddev_pop("val").alias("sigma"),
    )
    z = (
        cells.join(F.broadcast(stats), "pos")
        .withColumn(
            "__z",
            F.when(
                F.col("sigma") > 0,
                (F.col("val") - F.col("mu")) / F.col("sigma"),
            ).otherwise(F.lit(0.0)),
        )
        .groupBy("vid")
        .agg(F.round(F.sqrt(F.avg(F.col("__z") * F.col("__z"))), 6).alias("score"))
    )
    return (
        z.select(F.col("vid").alias(id_col), "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(top_n)
    )


def knn_label(
    queries: DataFrame,
    train: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """k-NN majority-vote classification over an embedding column — the
    consumer every ANN index ultimately serves (weak labeling, label
    propagation onto unlabeled shards, eval of embedding quality by
    label agreement). For each query vector: the k nearest TRAIN
    vectors by cosine (exact brute force — swap in the LSH/IVF topk
    for the 100 TB path, same contract), majority label among them,
    ties broken to the SMALLEST label so the vote is deterministic.
    Output: (query_id, label, votes, k_used) ordered by query_id.

    Scale shape: rides cosine_topk_bruteforce (query side broadcast,
    per-group heap via WindowGroupLimit — the |q|x|corpus| product
    never sorts fully); neighbor labels arrive through ONE id-keyed
    equi-join against the |train| label table (never carried through
    the distance math); the vote is a (query, label) cell aggregate
    + argmax window over <= k rows per query.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    nn = cosine_topk_bruteforce(queries, train, id_col, vec_col, k=k)
    labs = train.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("label")
    )
    votes = (
        nn.join(labs, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    totals = nn.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("k_used")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .join(totals, "query_id")
        .select("query_id", "label", "votes", "k_used")
        .orderBy("query_id")
    )


def embedding_separability(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label separability of an embedding space — the one-number answer
    to "do these embeddings know about this labeling?": within-class
    vs between-class scatter and the Calinski-Harabasz pseudo-F
    ratio (Calinski & Harabasz, Comm. Statistics 1974),
    CH = (B/(k-1)) / (W/(n-k)). High CH = classes form tight separated
    clouds (the labeling is recoverable from geometry); CH near 1 =
    the embedding is blind to it. Scatter is computed by the exact
    sufficient-statistics identity (W = sum x^2 - sum n_c mu_c^2 per
    dimension; B = sum n_c (mu_c - mu)^2) — one pass, no second scan
    against broadcast centroids. Output: ONE row (n, k, within_ss,
    between_ss, calinski_harabasz), SS rounded to 4 dp (the
    embedding_covariance precedent: 100x headroom over summation-order
    noise), CH to 4 dp.

    Scale shape: ONE (label, dim) cell collapse of the exploded
    vectors (cells = k*d rows, independent of corpus size); the global
    mean derives from the SAME cells; everything after is cell math.
    """
    base = df.where(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(F.col(label_col).alias("__l"), F.posexplode(F.col(vec_col)))
    cells = base.groupBy("__l", "pos").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("col").cast("double")).alias("__s"),
        F.sum(F.col("col").cast("double") * F.col("col")).alias("__ss"),
    )
    # global per-dimension mean from the same cells
    gdim = cells.groupBy("pos").agg(
        (F.sum("__s") / F.sum("__n")).alias("__gmu")
    )
    mu = F.col("__s") / F.col("__n")
    per_cell = cells.join(F.broadcast(gdim), "pos").select(
        "__l",
        "__n",
        (F.col("__ss") - F.col("__n") * mu * mu).alias("__w"),
        (F.col("__n") * (mu - F.col("__gmu")) * (mu - F.col("__gmu"))).alias(
            "__b"
        ),
        F.col("__n").alias("__nc"),
        F.col("pos"),
    )
    agg = per_cell.agg(
        # rows per class counted once (cells repeat per dimension)
        (F.sum(F.when(F.col("pos") == 0, F.col("__nc")))).alias("n"),
        F.count_distinct(F.col("__l")).alias("k"),
        F.sum("__w").alias("__W"),
        F.sum("__b").alias("__B"),
    )
    W, B = F.col("__W"), F.col("__B")
    n, k = F.col("n").cast("double"), F.col("k").cast("double")
    ch = F.when(
        (F.col("k") > 1) & (W > 0) & (n > k),
        (B / (k - 1)) / (W / (n - k)),
    )
    return agg.select(
        "n",
        "k",
        F.round(W, 4).alias("within_ss"),
        F.round(B, 4).alias("between_ss"),
        F.round(ch, 4).alias("calinski_harabasz"),
    )
