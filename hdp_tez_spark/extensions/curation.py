"""Corpus-curation operators: eval-set decontamination, deterministic
stratified sampling, sequence packing, domain-mixture planning and
execution, and temperature-scaled importance sampling.

Beyond-reference extension (the reference engine has no data-curation
surface; SURVEY §2.8 lists the expression layer as absent) — these are
the remaining operators a 100 TB training-data pipeline runs between
dedup and tokenization.

Shared design rules (same as dedup.py / splits.py):
- every hash is md5-derived so any ANSI-SQL oracle reproduces it
  exactly; never engine-private hash functions.
- every assignment (sample membership, pack id) is a pure function of
  row content — task retries, re-partitioning, and incremental re-runs
  cannot move a row, which is what makes the outputs usable as stable
  dataset versions.
- nothing is quadratic in corpus size and nothing collects to the
  driver; shuffles carry ids + 8-byte hashes, not document bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hdp_tez_spark.extensions.dedup import _md5_long, _shingles
from hdp_tez_spark.extensions.splits import hash_bucket
from hdp_tez_spark.functions.text import tokenize
from hdp_tez_spark.parallel import spread as _spread
from hdp_tez_spark.plans.checkpoints import truncate_lineage


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Flag training documents that share any word k-gram with an
    eval/test corpus — the standard benchmark-decontamination pass run
    before every pretraining job (eval questions leaking into training
    data inflate scores).

    Output: (id, n_hits, contaminated) for every train row, where
    n_hits counts the *distinct* shared k-grams and contaminated is
    0/1. Filter `contaminated = 0` to get the clean corpus.

    Scale: both sides explode to distinct shingles map-side, then meet
    in ONE equi-join on an 8-byte md5-derived hash — shuffle volume is
    (train shingles + test shingles) x 16 bytes, never text bodies, and
    never |train| x |test|. The test side is deduplicated to distinct
    shingles first, so a popular eval n-gram costs one row. If the test
    corpus is small (the usual case), AQE turns the join into a
    broadcast automatically — unforced, so a 10 TB "test" side still
    works.
    """
    # _spread before the shingle explode: a single-split input would
    # otherwise run the whole regex/md5 expression tree in one task
    t_sh = _spread(train.select(id_col, text_col)).select(
        F.col(id_col), F.explode(_shingles(F.col(text_col), k)).alias("__sh")
    ).select(F.col(id_col), _md5_long(F.col("__sh")).alias("__h"))
    e_sh = (
        _spread(test.select(text_col))
        .select(F.explode(_shingles(F.col(text_col), k)).alias("__sh"))
        .select(_md5_long(F.col("__sh")).alias("__h"))
        .distinct()
    )
    hits = (
        t_sh.join(e_sh, "__h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).cast("int").alias(
                "contaminated"
            ),
        )
    )


def stratified_sample_fraction(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fracs: dict[str, float],
    default_frac: float = 0.0,
    buckets: int = 1000,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its id's
    hash bucket falls under the stratum's cutoff. The curation knob for
    re-weighting a corpus mix (e.g. keep 100% of books, 10% of web).

    Pure map-side filter — zero shuffle, stays in whole-stage codegen,
    and the kept set is a stable function of (id, stratum): re-running
    on a grown corpus keeps exactly the previously-kept rows plus new
    ones, so incremental pipelines don't churn.

    `fracs` maps stratum value -> fraction in [0, 1]; unlisted strata
    get `default_frac`. Resolution is 1/buckets.
    """
    for s, f in fracs.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0,1], got {f}")
    b = hash_bucket(F.col(id_col), buckets)
    cutoff = F.lit(int(round(default_frac * buckets)))
    for s, f in sorted(fracs.items()):
        cutoff = F.when(
            F.col(strata_col) == F.lit(s), F.lit(int(round(f * buckets)))
        ).otherwise(cutoff)
    return df.where(b < cutoff)


def stratified_sample_exact(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    n: int,
) -> DataFrame:
    """Exactly min(n, stratum size) rows per stratum, picked by md5 order
    of the id — a deterministic stand-in for per-stratum random sampling
    (md5 order is uncorrelated with any data attribute, so it behaves
    like a fixed random permutation shared by every engine).

    One shuffle on the stratum key; the per-stratum window is a
    streaming rank over the sorted run. Skewed strata are bounded by
    early rank cutoff under AQE; for a stratum too hot for one task,
    pre-filter with `stratified_sample_fraction` to ~10n first.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    num_buckets: int = 1024,
) -> DataFrame:
    """Concat-and-chunk packing assignment: lay documents end-to-end (in
    md5 order of id, within `num_buckets` independent hash buckets) and
    cut every `budget` tokens — the layout LLM pretraining uses to fill
    fixed-length context windows without padding.

    Output per doc: (id, n_tokens, bucket, pack_idx, pack_offset) —
    the doc's bytes start at `pack_offset` tokens into pack
    (bucket, pack_idx); a doc whose span crosses a cut continues into
    the next pack, exactly like run-on pretraining chunks. Global pack
    identity is the (bucket, pack_idx) pair.

    Scale: ONE shuffle on the bucket (corpus/num_buckets rows per
    partition — size buckets so a bucket's (id, n_tokens) pairs fit a
    task, ~10-100M docs each; the window never materializes text). The
    assignment is a pure function of (id, n_tokens), so retries and
    re-partitioning reproduce it bit-for-bit.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    b = hash_bucket(F.col(id_col), num_buckets)
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tokens_col).over(w)
    before = (cum - F.col(n_tokens_col)).cast("long")
    return (
        df.select(F.col(id_col), F.col(n_tokens_col))
        .withColumn("bucket", b)
        .withColumn("__before", before)
        # integer DIV, not floor(double /): token offsets past 2^53 per
        # bucket would lose exactness under float division
        .withColumn("pack_idx", F.expr(f"__before DIV {int(budget)}"))
        .withColumn("pack_offset", F.col("__before") % budget)
        .drop("__before")
    )


def curate_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    near_dup_threshold: float = 0.5,
    min_quality: float = 0.3,
    train_frac: float = 0.9,
    pack_budget: int = 2048,
    k: int = 3,
) -> dict[str, DataFrame]:
    """The full curation flow, composed from the individual operators —
    what a training-data pipeline actually runs end to end:

    1. near-dup cluster + keep the best copy  (dedup_keep_best)
    2. quality-filter the survivors           (textstats.quality_score)
    3. leakage-safe split on the cluster rep  (hash of rep, not doc id)
    4. decontaminate train against test       (decontaminate)
    5. pack the clean train set               (pack_sequences)

    Returns lazy DataFrames: {"kept", "train", "test", "packed"} — the
    caller materializes whichever stage it needs; Catalyst sees each
    output's full lineage, so filters/pruning flow through the whole
    composition.

    Ordering rationale (the part people get wrong): the split hashes the
    near-dup cluster rep BEFORE decontamination so near-duplicate leaks
    can't straddle the boundary, and decontamination runs train-vs-test
    AFTER dedup so it only pays for surviving documents.
    """
    from hdp_tez_spark.extensions.dedup import dedup_keep_best
    from hdp_tez_spark.extensions.splits import hash_bucket
    from hdp_tez_spark.extensions.textstats import token_stats

    best = dedup_keep_best(df, id_col, text_col, k=k, threshold=near_dup_threshold)
    kept = (
        df.join(best.select(F.col("keep_id").alias(id_col), "cluster_rep", "quality"),
                id_col)
        .where(F.col("quality") >= min_quality)
    )
    cutoff = int(round(train_frac * 1000))
    split = kept.withColumn(
        "split",
        F.when(hash_bucket(F.col("cluster_rep"), 1000) < cutoff, F.lit("train"))
        .otherwise(F.lit("test")),
    )
    train = split.where(F.col("split") == "train")
    test = split.where(F.col("split") == "test")
    clean_ids = decontaminate(train, test, id_col, text_col, k=k).where(
        F.col("contaminated") == 0
    )
    clean = train.join(clean_ids.select(id_col), id_col)
    toks = token_stats(clean, id_col, text_col).select(id_col, "n_tokens")
    packed = pack_sequences(toks, id_col, "n_tokens", pack_budget)
    return {"kept": kept, "train": train, "test": test, "packed": packed}


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping word-window chunks — the
    context-window shaping pass run before embedding or tokenizing long
    documents (stride < chunk_size gives overlap so no boundary context
    is lost).

    Output: (id, chunk_idx, n_chunk_tokens, chunk) where chunk is the
    space-joined token window starting at chunk_idx * stride. Documents
    shorter than one chunk yield one chunk; empty documents yield none.
    Chunk identity is a pure function of (id, text) — stable across
    retries and re-runs.

    Scale: pure map-side transform (tokenize + sequence + explode +
    slice), zero shuffle, stays in whole-stage codegen. Output row
    count ~= corpus_tokens / stride; chunk length is bounded by
    construction so downstream Arrow batches never blow up.
    """
    if chunk_size <= 0 or stride <= 0:
        raise ValueError("chunk_size and stride must be positive")
    # last start index: largest multiple of stride strictly below n
    last = (F.size("__toks") - 1) - F.pmod(F.size("__toks") - 1, F.lit(stride))
    return (
        _spread(df.select(id_col, text_col))
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
        .where(F.size("__toks") > 0)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(F.sequence(F.lit(0), last, F.lit(stride))).alias("__start"),
        )
        .where(
            # drop trailing windows fully contained in the previous one
            (F.col("__start") == 0)
            | (F.col("__start") + chunk_size - stride < F.size("__toks"))
        )
        .select(
            F.col(id_col),
            F.expr(f"__start DIV {int(stride)}").alias("chunk_idx"),
            F.least(
                F.lit(chunk_size), F.size("__toks") - F.col("__start")
            ).alias("n_chunk_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("__start") + 1, chunk_size)
            ).alias("chunk"),
        )
    )


def bloom_decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """`decontaminate` with a Bloom prefilter: same EXACT output
    (id, n_hits, contaminated), but the expensive train-side shingle
    shuffle is restricted to documents the filter flags.

    How: the eval corpus's distinct k-gram hashes set n_hashes bits
    each in an m_bits bitmap, built as a (word_idx, bits) table of
    m_bits/64 rows via bit_or aggregation — 2 MB at the default m, an
    AQE broadcast join, never collected to the driver. Train shingles
    probe the bitmap map-side; only documents whose every-bit-set
    candidates survive go through the exact hash equi-join of
    `decontaminate`. False positives cost only wasted verification;
    false negatives are impossible, so the result is bit-identical to
    the exact operator (which is what the oracle checks).

    Scale: at 100 TB the clean majority of the corpus now joins against
    a broadcast bitmap instead of shuffling ~10^12 shingle hashes into
    an equi-join — shuffle volume drops from O(train shingles) to
    O(flagged shingles). Size m_bits ~ 16x distinct eval shingles for
    ~1% FP; the bitmap stays broadcastable up to billions of eval
    shingles (2^33 bits = 1 GB is the practical ceiling — beyond that,
    partition the test side and union).

    The bitmap probe uses xxhash64 — engine-private is fine here
    because the filter only PRUNES; every emitted hit is re-verified
    through the md5-keyed exact join shared with the oracle.
    """
    t_sh = _spread(train.select(id_col, text_col)).select(
        F.col(id_col), F.explode(_shingles(F.col(text_col), k)).alias("__sh")
    )
    # cut: the distinct eval shingles feed the bitmap build AND the
    # exact-verify hash set — two plan subtrees, so the test-corpus
    # tokenize + distinct shuffle ran twice per call without it (r10)
    e_sh = truncate_lineage(
        _spread(test.select(text_col))
        .select(F.explode(_shingles(F.col(text_col), k)).alias("__sh"))
        .distinct()
    )

    def positions(col):
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
            for i in range(n_hashes)
        ]

    bitmap = (
        e_sh.select(F.explode(F.array(*positions(F.col("__sh")))).alias("__pos"))
        .select(
            F.expr("__pos DIV 64").alias("__word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))").alias("__bit"),
        )
        .groupBy("__word")
        .agg(F.bit_or("__bit").alias("__bits"))
    )

    probe = t_sh.select(
        F.col(id_col),
        # 8-byte hash rides through the probe shuffle, never the string
        _md5_long(F.col("__sh")).alias("__h"),
        F.posexplode(F.array(*positions(F.col("__sh")))).alias("__i", "__pos"),
    ).select(
        F.col(id_col),
        "__h",
        F.expr("__pos DIV 64").alias("__word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))").alias("__bit"),
    )
    maybe = (
        probe.join(bitmap, "__word")
        .where((F.col("__bit").bitwiseAND(F.col("__bits"))) != 0)
        .groupBy(id_col, "__h")
        .agg(F.count(F.lit(1)).alias("__nset"))
        .where(F.col("__nset") == n_hashes)
        .select(F.col(id_col), "__h")
    )
    e_hash = e_sh.select(_md5_long(F.col("__sh")).alias("__h")).distinct()
    # merge-pinned: e_hash grows with the EVAL corpus (the one input
    # the operator does not bound — m_bits caps the bitmap, not this),
    # and AQE's broadcast of it is the only unbounded build in the
    # plan. Measured: the r09 sf1.0 full-registry sweep OOMed exactly
    # here ("not enough memory to build and broadcast") once ~200
    # prior queries had fragmented the shared driver heap; solo runs
    # passed, which is the signature of a build that only fits when
    # the heap is fresh. SMJ costs little — `maybe` is already pruned
    # to flagged docs' shingles — and can never OOM (the
    # prefix_filter_join precedent: hint honored through AQE replans).
    hits = (
        maybe.join(e_hash.hint("merge"), "__h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).cast("int").alias(
                "contaminated"
            ),
        )
    )


def mixture_weights(
    df: DataFrame,
    domain_col: str,
    tokens_col: str,
    target: dict[str, float],
    budget_tokens: int,
) -> DataFrame:
    """Domain-mixing plan for a token budget: given per-document token
    counts and a target mixture (domain -> relative weight), compute per
    observed domain the sampling rate / repeat epochs that realize the
    target under `budget_tokens` — the planning step every multi-source
    pretraining corpus runs before `stratified_sample_fraction` executes
    the mix (Pile/Dolma-style domain reweighting).

    Output per domain present in the corpus, ordered by domain:
    (domain, docs, tokens, corpus_share, target_share, sample_rate,
    epochs). `sample_rate` = min(1, desired/available) is the downsample
    knob; `epochs` = desired/available is the raw ratio whose excess over
    1 is the upsample (repeat) factor; both NULL when the domain has no
    tokens. Domains absent from `target` get share 0; target domains
    absent from the corpus produce no row (nothing to sample).

    Scale shape: ONE map-side-combined groupBy collapses the corpus to
    |domains| rows; everything after (the total-token window, the share
    arithmetic) runs on that domain-count-bounded aggregate, so the
    unpartitioned window is a |domains|-row funnel, not a data funnel.
    All shares are ratios of exact integer sums rounded to 6 dp —
    engine-portable with no float-summation noise.
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    if not target:
        raise ValueError("target must be non-empty")
    for k, v in target.items():
        if v < 0:
            raise ValueError(f"target weight for {k!r} must be >= 0, got {v}")
    tot_w = float(sum(target.values()))
    if tot_w <= 0:
        raise ValueError("target weights must sum to a positive value")
    # normalize driver-side so both engines consume identical literals
    shares = {k: v / tot_w for k, v in target.items()}

    per_dom = (
        df.groupBy(F.col(domain_col).alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.coalesce(F.sum(F.col(tokens_col).cast("long")), F.lit(0)).alias(
                "tokens"
            ),
        )
    )
    w_all = Window.partitionBy()  # |domains| rows only — bounded funnel
    # flat map-literal lookup, NOT a |target|-deep nested WHEN ladder:
    # a fine-grained target (hundreds of domains) would nest a CASE past
    # janino's method limits and silently drop the stage to interpreted
    # execution — the exact failure mode the bootstrap weight ladder hit
    share_map = F.create_map(
        *[
            lit
            for k in sorted(shares)
            for lit in (F.lit(k), F.lit(shares[k]))
        ]
    )
    # try_element_at, not element_at: ANSI mode (Spark 4 default) makes
    # strict map access throw on missing keys in some releases; the try_
    # variant is NULL-on-missing everywhere
    share_expr = F.coalesce(
        F.try_element_at(share_map, F.col("domain")), F.lit(0.0)
    )
    desired = share_expr * F.lit(float(budget_tokens))
    ratio = F.when(
        F.col("tokens") > 0, desired / F.col("tokens").cast("double")
    )
    # the tokens>0 guard must wrap the least(): least(1.0, NULL) is 1.0
    # in Spark AND DuckDB (both skip NULLs), which would report a
    # zero-token domain as fully sampled
    rate = F.when(F.col("tokens") > 0, F.least(F.lit(1.0), ratio))
    return (
        per_dom.withColumn(
            "corpus_share",
            F.round(
                F.col("tokens")
                / F.sum("tokens").over(w_all).cast("double"),
                6,
            ),
        )
        .select(
            "domain",
            "docs",
            "tokens",
            "corpus_share",
            F.round(share_expr, 6).alias("target_share"),
            F.round(rate, 6).alias("sample_rate"),
            F.round(ratio, 6).alias("epochs"),
        )
        .orderBy("domain")
    )


def importance_sample(
    df: DataFrame,
    id_col: str,
    score_col: str,
    temperature: float = 1.0,
    keep_frac: float = 0.1,
    salt: str = "is",
    p_col: str = "p_keep",
    weight_col: str = "ess_weight",
) -> DataFrame:
    """Deterministic importance sampling: keep each row with probability
    proportional to its (temperature-scaled) quality score, targeting an
    expected `keep_frac` of the corpus — the DSIR-style quality-weighted
    downsample that sits between scoring and tokenization. `temperature`
    > 1 flattens the score distribution (less aggressive preference),
    < 1 sharpens it; 1 is straight proportional sampling.

    Each kept row carries `p_col` (its keep probability, 4 dp — the
    repo's summation-noise-proof rounding: the normalizer is a corpus
    float sum, so 6 dp could straddle a rounding boundary across
    partition orders) and `weight_col` = 1/p (6 dp), the
    inverse-propensity weight that keeps downstream token counts and
    loss statistics unbiased. Rows with NULL or non-positive scores are
    excluded (they carry no quality information). The probability is
    TRUNCATED into [0.0001, 1]: the floor is textbook propensity
    clipping — without it a row whose true p quantizes to 0.0000 would
    be deterministically unreachable (a silently excluded stratum, not
    a downweighted one) and IPW weights would be unbounded; with it no
    weight exceeds 10^4. Clipping at both ends makes the realized
    fraction land slightly off `keep_frac` for heavy-tailed score
    distributions; that is the standard trade.

    The draw is md5(salt:id) — not rand() — so retries, repartitioning,
    and incremental re-runs keep the identical set, and any SQL engine
    replays it exactly.

    Scale shape: one aggregate collapses the corpus to a single (n, Σw)
    row, broadcast back; membership is then a pure map-side filter in
    whole-stage codegen. Zero row-shaped shuffle.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    s = F.col(score_col).cast("double")
    base = df.where(s.isNotNull() & (s > 0))
    # exact when T=1: skip pow so w is the raw score bit-for-bit
    w = s if temperature == 1.0 else F.pow(s, F.lit(1.0 / temperature))
    totals = base.agg(
        F.count(F.lit(1)).alias("__n"), F.sum(w).alias("__sw")
    )
    u = (
        _md5_long(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        + 1
    ) / F.lit(float(1 << 60))
    p = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0001),
                F.lit(keep_frac) * F.col("__n") * w / F.col("__sw"),
            ),
        ),
        4,
    )
    return (
        base.crossJoin(F.broadcast(totals))
        .withColumn(p_col, p)
        .where(u < F.col(p_col))
        .withColumn(weight_col, F.round(F.lit(1.0) / F.col(p_col), 6))
        .drop("__n", "__sw")
    )


def apply_mixture(
    df: DataFrame,
    domain_col: str,
    tokens_col: str,
    id_col: str,
    target: dict[str, float],
    budget_tokens: int,
    buckets: int = 10000,
) -> DataFrame:
    """Execute the mix `mixture_weights` planned: keep each row iff its
    id's hash bucket falls under its domain's sample rate, carrying
    (sample_rate, epochs) on every kept row so a downstream loader can
    realize the upsampling side (epochs > 1 means repeat the kept rows
    that many times; a filter can only downsample). Plan and execution
    stay one expression graph — the |domains|-row rate table broadcasts
    back onto the corpus and membership is a map-side hash filter, so
    nothing row-shaped shuffles and the kept set is a pure function of
    (id, domain): retries, repartitioning, and incremental re-runs keep
    exactly the same rows.

    The bucket cutoff is floor(rate * buckets + 0.5) — explicit
    half-up, NOT python round() (banker's) or engine round(), so every
    engine derives the identical integer cutoff from the 6-dp rate.
    Domains with no target share (rate 0 or NULL) drop entirely.
    """
    rates = mixture_weights(
        df, domain_col, tokens_col, target, budget_tokens
    ).select(
        F.col("domain").alias(domain_col),
        "sample_rate",
        "epochs",
    )
    cutoff = F.floor(
        F.col("sample_rate") * F.lit(float(buckets)) + F.lit(0.5)
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .where(hash_bucket(F.col(id_col), buckets) < cutoff)
    )


def group_rare_categories(
    df: DataFrame,
    cat_col: str,
    min_count: int = 10,
    other_label: str = "__other__",
) -> DataFrame:
    """Long-tail vocabulary truncation for a categorical column: every
    category seen fewer than `min_count` times maps to `other_label` —
    the standard cardinality guard before one-hot/target encoding or
    per-category dashboards (a 10M-value id-like column silently turns
    both into garbage). NULL is a real category ('__null__', mapped by
    its own count like any other). Output is the MAPPING TABLE
    (category, n, mapped, kept) ordered by category — callers join it
    back onto the data (broadcast-sized after truncation by
    construction: |distinct categories| rows, and the whole point is
    that the kept set is small).

    Scale shape: ONE partial-aggregated collapse of raw rows to the
    |categories| cell table; the mapping is a map-side expression over
    those cells. Nothing row-proportional survives the first shuffle.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    cat = F.coalesce(F.col(cat_col).cast("string"), F.lit("__null__"))
    cells = df.groupBy(cat.alias("category")).agg(
        F.count(F.lit(1)).alias("n")
    )
    kept = F.col("n") >= min_count
    return cells.select(
        "category",
        "n",
        F.when(kept, F.col("category")).otherwise(F.lit(other_label)).alias(
            "mapped"
        ),
        kept.alias("kept"),
    ).orderBy("category")
