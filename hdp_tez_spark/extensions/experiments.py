"""Experimentation / statistical-testing operators.

Beyond-reference extension: the A/B-readout aggregations every
event-pipeline owner eventually hand-writes, built as single-pass
sufficient-statistic aggregations (the `grouped_ols` shape) so a test
over 100 TB of raw events is one partial-aggregated shuffle of
|experiments x arms| rows.

Both operators return TEST STATISTICS (t, chi-square), not p-values:
converting to a p-value needs the t / chi-square CDF, which is neither a
Spark built-in nor ANSI SQL — callers threshold the statistic (|t| >
1.96 ~ p < 0.05 for large samples) or feed it to scipy driver-side.
Keeping the output at the statistic also keeps every number
oracle-checkable in SQL.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdp_tez_spark.plans.checkpoints import truncate_lineage


def ab_ttest(
    df: DataFrame,
    group_cols: Sequence[str],
    arm_col: str,
    value_col: str,
    arm_a: str,
    arm_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test per experiment group: compares
    `value_col` between two arms with

        t = (mean_a - mean_b) / sqrt(s2_a/n_a + s2_b/n_b)

    (s2 = unbiased sample variance) plus the Welch-Satterthwaite
    degrees of freedom. Output per group:
    (group..., n_a, n_b, mean_a, mean_b, t_stat, dof), rounded to 6 dp;
    t/dof NULL for degenerate arms (n < 2 or zero variance on both).
    Rows with a NULL metric value are not observations: they are
    excluded from n as well as the sums (counting them would act like
    zeros in the mean denominator and bias every statistic).

    Scale shape: ONE grouped aggregation over the raw rows — each arm's
    n, Σx, Σx² ride conditional partial sums, so the shuffle carries
    |groups| rows. No per-arm scan, no pivot, no Python.
    """
    v = F.col(value_col).cast("double")
    is_a = F.col(arm_col) == arm_a
    is_b = F.col(arm_col) == arm_b

    def _sums(pred, suffix):
        return [
            # count(v), not count(1): NULL metric rows are not trials
            F.count(F.when(pred, v)).alias(f"n_{suffix}"),
            F.sum(F.when(pred, v)).alias(f"s_{suffix}"),
            F.sum(F.when(pred, v * v)).alias(f"ss_{suffix}"),
        ]

    stats = df.groupBy(*group_cols).agg(*_sums(is_a, "a"), *_sums(is_b, "b"))
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("s_a") / na
    mb = F.col("s_b") / nb
    # unbiased sample variance from sums: (Σx² − n·mean²) / (n−1)
    va = (F.col("ss_a") - na * ma * ma) / (na - 1)
    vb = (F.col("ss_b") - nb * mb * mb) / (nb - 1)
    sea = va / na
    seb = vb / nb
    se2 = sea + seb
    t = F.when((na >= 2) & (nb >= 2) & (se2 > 0), (ma - mb) / F.sqrt(se2))
    dof = F.when(
        (na >= 2) & (nb >= 2) & (se2 > 0),
        (se2 * se2) / (sea * sea / (na - 1) + seb * seb / (nb - 1)),
    )
    return stats.select(
        *group_cols,
        na.alias("n_a"),
        nb.alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("dof"),
    ).orderBy(*group_cols)


def proportion_ci(
    df: DataFrame,
    group_cols: Sequence[str],
    success_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Wilson score confidence interval for a per-group success
    proportion (0/1 `success_col`) — the interval that behaves at small
    n and extreme rates where the naive normal interval collapses or
    escapes [0, 1]. Default z is the two-sided 95% quantile.

    Output: (group..., n, successes, rate, ci_lo, ci_hi) rounded to
    6 dp. Rows with a NULL success flag are not trials — excluded from
    n and successes both.

    Scale shape: (n, successes) is one partial-aggregated groupBy; the
    interval is closed-form column arithmetic on the |groups|-row
    result. The standard conversion-rate readout over raw event
    streams in a single shuffle.
    """
    stats = df.groupBy(*group_cols).agg(
        F.count(F.col(success_col)).alias("n"),
        F.sum(F.col(success_col).cast("long")).alias("successes"),
    )
    n = F.col("n").cast("double")
    p = F.col("successes") / n
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / denom
    )
    return stats.select(
        *group_cols,
        "n",
        "successes",
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    ).orderBy(*group_cols)


def cuped_adjust(
    df: DataFrame,
    group_cols: Sequence[str],
    metric_col: str,
    covariate_col: str,
    var_dp: int = 6,
) -> DataFrame:
    """CUPED variance reduction: adjust a metric by a pre-experiment
    covariate, y_adj = y - theta * (x - mean(x)), with
    theta = cov(x, y) / var(x) estimated per group from one pass of
    sufficient statistics. Reports the variance-reduction factor
    (1 - rho^2) actually achieved — the fraction of metric variance the
    covariate failed to explain.

    Output: (group..., n, theta, mean_raw, var_raw, var_adj,
    var_reduction); theta/mean/reduction rounded to 6 dp, the VARIANCE
    columns to `var_dp` decimals (default 6 — right for unit-scale
    metrics like conversion rates). Pick var_dp by metric scale: the
    printed precision must leave >=100x headroom over float summation
    noise, which for a money-scale metric (var ~1e9, 15+ significant
    digits at 6 dp) means var_dp=2 — the sf0.001 --exact sweep caught
    partition order flipping the last 6-dp digit there (...337122 vs
    ...337123). theta NULL when var(x) is 0.

    The adjusted per-row values are recoverable map-side by joining the
    |groups|-row theta table back (broadcast) — this operator returns
    the group-level readout, which is what an experiment dashboard
    consumes.

    Scale shape: identical to `grouped_ols` — n, Σx, Σy, Σxy, Σx², Σy²
    in one partial-aggregated pass; everything else is column
    arithmetic on |groups| rows. var_adj uses the identity
    var(y - θx) = var(y) - cov² / var(x) (population moments), so no
    second pass over the rows is needed.
    """
    x = F.col(covariate_col).cast("double")
    y = F.col(metric_col).cast("double")
    # complete pairs only: mixing per-column null subsets would draw the
    # five sums from different row sets and make theta arithmetic nonsense
    df = df.where(x.isNotNull() & y.isNotNull())
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("n").cast("double")
    mx = F.col("__sx") / n
    my = F.col("__sy") / n
    var_x = F.col("__sxx") / n - mx * mx
    var_y = F.col("__syy") / n - my * my
    cov = F.col("__sxy") / n - mx * my
    theta = F.when(var_x > 0, cov / var_x)
    var_adj = F.when(var_x > 0, var_y - cov * cov / var_x).otherwise(var_y)
    reduction = F.when(
        (var_x > 0) & (var_y > 0), 1.0 - (var_y - cov * cov / var_x) / var_y
    ).otherwise(F.lit(0.0))
    # + 0.0 normalizes IEEE -0.0 on the subtraction-derived columns,
    # mirroring the oracle's + CAST(0 AS DOUBLE): Spark's BigDecimal
    # round never emits -0.0 today, but keeping both sides of the
    # string-compare symmetric means a rounding-path change can't
    # silently reintroduce a '-0.0' vs '0.0' hash split.
    return stats.select(
        *group_cols,
        "n",
        (F.round(theta, 6) + F.lit(0.0)).alias("theta"),
        (F.round(my, 6) + F.lit(0.0)).alias("mean_raw"),
        (F.round(var_y, var_dp) + F.lit(0.0)).alias("var_raw"),
        (F.round(var_adj, var_dp) + F.lit(0.0)).alias("var_adj"),
        (F.round(reduction, 6) + F.lit(0.0)).alias("var_reduction"),
    ).orderBy(*group_cols)


def chi_square_independence(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Pearson chi-square statistic for independence of two categorical
    columns: builds the contingency table, the expected counts under
    independence (row_total * col_total / N), and Σ (O−E)²/E.

    Output: ONE row (chi2, dof, n) — chi2 rounded to 6 dp,
    dof = (rows−1)(cols−1).

    Scale shape: one partial-aggregated groupBy builds the contingency
    cells (|r×c| rows); marginals derive from the CELLS, not a second
    raw scan. The full r×c grid is rebuilt from the marginals (cross
    join of two tiny total tables) so ABSENT combinations still
    contribute their expected mass — omitting zero cells understates
    the statistic. Total work after the first pass is O(r×c),
    independent of row count. Marginal products are computed in
    float64: at 10^12 rows an int64 row_total*col_total would overflow.
    """
    # NULL categories are excluded up front: a null key never matches the
    # grid join, so its observed count would vanish while its mass stayed
    # in the marginals and N — corrupting both chi2 and dof. Map NULL to a
    # sentinel category upstream if it should participate.
    cells = (
        df.where(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(F.col(row_col).alias("__r"), F.col(col_col).alias("__c"))
        .agg(F.count(F.lit(1)).alias("__o"))
        # four consumers (marginals, N, grid) — checkpoint the |r x c|-row
        # cell table so the raw input is scanned ONCE, not once per use
        .transform(truncate_lineage)
    )
    row_tot = cells.groupBy("__r").agg(F.sum("__o").alias("__rt"))
    col_tot = cells.groupBy("__c").agg(F.sum("__o").alias("__ct"))
    n = cells.agg(F.sum("__o").alias("__n"))
    grid = (
        row_tot.crossJoin(F.broadcast(col_tot))
        .join(cells, ["__r", "__c"], "left")
        .withColumn("__o", F.coalesce(F.col("__o"), F.lit(0)))
        .crossJoin(F.broadcast(n))
    )
    e = (
        F.col("__rt").cast("double")
        * F.col("__ct").cast("double")
        / F.col("__n").cast("double")
    )
    contrib = (F.col("__o") - e) * (F.col("__o") - e) / e
    return grid.agg(
        F.round(F.sum(contrib), 6).alias("chi2"),
        (
            (F.count_distinct(F.col("__r")) - 1)
            * (F.count_distinct(F.col("__c")) - 1)
        ).alias("dof"),
        F.max("__n").alias("n"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col,
    bins: int = 10,
) -> DataFrame:
    """Reliability table for a probabilistic classifier: fixed-width
    score bins vs observed positive rate — the companion readout to
    `analytics.binary_auc` (AUC says the ranking is good; calibration
    says the probabilities mean what they claim), and the sum of
    n/N * |avg_score - pos_rate| over the rows is Expected Calibration
    Error. `label_col` may be a column name or boolean Column; truthy
    rows are positives.

    Rows with a NULL score are dropped (a probability the classifier
    never emitted is not a calibration data point — the psi_drift
    NULL-handling precedent); remaining scores are clamped into [0, 1]
    and binned by floor(score * bins) (score 1.0 lands in the top bin).
    Output per non-empty bin: (bin, lo, hi, n, n_pos, avg_score,
    pos_rate), rounded to 6 dp, ordered by bin.

    Scale shape: one partial-aggregated groupBy keyed by the bin index
    — the shuffle carries `bins` rows per partition no matter the
    corpus size. Pure column expressions; the output is `bins` rows.
    """
    if bins <= 0:
        raise ValueError(f"bins must be positive, got {bins}")
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    pos = lab.cast("boolean").cast("long")
    s = F.least(F.greatest(F.col(score_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    b = F.least(F.floor(s * bins).cast("int"), F.lit(bins - 1))
    return (
        df.where(F.col(score_col).isNotNull())
        .select(b.alias("bin"), s.alias("__s"), pos.alias("__p"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__p").alias("n_pos"),
            F.round(F.avg("__s"), 6).alias("avg_score"),
            F.round(F.avg("__p"), 6).alias("pos_rate"),
        )
        .select(
            "bin",
            F.round(F.col("bin") / bins, 6).alias("lo"),
            F.round((F.col("bin") + 1) / bins, 6).alias("hi"),
            "n",
            "n_pos",
            "avg_score",
            "pos_rate",
        )
        .orderBy("bin")
    )


def cohens_kappa(df: DataFrame, rater_a_col: str, rater_b_col: str) -> DataFrame:
    """Inter-rater agreement (Cohen's kappa) between two label columns —
    the QA readout for any double-annotated dataset (human/human or
    human/model labeling passes in an LLM data pipeline): chance-corrected
    agreement

        kappa = (p_o - p_e) / (1 - p_e)

    with p_o the observed agreement rate and p_e the expected agreement
    from the raters' marginal label distributions. Rows where either
    label is NULL are not doubly-annotated items and are excluded.
    Output: ONE row (n, p_observed, p_expected, kappa) rounded to 6 dp;
    kappa NULL when p_e = 1 (both raters constant — agreement is
    unmeasurable, the standard degenerate case).

    Scale shape: one partial-aggregated groupBy over the
    (label_a, label_b) contingency cells (shuffle ∝ |label pairs|);
    marginals and p_e come from the |cells|-sized table — the
    chi_square_independence cost profile, nothing row-shaped leaves the
    executors.
    """
    a, b = F.col(rater_a_col), F.col(rater_b_col)
    # lineage-truncated: four consumers (row_tot, col_tot, n_df, po)
    # hang off cells; without the cut each would re-scan the raw corpus
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__o"))
        .transform(truncate_lineage)
    )
    row_tot = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    col_tot = cells.groupBy("__b").agg(F.sum("__o").alias("__rb"))
    n_df = cells.agg(F.sum("__o").alias("__n"))
    # p_e = sum_k p_a(k) * p_b(k): full outer on the label so a category
    # one rater never uses still contributes (p * 0 = 0, but NULL-safe)
    pe = (
        row_tot.withColumnRenamed("__a", "__k")
        .join(col_tot.withColumnRenamed("__b", "__k"), "__k", "full")
        .crossJoin(F.broadcast(n_df))
        .agg(
            F.sum(
                F.coalesce(F.col("__ra"), F.lit(0)).cast("double")
                * F.coalesce(F.col("__rb"), F.lit(0)).cast("double")
                / (F.col("__n").cast("double") * F.col("__n").cast("double"))
            ).alias("p_e")
        )
    )
    po = cells.crossJoin(F.broadcast(n_df)).agg(
        (
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__o")).otherwise(0))
            / F.max("__n")
        ).alias("p_o"),
        F.max("__n").alias("n"),
    )
    out = po.crossJoin(F.broadcast(pe))
    kappa = F.when(
        F.col("p_e") < 1.0,
        (F.col("p_o") - F.col("p_e")) / (1.0 - F.col("p_e")),
    )
    return out.select(
        F.col("n"),
        F.round("p_o", 6).alias("p_observed"),
        F.round("p_e", 6).alias("p_expected"),
        F.round(kappa, 6).alias("kappa"),
    )


#: cumulative Poisson(1) probabilities P(X <= k) for k = 0..7 — the
#: inverse-CDF ladder for deterministic replica weights. Literals are
#: written with full double precision so Spark and any SQL oracle parse
#: bit-identical thresholds (see _SQL_BOOTSTRAP_CI).
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508637437,
)


def bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    b: int = 32,
    alpha: float = 0.05,
    seed: str = "boot",
) -> DataFrame:
    """Percentile bootstrap confidence interval for the mean via POISSON
    resampling — the bootstrap that actually runs at 100 TB. Classic
    bootstrap resamples n rows WITH replacement per replica, which is
    unimplementable distributed (each replica needs global coordinated
    sampling); the Poisson bootstrap replaces each row's resample
    multiplicity with an independent Poisson(1) weight, making every
    replica a pure MAP-SIDE weighting of the single data pass.

    Weights are deterministic — Poisson(1) inverse-CDF over md5-derived
    uniforms (the repo's standard engine-replayable hash), so retries,
    repartitioning, and the SQL oracle reproduce every replica exactly.
    Each md5 is sliced into FOUR 32-bit uniforms (replica r uses hash
    block r//4, hex slice r%4), so b replicas cost ceil(b/4) md5s per
    row. All b (Σwx, Σw) pairs ride one explode(sequence) ->
    groupBy(replica) aggregation whose map-side partial agg collapses
    every partition to b rows before the shuffle (the b-row explosion
    never crosses the exchange; see the in-body note on why the 2b-wide
    single-group aggregate was replaced). Weights are truncated at 8
    (P(X>7) < 1.1e-5), a negligible and deterministic bias.

    Output: ONE row (n, mean, ci_lo, ci_hi, b) — the observed mean and
    the empirical alpha/2 and 1-alpha/2 percentiles of the `b` replica
    means (replica means rounded to 6 dp before the percentile so
    summation-order float noise cannot reorder them; CI bounds exact
    percentile_cont over b values). NULL values carry no information
    and are excluded.
    """
    if b <= 0:
        raise ValueError(f"b must be positive, got {b}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")

    from hdp_tez_spark.parallel import spread

    x = F.col(value_col).cast("double")
    # spread BEFORE the weight projection: the draw chain is the most
    # expression-dense map stage in the registry (ceil(b/4) md5 + b conv
    # per row), and a small single-file source arrives as one scan task —
    # without the fan-out the entire corpus pays the chain on one core
    # (measured 9.4s -> 2.3s at sf0.1; the 2.4 MB (id, x) reshuffle is
    # noise). At real scale the source has many splits and spread is a
    # guarded no-op.
    base = spread(
        df.where(x.isNotNull()).select(
            F.col(id_col).cast("string").alias("__id"), x.alias("__x")
        )
    )
    n_blocks = (b + 3) // 4

    # Shape: explode a FOLDABLE sequence(0, b-1) into a replica-index
    # column, then compute the weight as ONE scalar expression
    # parameterized by (__hs, __r). Two codegen traps drove this design
    # (both measured at r10, sf0.1):
    #  * Unrolling the b replicas as separate column expressions —
    #    inline or as staged projections — fuses into one whole-stage
    #    processNext() whose ~16k-line body hard-fails janino's 64 KB
    #    method limit; janino re-attempts the compile on EVERY execution
    #    (~5 s/run) and the stage then runs interpreted (12.6s
    #    single-shot / 21s+ steady-state).
    #  * A higher-order transform(sequence, λ) keeps codegen small but
    #    poisons the scan: InferFiltersFromGenerate derives
    #    `size(__ws) > 0` from the explode, filter-pushdown substitutes
    #    the whole transform through the projections and the exchange,
    #    and the scan filter then re-evaluates the full b-replica draw
    #    chain — with the md5 ARRAY inlined per lambda element, 8·b
    #    md5/row — interpreted, per input row (measured 290s).
    # Exploding the literal sequence instead makes the inferred filter
    # `size(sequence(0, b-1)) > 0` constant-fold away, the md5 array
    # materializes once per row in the projection BELOW the Generate
    # (projections cannot collapse across it), and the per-replica
    # weight is a single small expression (element_at + conv + 8
    # comparisons) that whole-stage codegen compiles and the JVM JITs.
    # Arithmetic is unchanged: replica r still reads hex slice r%4 of
    # md5 block r//4 via the same conv -> /2^32 -> >=cdf chain, so every
    # weight is bit-identical to the oracle's.
    hashed = base.select(
        "__x",
        F.array(
            *[
                F.md5(
                    F.concat_ws("-", F.lit(seed), F.lit(blk), F.col("__id"))
                )
                for blk in range(n_blocks)
            ]
        ).alias("__hs"),
    )
    exploded = hashed.select(
        "__x",
        "__hs",
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("__r"),
    )
    h = F.element_at(
        F.col("__hs"), F.floor(F.col("__r") / 4).cast("int") + 1
    )
    u = F.conv(
        h.substr((F.col("__r") % 4) * 8 + F.lit(1), F.lit(8)), 16, 10
    ).cast("double") / F.lit(float(1 << 32))
    # Branch-free inverse CDF: w = #{cdf entries <= u} — identical to
    # the nested WHEN ladder (w is the first k with u < cdf[k], else 8)
    # but flat (r05 note: the 8-deep CASE chain codegens wide).
    w = F.lit(0)
    for c in POISSON1_CDF:
        w = w + (u >= c).cast("int")

    # The b (Σwx, Σw) pairs ride this explode -> groupBy(replica)
    # aggregation, NOT 2b single-group aggregate expressions. The wide
    # form generated one 39 KB hashAgg update method — over the JVM's
    # 8 KB JIT limit, so every row ran through the bytecode interpreter.
    # The exploded form keeps rows (replica, w, x) through a 4-function
    # hash aggregate with b groups: small JIT-able methods, millisecond
    # compiles, and the map-side partial agg still collapses each
    # partition to b rows before the one tiny shuffle. Per-replica
    # arithmetic is unchanged: each group's Σwx/Σw accumulates the same
    # values in the same within-partition row order, and cross-partition
    # merge order was never deterministic in either shape — exactly the
    # noise the 6-dp rounding of replica means has always absorbed.
    pairs = exploded.select(
        "__x", F.col("__r"), w.cast("double").alias("__w")
    )
    rep_stats = pairs.groupBy("__r").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.sum("__x").alias("__tx"),
        F.sum(F.col("__w") * F.col("__x")).alias("__sx"),
        F.sum("__w").alias("__sw"),
    )
    # n is exact (every row emits every replica, so any group's count is
    # the row count); mean comes from replica 0's Σx — the same
    # sum/count division F.avg performed, over the same rows. coalesce
    # keeps the empty-input contract (one row: n=0, NULL stats).
    m = F.round(F.col("__sx") / F.col("__sw"), 6)
    return rep_stats.agg(
        F.coalesce(F.max("__cnt"), F.lit(0).cast("long")).alias("n"),
        F.round(
            F.max(F.when(F.col("__r") == 0, F.col("__tx")))
            / F.max("__cnt"),
            6,
        ).alias("mean"),
        F.round(F.percentile(m, F.lit(alpha / 2.0)), 6).alias("ci_lo"),
        F.round(F.percentile(m, F.lit(1.0 - alpha / 2.0)), 6).alias("ci_hi"),
    ).select("n", "mean", "ci_lo", "ci_hi", F.lit(b).cast("int").alias("b"))


def _two_group_value_cells(
    df: DataFrame, group_col: str, value_col: str, group_a, group_b
) -> DataFrame:
    """DISTINCT value cells with per-group counts for the two-sample
    rank tests: (__v, __ca, __cb, __t), NULL values and out-of-scope
    groups excluded, lineage-truncated because every consumer (the
    prefix_sum chain reads it twice, the totals aggregate once) would
    otherwise rescan the raw input — the binary_auc pattern."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = df.where(v.isNotNull() & g.isin([group_a, group_b])).select(
        g.alias("__g"), v.alias("__v")
    )
    return (
        base.groupBy("__v")
        .agg(
            F.sum((F.col("__g") == F.lit(group_a)).cast("long")).alias(
                "__ca"
            ),
            F.sum((F.col("__g") == F.lit(group_b)).cast("long")).alias(
                "__cb"
            ),
        )
        .withColumn("__t", F.col("__ca") + F.col("__cb"))
        .transform(truncate_lineage)
    )


def _tie_term(t: Column | str) -> Column:
    """Σ-ready t³ - t tie term as double (t up to 2^17 cubes exactly)."""
    c = F.col(t) if isinstance(t, str) else t
    return c.cast("double") * c * c - c


_RANK_EXACTNESS_NOTE = """
    Exactness bound: per-group rank sums are multiples of 0.5 and stay
    EXACT in double (hence bit-stable across engines, partitionings and
    retries) while they stay under 2^53 — i.e. pooled n up to ~9*10^7
    rows (rank sums grow like n²/2). Beyond that, pre-quantize the
    metric (fewer distinct cells, smaller ranks per cell don't help —
    it is the sum magnitude that matters) or accept possible 6th-decimal
    variance across engines."""


def mann_whitney(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two groups — the
    nonparametric A/B companion to `ab_ttest` for skewed metrics
    (revenue, latency) where mean-based tests mislead. Exact U from
    average ranks with full tie handling; z is the normal approximation
    with the standard tie-corrected variance (compare |z| to 1.96 for
    5%; no p-value column because neither Spark SQL nor DuckDB exposes
    erf, and shipping half an approximation would invite silent
    engine drift).

    Output: ONE row (n_a, n_b, u_a, z), u_a and z rounded to 6 dp.
    NULL values are excluded; rows outside the two groups are ignored;
    z is NULL when the tie-corrected variance is 0 (all values equal).

    Scale shape: raw rows collapse once to DISTINCT value cells with
    per-group counts (map-side combined, shuffle O(|distinct|),
    checkpointed for its multiple consumers); ranks come from the
    distributed `prefix_sum` over the cells (range partition +
    per-partition running sum + broadcast offsets — no single-task
    window, the exact_quantiles pattern); the statistic reduces from
    |distinct|-cell aggregates.
    """ + _RANK_EXACTNESS_NOTE
    from hdp_tez_spark.operators.sort import prefix_sum

    cells = _two_group_value_cells(
        df, group_col, value_col, group_a, group_b
    )
    cum = prefix_sum(cells, [F.col("__v")], "__t", "__hi")
    # avg rank of a tie group ending at cumulative position hi with t
    # members is hi - (t-1)/2
    ranks = cum.agg(
        F.sum(
            F.col("__ca") * (F.col("__hi") - (F.col("__t") - 1) / 2.0)
        ).alias("ra"),
    )
    # totals hang off the CHECKPOINTED cells, not the prefix chain — the
    # r05 review found the totals subtree re-running the whole prefix
    # machinery (windows, offsets, broadcast join) a second time
    totals = cells.agg(
        F.sum("__ca").alias("na"),
        F.sum("__cb").alias("nb"),
        F.sum(_tie_term("__t")).alias("tie"),
    )
    stats = ranks.crossJoin(F.broadcast(totals))
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    u = F.col("ra") - na * (na + 1) / 2.0
    var = (
        na * nb / 12.0 * ((n + 1.0) - F.col("tie") / (n * (n - 1.0)))
    )
    return stats.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        F.round(u, 6).alias("u_a"),
        F.round(
            F.when(var > 0, (u - na * nb / 2.0) / F.sqrt(var)), 6
        ).alias("z"),
    )


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: the maximum gap between
    the two groups' empirical CDFs — the distribution-level drift /
    difference readout that PSI buckets approximate and mean tests miss
    entirely. Output: ONE row (n_a, n_b, d_stat, ks_lambda) where
    d_stat = max|F_a - F_b| over the pooled support and
    ks_lambda = sqrt(n_a*n_b/(n_a+n_b)) * d_stat (compare to 1.358 for
    5%, 1.628 for 1% — the asymptotic two-sided thresholds). No
    p-value column: its series expansion is not expressible identically
    in both engines, and the thresholded lambda is what a drift monitor
    consumes.

    Every CDF value is a ratio of exact integer prefix counts (exact in
    double up to 2^53 rows), so the statistic is bit-stable across
    engines, partitionings, and retries.

    Scale shape: raw rows collapse to DISTINCT value cells with
    per-group counts (map-side combined, shuffle O(|distinct|),
    checkpointed for its multiple consumers); BOTH cumulative counts
    ride ONE multi-column `prefix_sum` pass (one range shuffle, one
    offsets broadcast — no single-task window); the max-gap reduction
    and the (n_a, n_b) totals are |distinct|-cell aggregates.
    """
    from hdp_tez_spark.operators.sort import prefix_sum

    cells = _two_group_value_cells(
        df, group_col, value_col, group_a, group_b
    )
    # cum_a directly, cum_b recovered as cum_t - cum_a (prefix sums are
    # linear) — both cumulated in the SAME prefix_sum pass
    cum = prefix_sum(
        cells,
        [F.col("__v")],
        ["__ca", "__t"],
        ["__cum_a", "__cum_t"],
    )
    # totals from the checkpointed cells, not the prefix chain
    totals = cells.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    gaps = cum.crossJoin(F.broadcast(totals)).select(
        "__na",
        "__nb",
        F.abs(
            F.col("__cum_a") / F.col("__na")
            - (F.col("__cum_t") - F.col("__cum_a")) / F.col("__nb")
        ).alias("__gap"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    d = F.max("__gap")
    return gaps.groupBy("__na", "__nb").agg(
        F.round(d, 6).alias("d_stat"),
        F.round(
            F.sqrt(na * nb / (na + nb).cast("double")) * d, 6
        ).alias("ks_lambda"),
    ).select(
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        "d_stat",
        "ks_lambda",
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test across ALL groups present — the k-arm
    extension of `mann_whitney` (one-way ANOVA on ranks) for multi-arm
    experiments and segment comparisons. Output: ONE row
    (n_groups, n, h_stat, h_tie_corrected), statistics rounded to 6 dp;
    compare h_tie_corrected to the chi-square(k-1) threshold driver-side
    (the CDF is not expressible identically in both engines).
    h_tie_corrected is NULL when every value is tied (zero rank
    variance). NULL values and NULL group labels are excluded.

    Scale shape: raw rows collapse to (value, group) cells (map-side
    combined, checkpointed for the multi-consumer fan-out); the
    per-value totals get ranks via the distributed `prefix_sum` (no
    single-task window), and the H statistic reduces from |groups| rank
    sums; only the final k-term reduction is float-ordered, inside 6-dp
    rounding headroom.
    """ + _RANK_EXACTNESS_NOTE
    from hdp_tez_spark.operators.sort import prefix_sum

    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = df.where(v.isNotNull() & g.isNotNull()).select(
        g.alias("__g"), v.alias("__v")
    )
    # checkpointed: consumed by the vt->prefix chain, the rank join, and
    # (via vt) the tie aggregate — without it each re-scans raw rows
    vg = (
        base.groupBy("__v", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .transform(truncate_lineage)
    )
    vt = vg.groupBy("__v").agg(F.sum("__c").alias("__t"))
    cum = prefix_sum(vt, [F.col("__v")], "__t", "__hi").withColumn(
        "__avg_rank", F.col("__hi") - (F.col("__t") - 1) / 2.0
    )
    per_group = (
        vg.join(cum.select("__v", "__avg_rank"), "__v")
        .groupBy("__g")
        .agg(
            F.sum("__c").alias("__ng"),
            F.sum(F.col("__c") * F.col("__avg_rank")).alias("__rg"),
        )
    )
    # tie term from vt (one cheap pass over the checkpointed cells),
    # never from the prefix chain
    ties = vt.agg(F.sum(_tie_term("__t")).alias("__tie"))
    stats = per_group.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("__ng").alias("n"),
        F.sum(F.col("__rg") * F.col("__rg") / F.col("__ng")).alias("__s"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n").cast("double")
    h = 12.0 / (n * (n + 1.0)) * F.col("__s") - 3.0 * (n + 1.0)
    correction = 1.0 - F.col("__tie") / (n * n * n - n)
    return stats.select(
        "n_groups",
        "n",
        F.round(h, 6).alias("h_stat"),
        F.round(
            F.when(correction > 0, h / correction), 6
        ).alias("h_tie_corrected"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    monotonic-association readout that survives outliers and nonlinear
    (but monotone) relationships where Pearson misleads. Exact
    tie-averaged ranks (NOT the n(n²-1) shortcut formula, which is
    wrong under ties); the coefficient is the Pearson correlation of
    the two rank columns. Output: ONE row (n, rho) with rho rounded to
    6 dp, NULL when either column has zero rank variance. Rows where
    EITHER value is NULL are excluded (pairwise-complete, the `acf`
    convention).

    Scale shape (single-cut, r11 — VERDICT r10 task #4): BOTH columns
    collapse to distinct-value cells in ONE pass (explode to
    (tag, value), map-side combined groupBy, checkpointed once), and
    ONE distributed `prefix_sum` ordered by (tag, value) ranks both
    columns in a single range-shuffle + window chain — the r10 shape
    ran the cells aggregate and the whole prefix-sum machinery TWICE
    (once per column). Because both tags cover the same n rows, the
    y-column's cumulative positions are exactly n + (its own prefix),
    so rank_y = cum - n with n read as ONE scalar off the checkpointed
    cells table (bounded driver state, the exact_quantiles class; the
    eager-at-construction contract of ADVICE r10 applies). All rank
    arithmetic stays exact integer counts until the final /2.0 —
    bit-identical to the two-chain shape. The |distinct|-row rank
    tables then join back to the (x, y) pairs as before; the
    correlation is one partial-aggregated pass over the ranked pairs.
    No single-task window.
    """ + _RANK_EXACTNESS_NOTE
    from hdp_tez_spark.operators.sort import prefix_sum

    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    # lazy cut: materialized by the stacked-cells job below, cached for
    # the final join — one fewer blocking construction job than an
    # eager cut, same single-scan property (the plan is deterministic,
    # so even a recompute would be value-identical)
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("__x"), y.alias("__y")
    ).transform(lambda d: truncate_lineage(d, eager=False))

    stacked = (
        base.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("__tag"), F.col("__x").alias("__v")
                    ),
                    F.struct(
                        F.lit(1).alias("__tag"), F.col("__y").alias("__v")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.__tag", "__e.__v")
        .groupBy("__tag", "__v")
        .agg(F.count(F.lit(1)).alias("__t"))
        .transform(truncate_lineage)
    )
    # n = non-null pair count = the per-tag total (identical for both
    # tags by construction); one tiny job over the checkpointed cells
    n = (
        stacked.where(F.col("__tag") == 0)
        .groupBy()
        .agg(F.sum("__t").alias("__n"))
        .first()["__n"]
    )
    cum = prefix_sum(stacked, [F.col("__tag"), F.col("__v")], "__t", "__hi")
    # lazy cut: the x- and y-rank subtrees below share ONE
    # materialization of the window chain instead of running it twice
    ranks = cum.select(
        "__tag",
        "__v",
        (
            F.col("__hi")
            - F.col("__tag") * F.lit(int(n or 0))
            - (F.col("__t") - 1) / 2.0
        ).alias("__r"),
    ).localCheckpoint(eager=False)
    rx = ranks.where(F.col("__tag") == 0).select(
        F.col("__v").alias("__x"), F.col("__r").alias("__r__x")
    )
    ry = ranks.where(F.col("__tag") == 1).select(
        F.col("__v").alias("__y"), F.col("__r").alias("__r__y")
    )
    ranked = base.join(rx, "__x").join(ry, "__y")
    return ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("__r__x", "__r__y"), 6).alias("rho"),
    )


def mutual_information(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Mutual information (in nats) between two categorical columns,
    with the normalized variant NMI = MI / sqrt(H_row * H_col) — the
    feature-screening companion to `chi_square_independence` (chi2 says
    "dependent or not"; MI says HOW MUCH information one column carries
    about the other, comparable across features). Output: ONE row
    (n, mi, nmi, h_row, h_col), all entropies/MI rounded to 6 dp; nmi
    NULL when either marginal entropy is 0 (a constant column carries
    no information to normalize by).

    Only OBSERVED cells contribute — 0 * ln(0) = 0 by continuity, so
    unlike chi-square the absent-cell grid is not needed. NULL
    categories are excluded (same contract as chi_square_independence).

    Scale shape: one partial-aggregated groupBy builds the contingency
    cells (|r×c| rows, checkpointed — marginals, N, and the MI sum all
    read the cells, never the raw rows). Everything after the first
    pass is O(r×c). Probabilities are ratios of exact integer counts;
    ln() is IEEE-identical across engines in practice, and 6-dp
    rounding gives ~10 orders of magnitude of headroom over any libm
    last-bit difference.
    """
    cells = (
        df.where(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(F.col(row_col).alias("__r"), F.col(col_col).alias("__c"))
        .agg(F.count(F.lit(1)).alias("__o"))
        .transform(truncate_lineage)
    )
    row_tot = cells.groupBy("__r").agg(F.sum("__o").alias("__rt"))
    col_tot = cells.groupBy("__c").agg(F.sum("__o").alias("__ct"))
    n = cells.agg(F.sum("__o").alias("__n"))
    joined = (
        cells.join(F.broadcast(row_tot), "__r")
        .join(F.broadcast(col_tot), "__c")
        .crossJoin(F.broadcast(n))
    )
    o = F.col("__o").cast("double")
    nn = F.col("__n").cast("double")
    mi_term = (o / nn) * F.log(
        o * nn / (F.col("__rt").cast("double") * F.col("__ct"))
    )
    mi_df = joined.agg(F.sum(mi_term).alias("__mi"), F.max("__n").alias("n"))
    h = lambda tot, t: tot.crossJoin(F.broadcast(n)).agg(  # noqa: E731
        (-F.sum(
            (F.col(t).cast("double") / F.col("__n"))
            * F.log(F.col(t).cast("double") / F.col("__n"))
        )).alias("__h")
    )
    hr = h(row_tot, "__rt").withColumnRenamed("__h", "__hr")
    hc = h(col_tot, "__ct").withColumnRenamed("__h", "__hc")
    out = mi_df.crossJoin(F.broadcast(hr)).crossJoin(F.broadcast(hc))
    denom = F.sqrt(F.col("__hr") * F.col("__hc"))
    return out.select(
        "n",
        F.round(F.col("__mi"), 6).alias("mi"),
        F.round(F.when(denom > 0, F.col("__mi") / denom), 6).alias("nmi"),
        F.round(F.col("__hr"), 6).alias("h_row"),
        F.round(F.col("__hc"), 6).alias("h_col"),
    )


def js_divergence(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Jensen-Shannon divergence (in nats) between two groups'
    CATEGORICAL distributions — the bounded, symmetric drift readout
    that completes the family: `psi_drift` for binned numerics,
    `ks_test` for continuous CDFs, JS for category histograms (it stays
    finite when a category appears in only one side, where KL blows
    up). Output: ONE row (n_a, n_b, js, js_dist) with js in [0, ln 2],
    js_dist = sqrt(js) (a true metric), both rounded to 6 dp.

    Zero-mass categories contribute 0 by continuity (0 ln 0 = 0), so
    only observed (group, category) cells are needed. NULL categories
    and out-of-scope groups are excluded.

    Scale shape: one partial-aggregated groupBy collapses the corpus to
    (category) cells with per-group counts, checkpointed for its two
    consumers (totals + the divergence sum); everything after the
    single raw pass is O(|categories|). Probabilities are ratios of
    exact integer counts; ln() last-bit differences sit ~10 orders
    below the 6-dp rounding.
    """
    g = F.col(group_col)
    c = F.col(cat_col)
    base = df.where(c.isNotNull() & g.isin([group_a, group_b])).select(
        g.alias("__g"), c.alias("__c")
    )
    cells = (
        base.groupBy("__c")
        .agg(
            F.sum((F.col("__g") == F.lit(group_a)).cast("long")).alias(
                "__ca"
            ),
            F.sum((F.col("__g") == F.lit(group_b)).cast("long")).alias(
                "__cb"
            ),
        )
        .transform(truncate_lineage)
    )
    totals = cells.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    joined = cells.crossJoin(F.broadcast(totals))
    p = F.col("__ca") / F.col("__na")
    q = F.col("__cb") / F.col("__nb")
    m = (p + q) / 2.0
    # 0 ln 0 = 0 by continuity: guard each side's term on its count
    term = F.when(
        F.col("__ca") > 0, p / 2.0 * F.log(p / m)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("__cb") > 0, q / 2.0 * F.log(q / m)
    ).otherwise(F.lit(0.0))
    out = joined.groupBy("__na", "__nb").agg(F.sum(term).alias("__js"))
    # float noise can push an identical-distribution JS a hair below 0
    js = F.greatest(F.col("__js"), F.lit(0.0))
    return out.select(
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        F.round(js, 6).alias("js"),
        F.round(F.sqrt(js), 6).alias("js_dist"),
    )


def windowed_js_drift(
    df: DataFrame,
    window_cols: Sequence[str],
    cat_col: str,
    count_col: str | None = None,
) -> DataFrame:
    """Per-window Jensen-Shannon drift: each window's categorical
    distribution vs the ALL-WINDOWS pooled reference — the monitoring
    readout that turns a windowed histogram (e.g. a Structured
    Streaming tumbling-count sink) into one bounded drift number per
    window. `count_col=None` counts rows; otherwise rows are
    pre-aggregated (window, category, count) cells. Output per window:
    (window..., n, js) with js in [0, ln 2] rounded to 6 dp, ordered by
    window. NULL categories are excluded.

    Categories ABSENT from a window still contribute their reference
    mass (q/2 · ln 2 at p=0) — the full window x category grid is
    rebuilt from the two marginal tables, the chi_square_independence
    pattern; omitting absent cells would understate drift exactly when
    a category disappears, the event a monitor exists to catch.

    Scale shape: ONE partial-aggregated groupBy collapses the input to
    (window, category) cells, checkpointed for its consumers; the
    reference (|categories| rows) and window totals (|windows| rows)
    are cell aggregates; the grid is windows x broadcast(categories) —
    bounded by label cardinalities, independent of row count.
    """
    wc = [F.col(c) for c in window_cols]
    if not window_cols:
        raise ValueError("window_cols must be non-empty")
    cnt = (
        F.count(F.lit(1))
        if count_col is None
        else F.sum(F.col(count_col).cast("long"))
    )
    cells = (
        df.where(F.col(cat_col).isNotNull())
        .groupBy(*wc, F.col(cat_col).alias("__cat"))
        .agg(cnt.alias("__c"))
        .transform(truncate_lineage)
    )
    ref = cells.groupBy("__cat").agg(F.sum("__c").alias("__rc"))
    ref_tot = cells.agg(F.sum("__c").alias("__rn"))
    win_tot = cells.groupBy(*window_cols).agg(F.sum("__c").alias("__wn"))
    grid = (
        win_tot.crossJoin(F.broadcast(ref))
        .join(cells, [*window_cols, "__cat"], "left")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
        .crossJoin(F.broadcast(ref_tot))
    )
    p = F.col("__c") / F.col("__wn")
    q = F.col("__rc") / F.col("__rn")
    m = (p + q) / 2.0
    term = F.when(
        F.col("__c") > 0, p / 2.0 * F.log(p / m)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("__rc") > 0, q / 2.0 * F.log(q / m)
    ).otherwise(F.lit(0.0))
    return (
        grid.groupBy(*window_cols, "__wn")
        .agg(F.sum(term).alias("__js"))
        .select(
            *window_cols,
            F.col("__wn").alias("n"),
            F.round(F.greatest(F.col("__js"), F.lit(0.0)), 6).alias("js"),
        )
        .orderBy(*window_cols)
    )


def srm_check(
    df: DataFrame,
    group_cols: Sequence[str],
    arm_col: str,
    expected: dict[str, float],
) -> DataFrame:
    """Sample-ratio-mismatch check: chi-square goodness-of-fit of the
    observed per-arm unit counts against the configured allocation
    (`expected` = {arm: weight}; weights are normalized, so {a: 1, b: 1}
    means 50/50). The first gate every experimentation platform runs —
    a biased assignment invalidates all downstream readouts, and the
    mismatch is invisible to per-arm metrics. Output per group:
    (group..., n, then one n_<arm> count per configured arm in the
    given order, chi2_stat, dof) with chi2 rounded to 6 dp; chi2 NULL
    when the group has no rows in the configured arms. Rows whose arm
    is not in `expected` are ignored (they are not part of the
    allocation being tested); dof = |arms| - 1.

    Scale shape: the ab_ttest shape — ONE grouped aggregation where
    each configured arm's count rides a conditional partial sum, so the
    shuffle carries |groups| rows regardless of event volume. The
    statistic is closed-form column arithmetic on that bounded result.
    """
    if len(expected) < 2:
        raise ValueError("expected needs at least two arms")
    total_w = float(sum(expected.values()))
    arms = list(expected)
    counts = df.groupBy(*group_cols).agg(
        *[
            F.count(F.when(F.col(arm_col) == a, F.lit(1))).alias(f"n_{a}")
            for a in arms
        ]
    )
    n = sum((F.col(f"n_{a}") for a in arms[1:]), F.col(f"n_{arms[0]}"))
    chi2 = None
    for a in arms:
        exp_a = n.cast("double") * F.lit(expected[a] / total_w)
        term = (F.col(f"n_{a}") - exp_a) ** 2 / exp_a
        chi2 = term if chi2 is None else chi2 + term
    return counts.select(
        *group_cols,
        n.alias("n"),
        *[F.col(f"n_{a}") for a in arms],
        F.round(F.when(n > 0, chi2), 6).alias("chi2_stat"),
        F.lit(len(arms) - 1).alias("dof"),
    ).orderBy(*group_cols)


def ratio_metric_delta(
    df: DataFrame,
    group_cols: Sequence[str],
    num_col: str,
    den_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Delta-method confidence interval for a per-group RATIO metric
    over randomization units (Deng et al., KDD'18 "Applying the Delta
    Method in Metric Analytics"): each input row is one unit (e.g. one
    user) carrying that unit's numerator y and denominator x totals;
    the group metric is R = Σy/Σx, whose variance is NOT the naive
    mean-variance because both sums are random. First-order expansion:

        Var(R) ~= (s_y² + R²·s_x² − 2·R·s_xy) / (n · x̄²)

    with per-unit sample (co)variances. Output per group:
    (group..., n, ratio, se, ci_lo, ci_hi) rounded to 6 dp; se/ci NULL
    for degenerate groups (n < 2 or Σx == 0). Units with a NULL
    numerator or denominator are excluded — they are not observations.

    Scale shape: ONE grouped aggregation collects the six sufficient
    statistics (n, Σx, Σy, Σx², Σy², Σxy) as partial sums, so the
    shuffle carries |groups| rows; the interval is closed-form
    arithmetic on that bounded result. The standard sessions-per-user /
    revenue-per-click readout in a single pass.

    Determinism: the sums ride the INPUT numeric type and are cast to
    double only after aggregation — feed DECIMAL / integer unit
    columns (as the registry query does) and the statistics are
    bit-identical regardless of partitioning or engine; double inputs
    sum in float order and can wobble in the last ulp.
    """
    x = F.col(den_col)
    y = F.col(num_col)
    both = x.isNotNull() & y.isNotNull()
    stats = (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.when(both, F.lit(1))).alias("n"),
            F.sum(F.when(both, x)).alias("sx_t"),
            F.sum(F.when(both, y)).alias("sy_t"),
            F.sum(F.when(both, x * x)).alias("sxx_t"),
            F.sum(F.when(both, y * y)).alias("syy_t"),
            F.sum(F.when(both, x * y)).alias("sxy_t"),
        )
        .select(
            *group_cols,
            "n",
            F.col("sx_t").cast("double").alias("sx"),
            F.col("sy_t").cast("double").alias("sy"),
            F.col("sxx_t").cast("double").alias("sxx"),
            F.col("syy_t").cast("double").alias("syy"),
            F.col("sxy_t").cast("double").alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    mx = F.col("sx") / n
    ratio = F.when(F.col("sx") != 0, F.col("sy") / F.col("sx"))
    # unbiased sample (co)variances from sums: (Σab − n·ā·b̄) / (n−1)
    vx = (F.col("sxx") - n * mx * mx) / (n - 1)
    vy = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    cxy = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    # ANSI mode throws on ANY division by zero, so the (n-1)/sx/n·x̄²
    # divisions must never EVALUATE for degenerate groups — the guards
    # below rely on when()'s branch pruning, not null-tolerant division
    var_r = F.when(
        (F.col("n") >= 2) & (F.col("sx") != 0),
        (vy + ratio * ratio * vx - 2.0 * ratio * cxy) / (n * mx * mx),
    )
    se = F.when(var_r >= 0, F.sqrt(var_r))
    return stats.select(
        *group_cols,
        "n",
        F.round(ratio, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(ratio - F.lit(z) * se, 6).alias("ci_lo"),
        F.round(ratio + F.lit(z) * se, 6).alias("ci_hi"),
    ).orderBy(*group_cols)


def normal_sf(z: Column) -> Column:
    """Standard-normal survival function P(Z > z) as a pure column
    expression — the Zelen & Severo polynomial (Abramowitz & Stegun
    26.2.17, |error| < 7.5e-8), the standard closed form when no erf
    builtin exists. Exp/pow only, so the identical arithmetic runs in
    any SQL engine — this is what keeps z-derived p-values
    oracle-checkable (experiments.py's module contract: statistics and
    p-values both stay in-plan, scipy never enters the engine).
    """
    az = F.abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    poly = (
        0.319381530 * t
        - 0.356563782 * t**2
        + 1.781477937 * t**3
        - 1.821255978 * t**4
        + 1.330274429 * t**5
    )
    phi = F.exp(-az * az / 2.0) / math.sqrt(2.0 * math.pi)
    upper_abs = phi * poly  # P(Z > |z|)
    return F.when(z >= 0, upper_abs).otherwise(1.0 - upper_abs)


def fdr_bh(
    df: DataFrame,
    family_cols: Sequence[str],
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate correction within each
    test family: the multiple-comparisons step every metrics platform
    needs once an experiment reads out tens of metrics (at alpha=0.05,
    20 independent true-null metrics produce ~1 false "win" per
    experiment uncorrected). Step-up procedure: sort the family's m
    p-values ascending, adj_p(i) = min_{j>=i}(p(j)·m/j) capped at 1,
    reject when adj_p <= alpha. Output per test:
    (family..., test, p_value, p_rank, m_tests, adj_p, reject) ordered
    by (family..., p_rank); adj_p rounded to 6 dp. Ties rank
    deterministically by (p, test). NULL p-values are excluded.

    Scale shape: two window passes over the SAME (family, p, test)
    sort — ascending row_number for ranks, then the step-up suffix-min
    as a running min over the descending frame — plus a |families|-row
    count join. One shuffle of |tests| rows total; with empty
    family_cols the window is global, which is bounded by design: one
    row per TEST (a human-curated metric list), never per observation.
    """
    fam = [F.col(c) for c in family_cols]
    rows = df.where(F.col(p_col).isNotNull()).select(
        *family_cols,
        F.col(test_col).alias("test"),
        F.col(p_col).cast("double").alias("p_value"),
    )
    m = rows.groupBy(*family_cols).agg(F.count(F.lit(1)).alias("m_tests"))
    if family_cols:
        rows = rows.join(F.broadcast(m), list(family_cols))
        asc = Window.partitionBy(*fam).orderBy("p_value", "test")
    else:
        rows = rows.crossJoin(F.broadcast(m))
        asc = Window.orderBy("p_value", "test")
    ranked = rows.withColumn("p_rank", F.row_number().over(asc))
    desc = (
        (Window.partitionBy(*fam) if family_cols else Window)
        .orderBy(F.col("p_rank").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    adj = F.least(
        F.min(F.col("p_value") * F.col("m_tests") / F.col("p_rank")).over(desc),
        F.lit(1.0),
    )
    return ranked.select(
        *family_cols,
        "test",
        F.round("p_value", 6).alias("p_value"),
        "p_rank",
        "m_tests",
        F.round(adj, 6).alias("adj_p"),
        (adj <= alpha).alias("reject"),
    ).orderBy(*family_cols, "p_rank")


def diff_in_diff(
    df: DataFrame,
    group_cols: Sequence[str],
    treat_col: str,
    post_col: str,
    value_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Difference-in-differences estimator per group: with boolean
    treatment and period indicators,

        DiD = (ybar_t,post - ybar_t,pre) - (ybar_c,post - ybar_c,pre)

    the canonical causal readout when treatment was NOT randomized but
    a parallel-trends control exists (Card & Krueger '94 shape): the
    control's pre->post drift nets out seasonality and shocks that a
    naive post-only comparison absorbs into the effect. SE is the
    four-cell pooled form sqrt(sum s_i^2 / n_i) (cells independent);
    CI at the given z. Output per group: (group..., n_tp, n_tq, n_cp,
    n_cq, did, se, ci_lo, ci_hi) where p/q = post/pre, rounded to 6 dp;
    did NULL when any cell is empty (a missing cell means there IS no
    difference to difference), se/ci NULL when any cell has n < 2.
    Rows with NULL value/flags are excluded.

    Scale shape: the ab_ttest shape widened to four arms — each cell's
    (n, sum, sumsq) rides a conditional partial sum in ONE grouped
    aggregation, so the shuffle carries |groups| rows regardless of
    event volume; the estimator is closed-form arithmetic on that
    bounded result.
    """
    v = F.col(value_col).cast("double")
    tr = F.col(treat_col).cast("boolean")
    po = F.col(post_col).cast("boolean")
    ok_row = v.isNotNull() & tr.isNotNull() & po.isNotNull()
    cells = {
        "tp": tr & po,
        "tq": tr & ~po,
        "cp": ~tr & po,
        "cq": ~tr & ~po,
    }
    aggs = []
    for k, cond in cells.items():
        c = ok_row & cond
        aggs += [
            F.count(F.when(c, F.lit(1))).alias(f"n_{k}"),
            F.sum(F.when(c, v)).alias(f"s_{k}"),
            F.sum(F.when(c, v * v)).alias(f"ss_{k}"),
        ]
    stats = df.groupBy(*group_cols).agg(*aggs)

    def mean(k: str) -> Column:
        return F.col(f"s_{k}") / F.col(f"n_{k}")

    def var_over_n(k: str) -> Column:
        n = F.col(f"n_{k}").cast("double")
        m = mean(k)
        return ((F.col(f"ss_{k}") - n * m * m) / (n - 1)) / n

    did = (mean("tp") - mean("tq")) - (mean("cp") - mean("cq"))
    nonempty, ok = None, None
    for k in cells:
        c1 = F.col(f"n_{k}") >= 1
        c2 = F.col(f"n_{k}") >= 2
        nonempty = c1 if nonempty is None else nonempty & c1
        ok = c2 if ok is None else ok & c2
    # guards rely on when() branch pruning: ANSI throws on /0, so the
    # per-cell divisions must never evaluate for degenerate groups —
    # the estimate needs every cell occupied, the SE needs n >= 2
    did_ok = F.when(nonempty, did)
    se = F.when(
        ok,
        F.sqrt(
            var_over_n("tp") + var_over_n("tq")
            + var_over_n("cp") + var_over_n("cq")
        ),
    )
    # + 0.0 normalizes IEEE -0.0 on the subtraction-derived columns
    # (a tiny negative DiD rounds to -0.0 and breaks the canonical
    # string compare), mirroring the oracle's + CAST(0 AS DOUBLE)
    return stats.select(
        *group_cols,
        "n_tp",
        "n_tq",
        "n_cp",
        "n_cq",
        (F.round(did_ok, 6) + 0.0).alias("did"),
        F.round(se, 6).alias("se"),
        (F.round(did_ok - F.lit(z) * se, 6) + 0.0).alias("ci_lo"),
        (F.round(did_ok + F.lit(z) * se, 6) + 0.0).alias("ci_hi"),
    ).orderBy(*group_cols)


def sprt_check(
    df: DataFrame,
    group_cols: Sequence[str],
    success_col: str,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """Sequential probability ratio test (Wald '45) readout for binary
    metrics — the always-valid companion to the fixed-horizon gates
    (ab_ttest / proportion_ci / srm_check): per group, the binomial
    log-likelihood ratio of H1: p = p1 against H0: p = p0,

        LLR = s·ln(p1/p0) + (n−s)·ln((1−p1)/(1−p0))

    compared against Wald's decision boundaries ln(β/(1−α)) and
    ln((1−β)/α). Peeking at a fixed-horizon test inflates α; the SPRT's
    boundaries are valid at EVERY interim look, which is why
    ship/abort monitors re-compute exactly this readout per batch.
    Output per group: (group..., n, successes, llr, lower, upper,
    decision) with decision ∈ {accept_h0, continue, accept_h1}, llr and
    bounds rounded to 6 dp, ordered by group.

    Scale shape: ONE conditional-sum aggregation (n, s) with map-side
    combine — |groups| rows shuffled; the LLR/boundary arithmetic is
    closed-form column math on that bounded table, and every term is a
    deterministic function of two integers, so the readout is
    oracle-exact.
    """
    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0) or p0 == p1:
        raise ValueError("need 0 < p0, p1 < 1 and p0 != p1")
    if not (0.0 < alpha < 1.0 and 0.0 < beta < 1.0):
        raise ValueError("need 0 < alpha, beta < 1")
    s = F.col(success_col).cast("int")
    agg = (
        df.where(s.isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(s).alias("successes"),
        )
    )
    return sprt_columns(agg, p0, p1, alpha, beta).orderBy(*group_cols)


def sprt_columns(
    agg: DataFrame,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """Append the Wald LLR / boundary / decision columns to a DataFrame
    that already carries (n, successes) — shared by the batch
    `sprt_check` and the streaming `streaming.monitors.sprt_monitor`
    (a projection, so it composes with streaming aggregates). Constants
    are Python doubles, so an oracle embedding their repr is exact."""
    win = math.log(p1 / p0)
    lose = math.log((1.0 - p1) / (1.0 - p0))
    lower = math.log(beta / (1.0 - alpha))
    upper = math.log((1.0 - beta) / alpha)
    llr = (
        F.col("successes").cast("double") * F.lit(win)
        + (F.col("n") - F.col("successes")).cast("double") * F.lit(lose)
    )
    return (
        agg.withColumn("llr", F.round(llr, 6))
        .withColumn("lower", F.round(F.lit(lower), 6))
        .withColumn("upper", F.round(F.lit(upper), 6))
        .withColumn(
            "decision",
            F.when(F.col("llr") >= F.round(F.lit(upper), 6), "accept_h1")
            .when(F.col("llr") <= F.round(F.lit(lower), 6), "accept_h0")
            .otherwise("continue"),
        )
    )


def conformal_intervals(
    cal: DataFrame,
    test: DataFrame,
    group_cols: Sequence[str],
    y_col: str,
    yhat_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split conformal prediction readout (Vovk et al. '05; Lei et al.
    '18) per group: from a held-out CALIBRATION set of (y, yhat) pairs,
    the finite-sample radius

        qhat = the ceil((n_cal + 1)·(1 − alpha))-th smallest |y − yhat|

    guarantees P(y ∈ yhat ± qhat) >= 1 − alpha for exchangeable test
    points REGARDLESS of how bad the model is — the distribution-free
    uncertainty wrapper an eval harness runs around any regressor. The
    test set is then audited: covered = how many test residuals fall
    within qhat. When ceil((n+1)(1−alpha)) > n_cal the guarantee needs
    the infinite interval: qhat is NULL and coverage reports 1.0.
    Output per group: (group..., n_cal, qhat, n_test, covered,
    coverage) with coverage rounded to 6 dp, ordered by group.
    Group contract: output rows are the INTERSECTION of the two
    inputs' group sets — a group with calibration rows but no test
    rows has nothing to audit and is dropped, and a test group absent
    from the calibration set has no qhat (no finite-sample guarantee
    exists for it) and is likewise dropped rather than emitted with a
    fabricated radius. Callers who need cal-only/test-only groups
    surfaced should anti-join the inputs against this output.

    Scale shape: the k-th order statistic rides ONE keyed window sort
    over the calibration residuals (rank selection, not a global
    sort); the |groups|-row (qhat, n_cal) table broadcasts onto the
    test set; the audit is a conditional-count partial agg. Residual
    compares are plain double subtraction; for CROSS-ENGINE exactness
    the caller must supply an engine-reproducible yhat (e.g. a rounded
    model output) — an unrounded float aggregate carries last-ulp
    summation noise into every tied boundary compare.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError("need 0 < alpha < 1")
    r_cal = F.abs(
        F.col(y_col).cast("double") - F.col(yhat_col).cast("double")
    )
    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        if group_cols
        else Window.partitionBy()
    ).orderBy("__r")
    ranked = (
        cal.where(r_cal.isNotNull())
        .select(*group_cols, r_cal.alias("__r"))
        .withColumn("__rk", F.row_number().over(w))
        .withColumn(
            "__n",
            F.count(F.lit(1)).over(
                Window.partitionBy(*[F.col(c) for c in group_cols])
                if group_cols
                else Window.partitionBy()
            ),
        )
    )
    k = F.ceil((F.col("__n") + 1) * F.lit(1.0 - alpha)).cast("long")
    stats = (
        ranked.withColumn("__k", k)
        .groupBy(*group_cols)
        .agg(
            F.any_value(F.col("__n")).alias("n_cal"),
            F.max(
                F.when(F.col("__rk") == F.col("__k"), F.col("__r"))
            ).alias("qhat"),
            F.any_value(F.col("__k")).alias("__k"),
        )
        # k > n_cal: the quantile falls past the sample -> infinite
        # interval; keep qhat NULL and let coverage report 1.0 below
        .withColumn("__inf", (F.col("__k") > F.col("n_cal")).cast("int"))
        .drop("__k")
    )
    r_test = F.abs(
        F.col(y_col).cast("double") - F.col(yhat_col).cast("double")
    )
    audited = (
        test.where(r_test.isNotNull())
        .select(*group_cols, r_test.alias("__rt"))
        .join(F.broadcast(stats), list(group_cols))
        .groupBy(*group_cols)
        .agg(
            F.any_value("n_cal").alias("n_cal"),
            F.round(F.any_value("qhat"), 6).alias("qhat"),
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("__inf") == 1, 1).otherwise(
                    (F.col("__rt") <= F.col("qhat")).cast("int")
                )
            ).alias("covered"),
        )
        .withColumn(
            "coverage",
            F.round(F.col("covered") / F.col("n_test"), 6),
        )
    )
    return audited.select(
        *group_cols, "n_cal", "qhat", "n_test", "covered", "coverage"
    ).orderBy(*group_cols)


def calibration_error(
    df: DataFrame,
    score_col: str,
    label_col,
    bins: int = 10,
) -> DataFrame:
    """One-row probabilistic-quality readout completing the
    `calibration_bins` table: Brier score plus Expected / Maximum
    Calibration Error,

        brier = mean((s − y)²)                 (Brier '50)
        ece   = Σ_b (n_b/N) · |conf_b − acc_b| (Naeini et al. '15)
        mce   = max_b |conf_b − acc_b|

    with conf_b/acc_b the bin's mean score and positive rate over
    fixed-width bins — the scalar gates a model-promotion pipeline
    thresholds on, where the bins table is the diagnostic to read when
    a gate trips. Same NULL/clamp/binning contract as
    calibration_bins. Output: ONE row (n, n_pos, brier, ece, mce),
    6 dp.

    Scale shape: one partial-aggregated pass keyed by the bin index
    carries count, positives, score sum AND squared-error sum — the
    Brier numerator rides the same `bins`-row shuffle, so the whole
    readout is a single data pass plus a `bins`-row collapse.
    """
    if bins <= 0:
        raise ValueError(f"bins must be positive, got {bins}")
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    pos = lab.cast("boolean").cast("long")
    s = F.least(
        F.greatest(F.col(score_col).cast("double"), F.lit(0.0)), F.lit(1.0)
    )
    b = F.least(F.floor(s * bins).cast("int"), F.lit(bins - 1))
    err = s - pos.cast("double")
    cells = (
        df.where(F.col(score_col).isNotNull())
        .select(
            b.alias("__b"),
            s.alias("__s"),
            pos.alias("__p"),
            (err * err).alias("__se"),
        )
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__p").alias("__np"),
            F.sum("__s").alias("__ss"),
            F.sum("__se").alias("__sse"),
        )
    )
    gap = F.abs(
        F.col("__ss") / F.col("__n")
        - F.col("__np").cast("double") / F.col("__n")
    )
    return cells.select(
        "__n", "__np", "__sse", gap.alias("__gap")
    ).agg(
        F.sum("__n").alias("n"),
        F.sum("__np").alias("n_pos"),
        F.round(F.sum("__sse") / F.sum("__n"), 6).alias("brier"),
        F.round(
            F.sum(F.col("__gap") * F.col("__n")) / F.sum("__n"), 6
        ).alias("ece"),
        F.round(F.max("__gap"), 6).alias("mce"),
    )


def target_encoding(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    prior_weight: float = 10.0,
) -> DataFrame:
    """Smoothed mean target encoding per category (Micci-Barreca,
    SIGKDD Explorations '01 — the standard high-cardinality categorical
    encoder): each category's raw target mean is shrunk toward the
    global mean by an m-estimate prior,

        encoded = (n_c * mean_c + m * mean_global) / (n_c + m)

    so rare categories (n_c << m) report ~the global prior instead of a
    noisy single-row mean, and frequent ones converge to their own
    mean. NULL categories are a real category ('__null__' — unseen-at-
    inference handling is the caller's join default); NULL targets are
    excluded from both numerator and n. Output: (category, n,
    raw_mean, encoded) rounded to 6 dp, ordered by category.

    Scale shape: ONE partial-aggregated collapse of raw rows to the
    |categories| cell table (map-side combine does the heavy lifting);
    the global mean is a 1-row aggregate broadcast back onto the cells
    — computed from the SAME cell sums (never a second scan). Nothing
    row-proportional survives the first shuffle.
    """
    if prior_weight < 0:
        raise ValueError("prior_weight must be >= 0")
    cat = F.coalesce(F.col(cat_col).cast("string"), F.lit("__null__"))
    y = F.col(target_col).cast("double")
    cells = (
        df.where(y.isNotNull())
        .groupBy(cat.alias("category"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(y).alias("__sum"))
    )
    glob = cells.agg(
        (F.sum("__sum") / F.sum("n")).alias("__gmean")
    )
    m = F.lit(float(prior_weight))
    enc = (
        (F.col("n") * (F.col("__sum") / F.col("n")) + m * F.col("__gmean"))
        / (F.col("n") + m)
    )
    return (
        cells.crossJoin(F.broadcast(glob))
        .select(
            "category",
            "n",
            F.round(F.col("__sum") / F.col("n"), 6).alias("raw_mean"),
            F.round(enc, 6).alias("encoded"),
        )
        .orderBy("category")
    )


def propensity_match(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    treated_col: str,
    score_col: str,
    caliper: float | None = None,
) -> DataFrame:
    """Deterministic 1-nearest-neighbor propensity matching WITH
    replacement, stratified by `group_cols` (Rosenbaum & Rubin '83;
    greedy-order-free variant): each treated unit matches the control
    in its stratum whose score is closest — the score-sorted
    predecessor or successor control, whichever is nearer (|diff|
    ties break to the PREDECESSOR side; among equal-score controls
    the sort order (score, is_treated, id) makes the predecessor the
    LARGEST id at that score and the successor the smallest, both
    deterministic) — so the matching is a pure function of the data,
    not of scan
    order (greedy without-replacement matching is order-dependent and
    cannot be oracle-checked). An optional caliper drops matches with
    |t_score - c_score| > caliper. Treated units in strata with no
    controls are dropped. Output: (group..., treated_id, control_id,
    t_score, c_score, score_diff rounded 6 dp), ordered by (group...,
    treated_id).

    Scale shape: ONE keyed window sort per stratum over the unioned
    (score, is_control) rows — nearest-control-by-score is last_value
    (ignorenulls) over the preceding frame + first_value over the
    following frame, the asof-join trick applied both directions; no
    self-join, no cross join, nothing beyond the stratum sort. With
    replacement = each treated row resolves independently (hub
    controls are reused, never materialized per-pair).
    """
    if not group_cols:
        raise ValueError("propensity matching must be stratified: pass group_cols")
    s = F.col(score_col).cast("double")
    base = df.select(
        *group_cols,
        F.col(id_col).alias("__id"),
        F.col(treated_col).cast("boolean").alias("__t"),
        s.alias("__s"),
    ).where(F.col("__s").isNotNull() & F.col("__t").isNotNull())
    ctl = F.when(
        ~F.col("__t"), F.struct(F.col("__s").alias("cs"), F.col("__id").alias("cid"))
    )
    order = [F.col("__s").asc(), F.col("__t").asc(), F.col("__id").asc()]
    w_prev = (
        Window.partitionBy(*group_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy(*group_cols)
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    cand = (
        base.withColumn("__prev", F.last(ctl, ignorenulls=True).over(w_prev))
        .withColumn("__next", F.first(ctl, ignorenulls=True).over(w_next))
        .where(F.col("__t"))
    )
    d_prev = F.abs(F.col("__s") - F.col("__prev.cs"))
    d_next = F.abs(F.col("__s") - F.col("__next.cs"))
    pick_prev = F.col("__next").isNull() | (
        F.col("__prev").isNotNull() & (d_prev <= d_next)
    )
    chosen = F.when(pick_prev, F.col("__prev")).otherwise(F.col("__next"))
    out = cand.select(
        *group_cols,
        F.col("__id").alias("treated_id"),
        F.col("__s").alias("t_score"),
        chosen.alias("__c"),
    ).where(F.col("__c").isNotNull())
    diff = F.abs(F.col("t_score") - F.col("__c.cs"))
    if caliper is not None:
        out = out.where(diff <= float(caliper))
    return out.select(
        *group_cols,
        "treated_id",
        F.col("__c.cid").alias("control_id"),
        F.round("t_score", 6).alias("t_score"),
        F.round(F.col("__c.cs"), 6).alias("c_score"),
        F.round(diff, 6).alias("score_diff"),
    ).orderBy(*group_cols, "treated_id")


def average_precision(
    df: DataFrame,
    group_cols: Sequence[str],
    score_col: str,
    label_col: str,
    id_col: str,
) -> DataFrame:
    """Average precision (the area under the precision-recall curve at
    every positive, a.k.a. AP / the per-query summand of MAP) per
    group — the ranking-quality readout that, unlike ROC-AUC
    (`binary_auc`), does not reward a model for ranking easy negatives
    correctly when positives are rare (the class-imbalance regime of
    retrieval and near-dup detection):

        AP = (1/n_pos) * Σ_{ranks i with label=1} cum_pos(i) / i

    Ranks are score-descending with id-ascending tie-breaks, so AP is
    a pure function of the data (the textbook definition leaves tied
    scores undefined; pinning the tie order makes the oracle exact).
    Groups with no positives report NULL ap (undefined, never 0).
    Output: (group..., n, n_pos, ap) with ap rounded to 6 dp.

    Scale shape: ONE keyed window sort per group drives both the rank
    and the running positive count; the readout is a partial-aggregated
    conditional sum — cum_pos/i is a ratio of small integers, so the
    per-group float sum is exact well past the 6-dp readout.
    """
    if not group_cols:
        raise ValueError("average_precision needs group_cols (keyed window)")
    y = F.col(label_col).cast("int")
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = df.select(
        *group_cols, F.col(score_col), F.col(id_col), y.alias("__y")
    ).withColumn("__i", F.row_number().over(w)).withColumn(
        "__cp", F.sum("__y").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("n_pos"),
            F.sum(
                F.when(F.col("__y") == 1, F.col("__cp") / F.col("__i"))
            ).alias("__s"),
        )
        .select(
            *group_cols,
            "n",
            "n_pos",
            F.round(
                F.when(F.col("n_pos") > 0, F.col("__s") / F.col("n_pos")), 6
            ).alias("ap"),
        )
        .orderBy(*group_cols)
    )


def label_noise(
    df: DataFrame,
    id_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Confident-learning label-noise screen for binary labels (Northcutt
    et al., JAIR 2021 'Confident Learning', simplified to the binary
    single-score case) — the label-quality gate a training-data pipeline
    runs before trusting crowd/weak labels. Per-class confidence
    thresholds are the mean predicted probability among examples GIVEN
    that label: t1 = mean(score | label=1), t0 = mean(1-score |
    label=0). An example is confidently class j when p_j >= t_j; the
    confident joint counts (given_label, suggested_label) over examples
    confident in at least one class, suggesting the higher-probability
    confident class. Off-diagonal cells estimate label noise. Thresholds
    are rounded to 9 dp on BOTH sides of the oracle pair so the >=
    comparisons bit-match across engines (an unrounded mean differs in
    the last ulp under different summation orders). Output: up to 4 rows
    (given_label, suggested_label, n, frac_of_given) with frac rounded
    to 6 dp, ordered by (given_label, suggested_label).

    Scale shape: two passes of 1-row aggregates (the thresholds)
    broadcast back onto a map-side classification — no shuffle carries
    more than the final <=4-cell table.
    """
    p1 = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.select(
        F.col(id_col).alias("id"), p1.alias("__p1"), y.alias("__y")
    ).where(p1.isNotNull() & y.isNotNull())
    thr = base.agg(
        F.round(F.avg(F.when(F.col("__y") == 1, F.col("__p1"))), 9).alias(
            "__t1"
        ),
        F.round(
            F.avg(F.when(F.col("__y") == 0, 1 - F.col("__p1"))), 9
        ).alias("__t0"),
    )
    conf1 = F.col("__p1") >= F.col("__t1")
    conf0 = (1 - F.col("__p1")) >= F.col("__t0")
    suggested = (
        F.when(conf1 & conf0, (F.col("__p1") >= 0.5).cast("int"))
        .when(conf1, F.lit(1))
        .when(conf0, F.lit(0))
    )
    cells = (
        base.crossJoin(F.broadcast(thr))
        .select("__y", suggested.alias("__s"))
        .where(F.col("__s").isNotNull())
        .groupBy(
            F.col("__y").alias("given_label"),
            F.col("__s").alias("suggested_label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = (
        cells.groupBy("given_label")
        .agg(F.sum("n").alias("__tot"))
    )
    return (
        cells.join(F.broadcast(w_tot), "given_label")
        .select(
            "given_label",
            "suggested_label",
            "n",
            F.round(F.col("n").cast("double") / F.col("__tot"), 6).alias(
                "frac_of_given"
            ),
        )
        .orderBy("given_label", "suggested_label")
    )


def power_analysis(
    df: DataFrame,
    group_cols: Sequence[str],
    label_col: str,
    mde_rel: float = 0.05,
    z_alpha: float = 1.9599639845400545,
    z_beta: float = 0.8416212335729143,
) -> DataFrame:
    """Two-proportion sample-size calculation per group (the standard
    normal-approximation formula, two-sided alpha=0.05 / power=80% by
    default): given each group's observed baseline rate p and a relative
    minimum detectable effect, the required per-arm n is

        n = (z_a*sqrt(2*pbar*(1-pbar)) + z_b*sqrt(p1*(1-p1)+p2*(1-p2)))^2
            / (p2 - p1)^2,   pbar = (p1+p2)/2

    — the pre-experiment readout that says whether a segment can support
    its own test at all. p2 = min(p*(1+mde_rel), 1); groups where the
    rate is degenerate (p in {0,1}) or the effect is zero report NULL.
    Output: (group..., n_obs, p_base, p_target, n_per_arm) — rates
    rounded to 6 dp, n_per_arm = ceil, ordered by group.

    Scale shape: ONE partial-aggregated collapse to the |groups| cell
    table; everything after is closed-form column math on cells.
    """
    if not 0 < mde_rel:
        raise ValueError("mde_rel must be > 0")
    y = F.col(label_col).cast("double")
    cells = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n_obs"), F.avg(y).alias("__p1")
    )
    p1 = F.col("__p1")
    p2 = F.least(p1 * (1 + F.lit(float(mde_rel))), F.lit(1.0))
    pbar = (p1 + p2) / 2
    num = (
        F.lit(float(z_alpha)) * F.sqrt(2 * pbar * (1 - pbar))
        + F.lit(float(z_beta)) * F.sqrt(p1 * (1 - p1) + p2 * (1 - p2))
    )
    ok = (p1 > 0) & (p1 < 1) & (p2 > p1)
    n_req = F.ceil(F.pow(num, 2) / F.pow(p2 - p1, 2)).cast("long")
    return cells.select(
        *group_cols,
        "n_obs",
        F.round(p1, 6).alias("p_base"),
        F.round(p2, 6).alias("p_target"),
        F.when(ok, n_req).alias("n_per_arm"),
    ).orderBy(*group_cols)


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    category_col: str,
) -> DataFrame:
    """Fleiss' kappa for multi-rater categorical agreement (Fleiss,
    Psych. Bulletin 1971; the generalized per-item-n form) — the
    annotation-quality gate for labeling pipelines with more than two
    raters (cohens_kappa covers the 2-rater case). Input is one row per
    rating (item, category); rater identity is irrelevant to the
    statistic. Per item i with n_i ratings and category counts n_ij:
    P_i = (sum_j n_ij^2 - n_i) / (n_i (n_i - 1)); P-bar is the mean
    over items; chance agreement P_e = sum_j p_j^2 with p_j the pooled
    category share; kappa = (P_bar - P_e) / (1 - P_e). Items with fewer
    than 2 ratings are dropped (pairwise agreement undefined on them).
    Output: ONE row (n_items, n_ratings, p_bar, p_e, kappa) rounded to
    6 dp; kappa NULL when P_e = 1 (a single category everywhere).

    Scale shape: ONE partial-aggregated collapse to (item, category)
    cells; per-item stats collapse those cells; the readout is two tiny
    aggregates joined as 1-row relations. Integer sums everywhere until
    the final ratios.
    """
    cells = (
        df.where(F.col(item_col).isNotNull() & F.col(category_col).isNotNull())
        .groupBy(F.col(item_col).alias("__i"), F.col(category_col).alias("__j"))
        .agg(F.count(F.lit(1)).alias("__nij"))
    )
    items = (
        cells.groupBy("__i")
        .agg(
            F.sum("__nij").alias("__ni"),
            F.sum(F.col("__nij") * F.col("__nij")).alias("__sq"),
        )
        .where(F.col("__ni") >= 2)
    )
    pbar_tab = items.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("__ni").alias("n_ratings"),
        F.avg(
            (F.col("__sq") - F.col("__ni")).cast("double")
            / (F.col("__ni") * (F.col("__ni") - 1))
        ).alias("__pbar"),
    )
    # pooled category shares from the SAME cells, restricted to kept items
    pe_tab = (
        cells.join(items.select("__i"), "__i")
        .groupBy("__j")
        .agg(F.sum("__nij").alias("__cj"))
        .agg(
            (
                F.sum(F.col("__cj").cast("double") * F.col("__cj"))
                / (F.sum("__cj") * F.sum("__cj"))
            ).alias("__pe")
        )
    )
    pb, pe = F.col("__pbar"), F.col("__pe")
    return pbar_tab.crossJoin(F.broadcast(pe_tab)).select(
        "n_items",
        "n_ratings",
        F.round(pb, 6).alias("p_bar"),
        F.round(pe, 6).alias("p_e"),
        F.round(F.when(pe < 1, (pb - pe) / (1 - pe)), 6).alias("kappa"),
    )


def qini_auuc(
    df: DataFrame,
    id_col: str,
    treat_col: str,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Uplift-model quality: the area under the Qini curve (Radcliffe,
    Direct Marketing Analytics 2007) — THE eval for targeting models,
    where ROC-AUC is wrong because treatment and control outcomes must
    be compared at equal targeting depth. Rows are ranked score-descending
    (ties by id); at each depth k,
    qini(k) = Y_t(k) - Y_c(k) * N_t(k)/N_c(k) (incremental conversions
    vs the depth-matched control expectation; 0-control depths
    contribute Y_t(k) alone). auuc = mean over all n depths. Output:
    ONE row (n, n_treat, n_ctrl, auuc) rounded to 6 dp.

    Scale shape: the global ranking and all four cumulative series ride
    ONE shared prefix_sum (range-partitioned scan + broadcast offsets,
    never a single-task window over data-sized rows); the readout is a
    1-row aggregate over the scanned stream.
    """
    from hdp_tez_spark.operators.sort import prefix_sum

    t = F.col(treat_col).cast("int")
    y = F.col(label_col).cast("int")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(score_col).alias("__s"),
        (t * y).cast("long").alias("__yt"),
        t.cast("long").alias("__nt"),
        ((1 - t) * y).cast("long").alias("__yc"),
        (1 - t).cast("long").alias("__nc"),
    )
    cum = prefix_sum(
        base,
        [F.col("__s").desc(), F.col("id").asc()],
        ["__yt", "__nt", "__yc", "__nc"],
        ["cyt", "cnt", "cyc", "cnc"],
    )
    qini = F.col("cyt").cast("double") - F.when(
        F.col("cnc") > 0,
        F.col("cyc").cast("double") * F.col("cnt") / F.col("cnc"),
    ).otherwise(F.lit(0.0))
    return cum.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__nt").alias("n_treat"),
        F.sum("__nc").alias("n_ctrl"),
        F.round(F.avg(qini), 6).alias("auuc"),
    )


def mcnemar_test(
    df: DataFrame,
    a_correct_col: str,
    b_correct_col: str,
) -> DataFrame:
    """McNemar's test for paired classifiers on a shared eval set — the
    right significance test when comparing model A vs model B row by
    row (a two-proportion z-test double-counts the concordant mass).
    Input: one row per example with boolean/0-1 correctness flags for
    each model. Only the discordant cells carry signal:
    b = A right & B wrong, c = A wrong & B right; the
    continuity-corrected statistic is (|b - c| - 1)^2 / (b + c),
    chi-square with 1 dof under H0 (statistic only — the chi_square
    family convention; feed fdr_bh for multiplicity). NULL when
    b + c = 0 (no disagreements, test undefined). Output: ONE row
    (n, both_right, both_wrong, a_only, b_only, statistic) rounded to
    6 dp.

    Scale shape: one partial-aggregated pass of conditional counts —
    a 1-row output, integer arithmetic until the final ratio.
    """
    a = F.col(a_correct_col).cast("int")
    b = F.col(b_correct_col).cast("int")
    cells = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(a * b).alias("both_right"),
        F.sum((1 - a) * (1 - b)).alias("both_wrong"),
        F.sum(a * (1 - b)).alias("a_only"),
        F.sum((1 - a) * b).alias("b_only"),
    )
    bb, cc = F.col("a_only"), F.col("b_only")
    stat = F.pow(F.abs(bb - cc) - 1, 2) / (bb + cc)
    return cells.select(
        "n",
        "both_right",
        "both_wrong",
        "a_only",
        "b_only",
        F.round(F.when(bb + cc > 0, stat), 6).alias("statistic"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F test across ALL groups present — the parametric
    twin of `kruskal_wallis` (which works on ranks) for multi-arm
    experiments and segment mean comparisons. Classical decomposition:
    SS_between = Σ_g n_g (x̄_g - x̄)², SS_within = Σ_g Σ_i (x_ig - x̄_g)²,
    F = (SS_between / (k-1)) / (SS_within / (N-k)). Output: ONE row
    (n_groups, n, ss_between, ss_within, f_stat, eta_sq) rounded to
    6 dp; compare f_stat to the F(k-1, N-k) threshold driver-side (the
    CDF is not expressible identically in both engines — the ks_test /
    kruskal_wallis convention). f_stat is NULL when k = 1 (no
    between-group df), N = k (no within-group df), or SS_within = 0
    (all groups constant); eta_sq
    (= SS_between / SS_total, the effect size) is NULL when SS_total
    = 0. NULL values and NULL group labels are excluded.

    Scale shape: ONE map-side-combined collapse to per-group sufficient
    statistics (n_g, Σx, Σx²) — |groups| rows — then a 1-row reduce
    using SS_between = Σ (Σx_g)²/n_g - (Σx)²/N and
    SS_within = Σ (Σx²_g - (Σx_g)²/n_g). The raw table is scanned
    exactly once; nothing after the first collapse exceeds |groups|
    rows.
    """
    v = F.col(value_col).cast("double")
    per_g = (
        df.where(v.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(v).alias("__s"),
            F.sum(v * v).alias("__ss"),
        )
    )
    red = per_g.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").alias("__nn"),
        F.sum("__s").alias("__ts"),
        F.sum(F.col("__s") * F.col("__s") / F.col("__n")).alias("__bg"),
        F.sum(
            F.col("__ss") - F.col("__s") * F.col("__s") / F.col("__n")
        ).alias("__wg"),
    )
    k, n = F.col("__k"), F.col("__nn")
    ssb = F.col("__bg") - F.col("__ts") * F.col("__ts") / n
    ssw = F.col("__wg")
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    return red.select(
        k.alias("n_groups"),
        n.alias("n"),
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round(
            F.when((k > 1) & (n > k) & (ssw > 0), f_stat), 6
        ).alias("f_stat"),
        F.round(F.when(ssb + ssw > 0, ssb / (ssb + ssw)), 6).alias(
            "eta_sq"
        ),
    )


def cramers_v(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cramér's V association between two categorical columns — the
    [0, 1]-normalized effect size the raw `chi_square` statistic lacks
    (χ² grows with N; V = sqrt(χ² / (N · (min(r, c) - 1))) does not),
    used to rank feature↔label and feature↔feature dependence in
    selection / leakage screens. Output: ONE row (n, levels_a,
    levels_b, chi2, v) rounded to 6 dp; v is NULL when either column
    is constant (min(r, c) = 1). NULL labels on either side are
    excluded.

    Uses the zero-cell-free identity χ² = N · (Σ_observed
    o²/(rowtot · coltot) - 1): absent (a, b) cells contribute exactly
    0 to the sum, so only OBSERVED cells are ever materialized — the
    r×c dense grid never exists.

    Scale shape: ONE map-side-combined collapse to observed (a, b)
    cells; row / column totals are |levels|-row aggregates broadcast
    back onto the cells; the χ² readout is a 1-row reduce. Integer
    counts until the final ratios.
    """
    a, b = F.col(a_col), F.col(b_col)
    base = df.where(a.isNotNull() & b.isNotNull()).select(
        a.alias("__a"), b.alias("__b")
    )
    cells = base.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).alias("__o")
    )
    cells = truncate_lineage(cells)
    rows = cells.groupBy("__a").agg(F.sum("__o").alias("__rt"))
    cols = cells.groupBy("__b").agg(F.sum("__o").alias("__ct"))
    joined = cells.join(F.broadcast(rows), "__a").join(
        F.broadcast(cols), "__b"
    )
    red = joined.agg(
        F.sum("__o").alias("__n"),
        F.count_distinct(F.col("__a")).alias("__ra"),
        F.count_distinct(F.col("__b")).alias("__cb"),
        F.sum(
            F.col("__o").cast("double")
            * F.col("__o")
            / (F.col("__rt") * F.col("__ct"))
        ).alias("__q"),
    )
    n = F.col("__n")
    # an independent table has Σ = 1 exactly, but summing non-dyadic
    # ratios (1/3 + 1/3 + 1/6 + 1/6) can land one ulp below it: without
    # the floor χ² reads -0.0 and V = sqrt(negative) = NaN
    chi2 = F.greatest(n * (F.col("__q") - 1), F.lit(0.0))
    mindim = F.least(F.col("__ra"), F.col("__cb")) - 1
    return red.select(
        n.alias("n"),
        F.col("__ra").alias("levels_a"),
        F.col("__cb").alias("levels_b"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.when(mindim >= 1, F.sqrt(chi2 / (n * mindim))), 6
        ).alias("v"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample 1-D Wasserstein-1 (earth mover's) distance — the
    magnitude-aware drift readout `ks_test` caps at 1: W₁ = ∫|F_a -
    F_b| dx integrates HOW FAR apart the CDFs are in value units, so a
    uniform +10 shift scores 10 where KS saturates. Output: ONE row
    (n_a, n_b, w1) with w1 rounded to 6 dp; w1 is NULL when either
    group is empty. NULL values excluded.

    Each CDF value is a ratio of exact integer prefix counts; the only
    float accumulation is the final Σ gap·|ΔF| segment sum.

    Scale shape: raw rows collapse to DISTINCT value cells with
    per-group counts (map-side combined, checkpointed); cumulative
    counts AND a dense segment index ride ONE multi-column
    `prefix_sum` pass (no single-task window); consecutive segments
    pair by an idx = idx+1 equi-join of the |distinct|-cell table with
    itself (never a global lead window); the readout is a 1-row
    reduce.
    """
    from hdp_tez_spark.operators.sort import prefix_sum

    cells = _two_group_value_cells(
        df, group_col, value_col, group_a, group_b
    ).withColumn("__one", F.lit(1))
    cum = prefix_sum(
        cells,
        [F.col("__v")],
        ["__ca", "__t", "__one"],
        ["__cum_a", "__cum_t", "__idx"],
    )
    cum = truncate_lineage(
        cum.select("__v", "__cum_a", "__cum_t", "__idx")
    )
    totals = cells.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    nxt = cum.select(
        (F.col("__idx") - 1).alias("__idx"), F.col("__v").alias("__nv")
    )
    segs = (
        cum.join(nxt, "__idx")
        .crossJoin(F.broadcast(totals))
        .select(
            "__na",
            "__nb",
            (
                (F.col("__nv") - F.col("__v"))
                * F.abs(
                    F.col("__cum_a") / F.col("__na")
                    - (F.col("__cum_t") - F.col("__cum_a"))
                    / F.col("__nb")
                )
            ).alias("__seg"),
        )
    )
    return (
        segs.groupBy("__na", "__nb")
        .agg(F.round(F.sum("__seg"), 6).alias("w1"))
        .select(
            F.col("__na").alias("n_a"),
            F.col("__nb").alias("n_b"),
            "w1",
        )
    )


def levene_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe / Levene test for equality of group VARIANCES —
    the assumption gate in front of `anova_oneway` (whose F is only
    calibrated under homoscedasticity), and a drift readout in its own
    right (a segment whose variance exploded fails here long before its
    mean moves). This is the robust Brown-Forsythe variant: the one-way
    ANOVA F statistic applied to z = |x - median_g| (absolute deviation
    from the GROUP MEDIAN; Levene's original mean-centered form is less
    robust to heavy tails and is not offered). Output: ONE row
    (n_groups, n, w_stat, eta_sq) rounded to 6 dp; w_stat is NULL under
    the same degeneracies as anova_oneway's f_stat (N = k or all
    deviations constant). NULL values and NULL group labels are
    excluded.

    Scale shape: one |groups|-row exact-median aggregate broadcast back
    onto the rows, then exactly anova_oneway's shape on z — the raw
    table is scanned twice (once for medians, once for deviations),
    nothing after the collapses exceeds |groups| rows.
    """
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("__g"), v.alias("__v")
    )
    med = base.groupBy("__g").agg(F.median("__v").alias("__m"))
    z = base.join(F.broadcast(med), "__g").select(
        "__g", F.abs(F.col("__v") - F.col("__m")).alias("__z")
    )
    out = anova_oneway(z, "__g", "__z")
    return out.select(
        "n_groups",
        "n",
        F.col("f_stat").alias("w_stat"),
        "eta_sq",
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
) -> DataFrame:
    """Friedman rank test across treatments with repeated-measures
    blocks — the within-subject twin of `kruskal_wallis` (which assumes
    independent groups): does the response differ across the k
    treatments when every block experiences all of them? The response
    here is the per-(block, treatment) EVENT COUNT — an integer, so
    within-block ranks are bit-stable across engines (ranking a float
    aggregate like avg(value) would let last-ulp summation noise flip
    ties between Spark and the oracle). Blocks missing any treatment
    are dropped (the classical complete-block design); ties take
    average (mid) ranks. With R_j the column rank sums over n complete
    blocks and r the individual ranks, the tie-corrected statistic is

        Q = (k-1) * (sum_j R_j^2 - n^2 k (k+1)^2 / 4)
                  / (sum r^2 - n k (k+1)^2 / 4)

    (reduces to the textbook 12/(nk(k+1)) form when ties are absent).
    Output: ONE row (n_blocks, k_treatments, q_stat) rounded to 6 dp;
    q_stat is NULL when the denominator is 0 (every block ranks all
    treatments identically — all ties). Compare to chi-square(k-1)
    driver-side (the ks_test / kruskal_wallis CDF convention).

    Scale shape: one map-side-combined collapse to (block, treatment)
    count cells; complete blocks found by a |blocks|-row count filter;
    mid-ranks ride a window PARTITIONED BY BLOCK (k rows per task, no
    global funnel); the readout reduces |treatments| column sums and a
    1-row rank-square total. Integer/dyadic-half arithmetic throughout.
    """
    b_in, t_in = F.col(block_col), F.col(treatment_col)
    cells = (
        df.where(b_in.isNotNull() & t_in.isNotNull())
        .groupBy(b_in.alias("__b"), t_in.alias("__t"))
        .agg(F.count(F.lit(1)).alias("__x"))
    )
    cells = truncate_lineage(cells)
    k_tab = cells.agg(F.count_distinct(F.col("__t")).alias("__k"))
    complete = (
        cells.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__nt"))
        .crossJoin(F.broadcast(k_tab))
        .where(F.col("__nt") == F.col("__k"))
        .select("__b")
    )
    kept = cells.join(complete, "__b")
    w = Window.partitionBy("__b").orderBy("__x")
    ties = Window.partitionBy("__b", "__x")
    # mid-rank = rank() + (|tie group| - 1)/2 — exact dyadic halves
    ranked = kept.select(
        "__b",
        "__t",
        (
            F.rank().over(w)
            + (F.count(F.lit(1)).over(ties) - 1) / F.lit(2.0)
        ).alias("__r"),
    )
    col_sums = ranked.groupBy("__t").agg(F.sum("__r").alias("__rj"))
    totals = ranked.agg(
        F.count_distinct(F.col("__b")).alias("__n"),
        F.sum(F.col("__r") * F.col("__r")).alias("__ssr"),
    )
    red = (
        col_sums.agg(F.sum(F.col("__rj") * F.col("__rj")).alias("__ssj"))
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(k_tab))
    )
    n, k = F.col("__n"), F.col("__k")
    corr = k * (k + 1) * (k + 1) / F.lit(4.0)
    num = F.col("__ssj") - n * n * corr
    den = F.col("__ssr") - n * corr
    return red.select(
        n.alias("n_blocks"),
        k.alias("k_treatments"),
        F.round(F.when(den > 0, (k - 1) * num / den), 6).alias("q_stat"),
    )


def cochran_q(
    df: DataFrame,
    subject_col: str,
    treatment_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran's Q test for k BINARY treatments on the same subjects —
    the k-arm extension of `mcnemar` (which covers k = 2): do the k
    classifiers / checks / variants differ in success rate on the same
    evaluation rows? Input is one row per (subject, treatment) with a
    0/1 success; subjects missing any treatment are dropped (complete
    blocks, the mcnemar pairing discipline). With C_j the per-treatment
    success totals, R_i the per-subject totals, and T = ΣR_i:

        Q = k (k-1) * sum_j (C_j - T/k)^2 / (k T - sum_i R_i^2)

    Output: ONE row (n_subjects, k_treatments, q_stat) rounded to 6 dp
    (n_subjects = 0 with NULL q_stat when no subject is complete);
    q_stat is NULL when the denominator is 0 (every subject succeeds on
    all treatments or none — no discordance anywhere). Compare to
    chi-square(k-1) driver-side.

    Scale shape: one collapse to (subject, treatment) max-success cells,
    a |subjects|-row completeness filter, then |subjects|- and
    |treatments|-row marginal aggregates — integer arithmetic until the
    final ratio.
    """
    s_in, t_in = F.col(subject_col), F.col(treatment_col)
    ok = F.col(success_col).cast("boolean").cast("long")
    cells = (
        df.where(s_in.isNotNull() & t_in.isNotNull() & ok.isNotNull())
        .groupBy(s_in.alias("__s"), t_in.alias("__t"))
        .agg(F.max(ok).alias("__x"))
    )
    cells = truncate_lineage(cells)
    k_tab = cells.agg(F.count_distinct(F.col("__t")).alias("__k"))
    complete = (
        cells.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__nt"))
        .crossJoin(F.broadcast(k_tab))
        .where(F.col("__nt") == F.col("__k"))
        .select("__s")
    )
    kept = cells.join(complete, "__s")
    rows = kept.groupBy("__s").agg(F.sum("__x").alias("__ri"))
    row_red = rows.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__ri").alias("__tt"),
        F.sum(F.col("__ri") * F.col("__ri")).alias("__sr2"),
    )
    col_red = kept.groupBy("__t").agg(F.sum("__x").alias("__cj"))
    # aggregate (not keyed-groupBy) readout so zero complete subjects
    # still yields the contractual ONE row (n_subjects = 0, NULL stat)
    # — matching the oracle's aggregate shape
    ssc_tab = (
        col_red.crossJoin(F.broadcast(row_red))
        .crossJoin(F.broadcast(k_tab))
        .agg(
            F.sum(
                (F.col("__cj") - F.col("__tt") / F.col("__k"))
                * (F.col("__cj") - F.col("__tt") / F.col("__k"))
            ).alias("__ssc")
        )
    )
    red = row_red.crossJoin(F.broadcast(k_tab)).crossJoin(
        F.broadcast(ssc_tab)
    )
    k, t = F.col("__k"), F.col("__tt")
    den = (k * t - F.col("__sr2")).cast("double")
    return red.select(
        F.col("__n").alias("n_subjects"),
        k.alias("k_treatments"),
        F.round(
            F.when(den > 0, k * (k - 1) * F.col("__ssc") / den), 6
        ).alias("q_stat"),
    )


def icc_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way intraclass correlation ICC(1,1) (Shrout & Fleiss 1979
    case 1): how much of the total variance is BETWEEN groups — the
    continuous-response twin of `fleiss_kappa` for annotation QA
    (multiple scores per item, raters interchangeable), and the
    clustering-strength readout that tells an experimenter whether
    randomizing by cluster will deflate their effective sample size.
    From the one-way ANOVA decomposition with unbalanced group sizes
    (Searle's n0 correction):

        MSB = SS_between/(k-1),  MSW = SS_within/(N-k),
        n0 = (N - sum n_g^2 / N)/(k - 1),
        ICC = (MSB - MSW) / (MSB + (n0 - 1) MSW)

    Output: ONE row (n_groups, n, n0, msb, msw, icc) rounded to 6 dp;
    icc is NULL when N = k (no within df), k = 1, or the denominator is
    0. Groups with a single observation still contribute to MSB (the
    one-way decomposition is defined for them). NULL values and NULL
    group labels are excluded.

    Scale shape: identical to anova_oneway — ONE map-side-combined
    collapse to per-group (n, Σx, Σx²), then a 1-row reduce.
    """
    v = F.col(value_col).cast("double")
    per_g = (
        df.where(v.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(v).alias("__s"),
            F.sum(v * v).alias("__ss"),
        )
    )
    red = per_g.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").alias("__nn"),
        F.sum("__s").alias("__ts"),
        F.sum(F.col("__n") * F.col("__n")).alias("__sn2"),
        F.sum(F.col("__s") * F.col("__s") / F.col("__n")).alias("__bg"),
        F.sum(
            F.col("__ss") - F.col("__s") * F.col("__s") / F.col("__n")
        ).alias("__wg"),
    )
    k, n = F.col("__k"), F.col("__nn")
    ssb = F.col("__bg") - F.col("__ts") * F.col("__ts") / n
    msb = ssb / (k - 1)
    msw = F.col("__wg") / (n - k)
    n0 = (n - F.col("__sn2") / n) / (k - 1)
    den = msb + (n0 - 1) * msw
    return red.select(
        k.alias("n_groups"),
        n.alias("n"),
        F.round(F.when(k > 1, n0), 6).alias("n0"),
        F.round(F.when(k > 1, msb), 6).alias("msb"),
        F.round(F.when(n > k, msw), 6).alias("msw"),
        F.round(
            F.when((k > 1) & (n > k) & (den != 0), (msb - msw) / den), 6
        ).alias("icc"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col,
    bins: int = 20,
) -> DataFrame:
    """Isotonic (PAV) probability calibration over the binned
    reliability table — the non-parametric upgrade to reading
    `calibration_bins` raw: fit the monotone step function closest (in
    weighted least squares) to the per-bin positive rates, which is
    exactly the pool-adjacent-violators solution, via the closed-form
    minimax identity fitted(b) = max_{i<=b} min_{j>=b} posrate(i..j)
    (Robertson, Wright & Dykstra 1988). The fitted column is what a
    serving system looks up to turn a raw score into a calibrated
    probability. Binning follows calibration_bins exactly (NULL scores
    dropped, clamp to [0,1], floor(score*bins), top edge into the last
    bin). Output per NON-EMPTY bin: (bin, lo, hi, n, n_pos, pos_rate,
    fitted) rounded to 6 dp, ordered by bin; fitted is monotone
    non-decreasing by construction.

    Scale shape: ONE corpus-sized map-side-combined collapse to <=`bins`
    cells; everything after is triangular equi-free joins over that
    <=bins-row table (B^2 interval-average pairs, a <=B^3-row minimax
    expansion — at the default B=20 that is 8000 rows, a driver-trivial
    constant regardless of corpus size). Every interval average is a
    ratio of exact integer prefix counts, so min/max comparisons are
    bit-stable across engines; no global window, no collect.
    """
    if bins <= 0:
        raise ValueError(f"bins must be positive, got {bins}")
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    pos = lab.cast("boolean").cast("long")
    s = F.least(
        F.greatest(F.col(score_col).cast("double"), F.lit(0.0)), F.lit(1.0)
    )
    b = F.least(F.floor(s * bins).cast("int"), F.lit(bins - 1))
    cells = (
        df.where(F.col(score_col).isNotNull())
        .select(b.alias("__b"), pos.alias("__p"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__p").alias("__y"))
    )
    cells = truncate_lineage(cells)
    # inclusive prefix sums via a triangular self-join (<= B^2 rows —
    # no global window, no allowlist)
    lo_side = cells.select(
        F.col("__b").alias("__lb"),
        F.col("__n").alias("__ln"),
        F.col("__y").alias("__ly"),
    )
    cum = (
        cells.join(lo_side, F.col("__lb") <= F.col("__b"))
        .groupBy("__b", "__n", "__y")
        .agg(F.sum("__ln").alias("__cn"), F.sum("__ly").alias("__cy"))
    )
    li = cum.select(
        F.col("__b").alias("__i"),
        (F.col("__cn") - F.col("__n")).alias("__pn"),
        (F.col("__cy") - F.col("__y")).alias("__py"),
    )
    rj = cum.select(
        F.col("__b").alias("__j"),
        F.col("__cn").alias("__jn"),
        F.col("__cy").alias("__jy"),
    )
    pairs = li.join(rj, F.col("__i") <= F.col("__j")).select(
        "__i",
        "__j",
        (
            (F.col("__jy") - F.col("__py")).cast("double")
            / (F.col("__jn") - F.col("__pn"))
        ).alias("__avg"),
    )
    bins_only = cells.select(F.col("__b").alias("__mid"))
    expanded = pairs.join(
        bins_only,
        (F.col("__i") <= F.col("__mid")) & (F.col("__mid") <= F.col("__j")),
    )
    inner_min = expanded.groupBy("__mid", "__i").agg(
        F.min("__avg").alias("__m")
    )
    fitted = inner_min.groupBy("__mid").agg(F.max("__m").alias("__fit"))
    return (
        cells.join(fitted, cells["__b"] == fitted["__mid"])
        .select(
            F.col("__b").alias("bin"),
            F.round(F.col("__b") / bins, 6).alias("lo"),
            F.round((F.col("__b") + 1) / bins, 6).alias("hi"),
            F.col("__n").alias("n"),
            F.col("__y").alias("n_pos"),
            F.round(F.col("__y") / F.col("__n").cast("double"), 6).alias(
                "pos_rate"
            ),
            F.round(F.col("__fit"), 6).alias("fitted"),
        )
        .orderBy("bin")
    )


def dispersion_test(
    df: DataFrame,
    unit_col: str,
) -> DataFrame:
    """Index-of-dispersion (variance-to-mean) test on per-unit event
    counts — the burstiness screen that tells a pipeline whether a
    Poisson model of per-entity activity holds (D ≈ 1), or entities are
    bursty/overdispersed (D >> 1, negative-binomial territory) — the
    distributional prerequisite check for `poisson_rate_test`. With
    c_u the per-unit counts over n units, sample variance s², mean m:
    D = s²/m and chi2 = (n-1)·D is compared to chi-square(n-1)
    driver-side. Output: ONE row (n_units, total, mean_count,
    var_count, dispersion) rounded to 6 dp; dispersion is NULL when
    m = 0 or n < 2. Units are rows present in `df` — zero-count
    entities are invisible to a log-derived table and are the caller's
    modeling decision to include (join a spine upstream if so).

    Scale shape: ONE map-side-combined collapse to per-unit counts
    (|units| rows), then a 1-row integer sufficient-stat reduce
    (Σc, Σc² exact in long).
    """
    counts = (
        df.where(F.col(unit_col).isNotNull())
        .groupBy(F.col(unit_col).alias("__u"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    red = counts.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__c").alias("__s"),
        F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
    )
    n, sm, ss = F.col("__n"), F.col("__s"), F.col("__ss")
    mean = sm / n.cast("double")
    var = (ss - sm.cast("double") * sm / n) / (n - 1)
    return red.select(
        n.alias("n_units"),
        sm.alias("total"),
        F.round(mean, 6).alias("mean_count"),
        F.round(F.when(n > 1, var), 6).alias("var_count"),
        F.round(F.when((n > 1) & (sm > 0), var / mean), 6).alias(
            "dispersion"
        ),
    )


def poisson_rate_test(
    df: DataFrame,
    arm_col: str,
    unit_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Poisson rate test with per-unit exposure — the event-
    RATE comparison that `ab_ttest` (means) and `proportion_ci`
    (binary shares) don't cover: did arm A generate events at a higher
    per-entity rate than arm B? Exposure t = DISTINCT units per arm;
    x = event count per arm; rates r = x/t; the score z uses the
    pooled rate under H0:

        z = (r_a - r_b) / sqrt(pooled * (1/t_a + 1/t_b)),
        pooled = (x_a + x_b) / (t_a + t_b)

    Output: ONE row (x_a, t_a, x_b, t_b, rate_a, rate_b, z_stat)
    rounded to 6 dp; z_stat is NULL when either exposure is 0 or the
    pooled rate is 0. Check `dispersion_test` first — overdispersion
    inflates this z.

    Scale shape: ONE conditional-count pass (counts + distinct units
    per arm via two map-side-combined aggregates); integer arithmetic
    until the final ratios.
    """
    arm = F.col(arm_col)
    red = (
        df.where(arm.isin([group_a, group_b]) & F.col(unit_col).isNotNull())
        .agg(
            F.sum((arm == F.lit(group_a)).cast("long")).alias("__xa"),
            F.sum((arm == F.lit(group_b)).cast("long")).alias("__xb"),
            F.count_distinct(
                F.when(arm == F.lit(group_a), F.col(unit_col))
            ).alias("__ta"),
            F.count_distinct(
                F.when(arm == F.lit(group_b), F.col(unit_col))
            ).alias("__tb"),
        )
    )
    xa, xb = F.col("__xa"), F.col("__xb")
    ta, tb = F.col("__ta"), F.col("__tb")
    ra = xa / ta.cast("double")
    rb = xb / tb.cast("double")
    pooled = (xa + xb) / (ta + tb).cast("double")
    z = (ra - rb) / F.sqrt(pooled * (1.0 / ta + 1.0 / tb))
    return red.select(
        xa.alias("x_a"),
        ta.alias("t_a"),
        xb.alias("x_b"),
        tb.alias("t_b"),
        F.round(F.when(ta > 0, ra), 6).alias("rate_a"),
        F.round(F.when(tb > 0, rb), 6).alias("rate_b"),
        F.round(
            F.when((ta > 0) & (tb > 0) & (xa + xb > 0), z), 6
        ).alias("z_stat"),
    )


def odds_ratio(
    df: DataFrame,
    exposure_col,
    outcome_col,
) -> DataFrame:
    """2x2 odds ratio and risk ratio with Woolf/Katz log-normal 95%
    intervals — the effect-size readout `chi_square`/`cramers_v` don't
    give (association strength says nothing about direction or
    magnitude of risk). Cells: a = exposed+outcome, b = exposed only,
    c = unexposed+outcome, d = neither;

        OR = ad/bc,  se_log = sqrt(1/a + 1/b + 1/c + 1/d)
        RR = (a/(a+b)) / (c/(c+d)),
        se_log_rr = sqrt(1/a - 1/(a+b) + 1/c - 1/(c+d))

    CI bounds = point * exp(±1.96 * se). Output: ONE row (a, b, c, d,
    odds_ratio, or_lo, or_hi, risk_ratio, rr_lo, rr_hi) rounded to
    6 dp; any zero cell makes OR and its CI NULL (no continuity
    fudge — callers wanting Haldane correction add 0.5 upstream
    explicitly); RR is NULL when a zero denominator or zero unexposed
    risk makes it undefined. Rows with a NULL flag on either side are
    excluded. Both flag arguments accept a column name or a boolean
    Column.

    Scale shape: ONE conditional-count pass to the four cells; integer
    counts until the final ratios.
    """
    e = (
        F.col(exposure_col) if isinstance(exposure_col, str) else exposure_col
    ).cast("boolean")
    o = (
        F.col(outcome_col) if isinstance(outcome_col, str) else outcome_col
    ).cast("boolean")
    red = df.where(e.isNotNull() & o.isNotNull()).agg(
        F.sum((e & o).cast("long")).alias("a"),
        F.sum((e & ~o).cast("long")).alias("b"),
        F.sum((~e & o).cast("long")).alias("c"),
        F.sum((~e & ~o).cast("long")).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    all_pos = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    orr = (a.cast("double") * d) / (b.cast("double") * c)
    se_or = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    risk_ok = (a + b > 0) & (c + d > 0) & (c > 0) & (a > 0)
    rr = (a / (a + b).cast("double")) / (c / (c + d).cast("double"))
    se_rr = F.sqrt(1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d))
    return red.select(
        "a",
        "b",
        "c",
        "d",
        F.round(F.when(all_pos, orr), 6).alias("odds_ratio"),
        F.round(F.when(all_pos, orr * F.exp(-1.96 * se_or)), 6).alias(
            "or_lo"
        ),
        F.round(F.when(all_pos, orr * F.exp(1.96 * se_or)), 6).alias(
            "or_hi"
        ),
        F.round(F.when(risk_ok, rr), 6).alias("risk_ratio"),
        F.round(F.when(risk_ok, rr * F.exp(-1.96 * se_rr)), 6).alias(
            "rr_lo"
        ),
        F.round(F.when(risk_ok, rr * F.exp(1.96 * se_rr)), 6).alias(
            "rr_hi"
        ),
    )
