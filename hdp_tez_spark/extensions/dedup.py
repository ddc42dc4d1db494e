"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference extension (BASELINE.json): the reference engine has no
dedup surface at all; these are the operators a 100 TB corpus pipeline
needs, each built from shuffle/join primitives the engine already has
(SURVEY §2.3-2.7) so they inherit AQE sizing and skew handling.

Cross-engine determinism: every hash is derived from md5 of the input
string — identical in Spark and any ANSI-SQL oracle — never from
engine-private hash functions (Spark's xxhash64 and DuckDB's hash()
disagree by construction).

Scale design notes (100 TB):
- exact: one shuffle keyed by content hash; the md5 key keeps shuffle
  rows small (16 bytes + id) instead of moving document bodies.
- minhash-LSH: shingle explosion is map-side; signatures reduce by
  (doc, perm) — rows out == docs × perms, independent of doc length;
  banding turns all-pairs into an equi-join on band keys (only
  colliding docs meet); final jaccard verification touches only
  candidate pairs. No stage is quadratic in corpus size.
- simhash: one 64-bit fingerprint per doc; banding (4 × 15-bit bands)
  guarantees recall for hamming distance <= 3 by pigeonhole, again an
  equi-join instead of all-pairs.

Eager-at-construction contract (r10 optimization, ADVICE r10): the
pair-generating operators (minhash_lsh_pairs, minhash_recall,
prefix_filter_join, simhash_near_pairs, containment_pairs,
ngram_jaccard_pairs, edit_distance_pairs and their consumers) cut
shared intermediate tables with EAGER `truncate_lineage` so the
tokenize/signature pass runs once instead of once per downstream
subtree. Consequences for callers: CONSTRUCTING one of these
DataFrames runs Spark jobs and pins executor blocks even if the
result is never acted on, and the default `localCheckpoint` cut is
not fault-tolerant — set the context's checkpoint dir
(`spark.checkpoint.dir` / `sc.setCheckpointDir`) on a real cluster to
upgrade every cut to a reliable checkpoint (see plans/checkpoints.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdp_tez_spark.functions.text import ngram_text, tokenize, word_ngrams
from hdp_tez_spark.parallel import spread as _spread
from hdp_tez_spark.plans.checkpoints import LoopCheckpointer, truncate_lineage

# Shared modulus for minhash permutations: large prime, small enough that
# a*x never overflows int64 (a, x < P -> a*x < 1e18 < 2^63).
MINHASH_P = 1_000_000_007
DEFAULT_NUM_PERMS = 16
DEFAULT_BAND_ROWS = 2  # 16 perms / 2 rows = 8 bands
SIMHASH_BITS = 60  # 15 hex digits of md5 -> fits signed int64
SIMHASH_BANDS = 4  # 15 bits per band; recall guaranteed for hamming <= 3


def _md5_long(col: Column) -> Column:
    """Deterministic 60-bit integer hash of a string, reproducible in any
    SQL engine as ('0x' || substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _md5_long_py(s: str) -> int:
    """Python twin of _md5_long for driver-side constants."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles as strings; a document shorter than
    k tokens is one shingle of its whole token string.

    The token array is BOUND once per row through a one-element
    `transform` lambda, so `word_ngrams` and the per-gram lambda see a
    variable, not the tokenizer (see `tokenize`).
    """

    def _grams(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= k,
            F.transform(word_ngrams(toks, k), lambda g: ngram_text(g, k)),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return F.array_distinct(
        F.element_at(F.transform(F.array(tokenize(col)), _grams), 1)
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id document per exact content hash.

    Output: (keep_id, dup_count) per distinct content. Shuffles md5 keys,
    not document bodies.
    """
    # no _spread here: one md5 per row is cheaper than repartitioning the
    # text bodies — unlike the shingle ops, the map stage is not the cost
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The deduplicated table itself: first row (by id) per content hash."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact similarity on shingle sets)
# ---------------------------------------------------------------------------


def _hash_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
) -> DataFrame:
    """(doc, __hs: array<long>) — per-doc DISTINCT shingle md5-hashes,
    tokenized once and cut (eager-at-construction, like every
    localCheckpoint cut in this module). This is the shared corpus
    representation of the whole shingle-pair family: exact-Jaccard
    counting, prefix filters, MinHash signatures (derive their
    mod-P domain map-side) and intersect verification all read it, so
    composed operators (minhash_recall) pass one cut through instead of
    re-tokenizing per sub-operator (r11)."""
    return truncate_lineage(
        _spread(df.select(id_col, text_col)).select(
            F.col(id_col).alias("doc"),
            F.transform(_shingles(F.col(text_col), k), _md5_long).alias("__hs"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    _base: DataFrame | None = None,
) -> DataFrame:
    """All pairs with word-k-gram Jaccard >= threshold.

    Candidate generation is the shingle equi-join (pairs must share at
    least one shingle) — never an all-pairs cross join. Output:
    (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6.

    `_base` (private): a precomputed `_hash_arrays` cut to share with
    sibling operators over the same corpus — skips this call's own
    tokenize+cut.
    """
    # The self-join shuffles an 8-byte shingle hash, not the shingle
    # string — at 100 TB the shuffle carries (doc, long) pairs instead of
    # multi-word text keys. Hash collisions would overcount n_inter for
    # ~1e-18 of pairs (60-bit space); identical tradeoff to minhash.
    #
    # Tokenize + md5 ONCE into a per-doc hash-array table and cut it
    # (r10): the self-join's two sides and both size projections are
    # separate subtrees in the final plan, so without the cut the
    # corpus tokenize/md5 map work ran 4x per call (8x inside
    # minhash_recall, whose plan held 16 corpus scans and zero reused
    # exchanges). The checkpoint stores (doc, array<long>) — the same
    # volume the join shuffle already carries.
    base = _base if _base is not None else _hash_arrays(df, id_col, text_col, k)
    sh = base.select("doc", F.explode("__hs").alias("sh_h"))
    # |distinct shingles| is the array length — transform preserves
    # length, so size(__hs) == size(shingles): a map-side projection off
    # the checkpointed arrays
    sizes = base.select("doc", F.size("__hs").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh_h") == F.col("b.sh_h")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    k: int = 1,
) -> DataFrame:
    """Exact set-Jaccard join with PPJoin-style prefix filtering over
    word-k-gram shingle sets (k=1 -> plain token sets).

    Same output contract (and, at the same k/threshold, the same result
    set) as `ngram_jaccard_pairs` — (id_a, id_b, jaccard) with
    id_a < id_b, jaccard >= threshold, exact (zero false negatives: the
    prefix-filter theorem guarantees any pair at Jaccard >= t shares at
    least one element among each side's first `|d| - ceil(t*|d|) + 1`
    elements under a fixed global order) — but with a candidate stage
    that scales much further:

    - tokens are globally ordered rarest-first (by corpus document
      frequency, ties by hash), so the equi-join key space is dominated
      by rare tokens: the classic all-shared-tokens self-join blows up
      on stopwords ("the" pairs every document with every other); the
      prefix join never touches a token outside the prefixes;
    - a length filter (ceil(t*|a|) <= |b|) prunes candidates whose size
      ratio already caps Jaccard below t, before verification;
    - verification joins candidate pairs to per-doc sorted hash ARRAYS
      and counts array_intersect sizes — intersection counts are
      computed ONLY for candidates, with no row fan-out.

    Shuffles carry 8-byte token hashes, never text (same tradeoff note
    as ngram_jaccard_pairs).
    """
    toks = (
        _spread(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("doc"),
            F.explode(F.transform(_shingles(F.col(text_col), k), _md5_long)).alias("tok"),
        )
    )
    # two consumers (frequency table, rank pass) — without this the
    # corpus is re-tokenized once per use.
    # Materializing the (doc, token-hash) table once is the standard
    # PPJoin layout; a SparkContext checkpoint dir upgrades the cut to
    # a reliable checkpoint on a real cluster (plans/checkpoints.py).
    toks = truncate_lineage(toks)
    # global document frequency -> canonical rarest-first order (df, tok)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("doc").orderBy("__df", "tok")
    ranked = (
        toks.join(freq, "tok")
        .select(
            "doc",
            "tok",
            F.row_number().over(w).alias("__pos"),
            F.count(F.lit(1)).over(Window.partitionBy("doc")).alias("__sz"),
        )
    )
    # Cut RANKED (not the filtered prefix table): it feeds the candidate
    # self-join twice AND the per-doc verification arrays below, so the
    # join+window pass runs once. The cut preserves the window's
    # hashpartitioning(doc), so the collect_list groupBy below needs no
    # exchange of its own.
    ranked = truncate_lineage(ranked)
    # prefix length p = n - ceil(t*n) + 1
    prefixes = ranked.where(
        F.col("__pos")
        <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
    )
    pa, pb = prefixes.alias("pa"), prefixes.alias("pb")
    cand = (
        # merge hint: prefixes is also post-explode, so the candidate
        # self-join must not trust a static broadcast estimate either
        # (same trap as the verification joins below)
        pa.hint("merge").join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok")) & (F.col("pa.doc") < F.col("pb.doc")),
        )
        # length filter: |b| >= ceil(t*|a|) (a is the smaller-id side, not
        # necessarily the smaller set — apply both directions)
        .where(
            (F.col("pb.__sz") >= F.ceil(F.lit(threshold) * F.col("pa.__sz")))
            & (F.col("pa.__sz") >= F.ceil(F.lit(threshold) * F.col("pb.__sz")))
        )
        .select(
            F.col("pa.doc").alias("id_a"),
            F.col("pb.doc").alias("id_b"),
            F.col("pa.__sz").alias("size_a"),
            F.col("pb.__sz").alias("size_b"),
        )
        .distinct()
    )
    # Verification via per-doc hash ARRAYS (the classic PPJoin verify),
    # not a join back to the exploded (doc, token) rows. The row-join
    # variant fanned every candidate pair out by |a|'s tokens and
    # sort-merge-joined the fan-out on (id_b, tok) — measured r10 at
    # sf0.1: 2.1 GB sort spill inside a 7.7s median, and the fan-out is
    # O(Σ_cand |a|) 40-byte ROWS where the array carries the same
    # information in 8-byte elements. collect_list over the ranked cut
    # reuses its doc partitioning (no exchange); per-row memory is one
    # doc's shingle set — bounded by document length, unlike the
    # graph-hub adjacency arrays dedup deliberately avoids.
    # array_intersect is set-semantics, identical to the row-join count
    # because shingles are array_distinct per doc. Collisionless-md5
    # caveat unchanged from the row-join shape (intra-doc 64-bit hash
    # collisions would undercount where the join overcounted; neither
    # occurs).
    doc_sets = ranked.groupBy("doc").agg(
        F.collect_list("tok").alias("__arr")
    )
    # shuffle_hash pins on the verification joins, BUILD = the per-doc
    # array table (triangle_count fix #2 precedent). Why not the other
    # strategies, all measured r10:
    #  * broadcast: everything here is downstream of explode + distinct
    #    where the static size estimate is garbage — at 10x data it
    #    picked a broadcast build of a data-sized side and OOMed the
    #    driver (sf1.0 probe, r07). The explicit build-side hint never
    #    consults that estimate.
    #  * sort-merge: the second join's streamed side is the candidate
    #    pair table CARRYING the first join's arrays (310k pairs x
    #    ~300-hash arrays at sf0.1 = ~750 MB through the sort) — 21s
    #    median vs 7.7s for the row-join shape it replaced.
    #  * hash build of doc_sets is per-task bounded: one row per doc,
    #    partitioned by doc id, so build memory = |corpus hashes| /
    #    shuffle partitions — scales with the partition conf exactly
    #    like the pre-explode edge-list builds, unlike the post-explode
    #    builds that force merge pins elsewhere in this module.
    inter = (
        cand.join(
            doc_sets.select(
                F.col("doc").alias("id_a"), F.col("__arr").alias("__aa")
            ).hint("shuffle_hash"),
            "id_a",
        )
        .join(
            doc_sets.select(
                F.col("doc").alias("id_b"), F.col("__arr").alias("__ab")
            ).hint("shuffle_hash"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("__aa", "__ab")).alias("__inter"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("__inter")
                / (F.col("size_a") + F.col("size_b") - F.col("__inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    max_dist: int = 4,
) -> DataFrame:
    """Fuzzy string matching: pairs of DISTINCT values of `text_col`
    within Levenshtein distance `max_dist`. Output:
    (text_a, text_b, dist) with text_a < text_b.

    Candidate generation, in order of what it buys at 100 TB:
    1. collapse to distinct strings first — the quadratic stage then
       scales with the vocabulary, not the corpus (exact duplicates are
       the bulk of any real column);
    2. token blocking: candidates must share >= 1 whole token (an
       equi-join on tokens, never an all-pairs cross join) — a
       recall-oriented filter like the MinHash/SimHash band joins above
       (a pair edited inside EVERY token can escape the block);
    3. the length bound |len(a) - len(b)| <= max_dist, which is exact
       (each edit changes length by <= 1), prunes before the O(len^2)
       levenshtein verify runs on the survivors.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    vals = df.select(F.col(text_col).cast("string").alias("s")).where(
        F.col("s").isNotNull()
    ).distinct()
    # cut: both self-join sides would re-run the explode + distinct (r10)
    toks = truncate_lineage(
        vals.select("s", F.explode(tokenize(F.col("s"))).alias("tok")).distinct()
    )
    a, b = toks.alias("a"), toks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.s") < F.col("b.s")),
        )
        .select(F.col("a.s").alias("text_a"), F.col("b.s").alias("text_b"))
        .distinct()
        .where(
            F.abs(F.length("text_a") - F.length("text_b")) <= max_dist
        )
    )
    return (
        cand.withColumn("dist", F.levenshtein("text_a", "text_b"))
        .where(F.col("dist") <= max_dist)
        .select("text_a", "text_b", "dist")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _perm_coeffs(num_perms: int) -> list[tuple[int, int]]:
    """Permutation i is h_i(x) = (a_i*x + b_i) mod P with a_i, b_i derived
    from md5 of the permutation index — fully reproducible in SQL."""
    return [
        (
            _md5_long_py(f"perm-a-{i}") % (MINHASH_P - 1) + 1,
            _md5_long_py(f"perm-b-{i}") % MINHASH_P,
        )
        for i in range(num_perms)
    ]


def _shingle_hashes(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc, xs: array<long>) — per-doc shingle hashes, all map-side."""
    return _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc"),
        F.transform(
            _shingles(F.col(text_col), k), lambda s: _md5_long(s) % MINHASH_P
        ).alias("xs"),
    )


def _minhash_cols(num_perms: int) -> list[Column]:
    """min over the shingle-hash array under each permutation — a pure
    projection (no shuffle): the whole signature is computed where the
    document already lives, and only (doc, 16 longs) ever moves."""
    def perm_fn(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P

    return [
        F.array_min(F.transform(F.col("xs"), perm_fn(a, b)))
        for a, b in _perm_coeffs(num_perms)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int = DEFAULT_NUM_PERMS,
    k: int = 3,
) -> DataFrame:
    """(doc, perm, minhash) — one row per doc per permutation.

    Computed entirely map-side from the per-doc shingle array (see
    `_minhash_cols`); the exploded shape exists only for the consumer.
    """
    mh = _minhash_cols(num_perms)
    entries = [
        F.struct(F.lit(i).alias("perm"), mh[i].alias("minhash"))
        for i in range(num_perms)
    ]
    return (
        _shingle_hashes(df, id_col, text_col, k)
        .select("doc", F.explode(F.array(*entries)).alias("s"))
        .select("doc", F.col("s.perm").alias("perm"), F.col("s.minhash").alias("minhash"))
    )


def _band_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int,
    band_rows: int,
    k: int,
) -> DataFrame:
    """(doc, band, band_h): one row per document per LSH band, where
    band_h is an 8-byte hash of the band's minhash signature. Entirely
    map-side — the consumer's band equi-join is the first shuffle."""
    return _band_frame_from(
        _shingle_hashes(df, id_col, text_col, k), num_perms, band_rows
    )


def _band_frame_from(
    xs_frame: DataFrame, num_perms: int, band_rows: int
) -> DataFrame:
    """Band frame derived from a (doc, xs: array<long>) frame whose xs
    already lives in the mod-MINHASH_P hash domain. Callers holding the
    raw `_hash_arrays` cut derive xs map-side (x % P) — identical values
    to `_shingle_hashes`, with no second tokenize pass (r11)."""
    mh = _minhash_cols(num_perms)
    band_entries = []
    for band in range(num_perms // band_rows):
        parts = [
            F.concat_ws(":", F.lit(p), mh[p])
            for p in range(band * band_rows, (band + 1) * band_rows)
        ]
        band_entries.append(
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws("-", F.array_sort(F.array(*parts))).alias("band_sig"),
            )
        )
    return (
        xs_frame
        .select("doc", F.explode(F.array(*band_entries)).alias("bs"))
        # join on an 8-byte hash of the band signature, not the signature
        # string: the band self-join is the pipeline's only big shuffle and
        # this keeps its rows fixed-width. A hash collision only *adds* a
        # candidate pair, which exact-Jaccard verification then filters.
        .select(
            "doc",
            F.col("bs.band").alias("band"),
            _md5_long(F.col("bs.band_sig")).alias("band_h"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int = DEFAULT_NUM_PERMS,
    band_rows: int = DEFAULT_BAND_ROWS,
    k: int = 3,
    threshold: float = 0.5,
    _base: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard on the candidate set.

    Banding: perms are grouped into num_perms/band_rows bands; a pair is a
    candidate iff it agrees on every row of at least one band — an
    equi-join on (band, band-signature), never all-pairs. Candidates are
    then verified with the exact shingle Jaccard, so the output is
    deterministic (no probabilistic false positives survive).

    `_base` (private): a precomputed `_hash_arrays` cut shared with
    sibling operators (see minhash_recall).
    """
    # ONE tokenize pass (r11): the corpus is cut once as per-doc shingle
    # HASH arrays; the band frame derives its mod-P domain map-side from
    # that cut ((md5 % P) == the _shingle_hashes values bit-for-bit), and
    # exact-Jaccard verification intersects the same 8-byte hash arrays
    # instead of re-tokenized shingle STRING arrays — r10's shape cut the
    # band frame and the string sets separately, so tokenize+shingle ran
    # twice per call and verification shuffled multi-word text arrays.
    # n_inter over hashes equals n_inter over strings absent intra-pair
    # md5 collisions — the module-wide 60-bit caveat (ngram_jaccard_pairs
    # counts the SAME hashes), and sizes are length-preserved.
    base = _base if _base is not None else _hash_arrays(df, id_col, text_col, k)
    # cut the band frame too: the self-join's two sides are separate plan
    # subtrees, so without this the signature fold (num_perms permutation
    # min-folds over every doc) ran twice (r10)
    bands = truncate_lineage(
        _band_frame_from(
            base.select(
                "doc",
                F.transform(
                    "__hs", lambda x: x % F.lit(MINHASH_P)
                ).alias("xs"),
            ),
            num_perms,
            band_rows,
        )
    )
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_h") == F.col("b.band_h"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    # Exact-Jaccard verification restricted to the candidate set: join the
    # per-doc hash arrays onto each pair and intersect in-place. Cost is
    # O(|candidates| * shingles-per-doc) — never the all-pairs shingle join
    # (candidates are the whole point of LSH). Joins are left declarative:
    # AQE converts them to broadcast-hash at runtime when the candidate set
    # is small (the usual case), and falls back to shuffle joins when a
    # pathological corpus makes it large — forcing broadcast by hand would
    # serialize the two corpus-side scans behind each other.
    sa = base.select(F.col("doc").alias("id_a"), F.col("__hs").alias("sh_a"))
    sb = base.select(F.col("doc").alias("id_b"), F.col("__hs").alias("sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_near_dupes(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int = DEFAULT_NUM_PERMS,
    band_rows: int = DEFAULT_BAND_ROWS,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs a NEW batch introduces against an existing corpus,
    plus pairs within the batch itself — without ever re-pairing the
    corpus against itself. This is the production dedup shape: a daily
    crawl lands and the question is which incoming documents duplicate
    anything already indexed, not a full re-cluster of 100 TB.

    Output: (id_a, id_b, jaccard, pair_type); pair_type is 'new_old'
    (id_a is the new doc, id_b the corpus doc) or 'new_new' (both new,
    id_a < id_b). Ids must be disjoint across the two frames.

    Scale: the corpus band frame is a pure map-side projection — in
    production, compute it once and store it as the band *index*; each
    batch then joins |batch| band rows against it on 8-byte keys. The
    batch self-join is |batch|-sized. No stage touches |corpus|^2, and
    exact-Jaccard verification reads text only for candidate ids.
    """
    # cut the BATCH band frame: it feeds the cross join and both sides
    # of the within-batch self-join (3 plan subtrees = 3 signature
    # computations without the cut, r10). The corpus frame is read once,
    # so it stays lazy.
    bn = truncate_lineage(
        _band_frame(new_docs, id_col, text_col, num_perms, band_rows, k)
    )
    bo = _band_frame(corpus, id_col, text_col, num_perms, band_rows, k)
    n, o = bn.alias("n"), bo.alias("o")
    cross = (
        n.join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.band_h") == F.col("o.band_h")),
        )
        .select(F.col("n.doc").alias("id_a"), F.col("o.doc").alias("id_b"))
        .distinct()
        .withColumn("pair_type", F.lit("new_old"))
    )
    a, b = bn.alias("a"), bn.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_h") == F.col("b.band_h"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
        .withColumn("pair_type", F.lit("new_new"))
    )
    candidates = cross.unionByName(within)
    # sh_new feeds sa AND the sh_all union branch — cut once (r10)
    sh_new = truncate_lineage(
        _spread(new_docs.select(id_col, text_col)).select(
            F.col(id_col).alias("doc"), _shingles(F.col(text_col), k).alias("sh")
        )
    )
    sh_all = sh_new.unionByName(
        _spread(corpus.select(id_col, text_col)).select(
            F.col(id_col).alias("doc"), _shingles(F.col(text_col), k).alias("sh")
        )
    )
    sa = sh_new.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh_all.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard", "pair_type")
    )


# ---------------------------------------------------------------------------
# Connected components / dedup clusters
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    on_round=None,
) -> DataFrame:
    """(node, label) for every node in `edges`, where label is the minimum
    node id in the node's connected component.

    Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
    Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce
    and Beyond", SoCC'14 — the standard distributed CC). Each round:

    - large-star: every node hooks its strictly LARGER neighbors to the
      minimum of its neighborhood (incl. itself);
    - small-star: every node hooks its smaller neighbors and itself to
      the minimum of its smaller neighborhood.

    Both steps preserve connectivity and strictly shrink tree heights;
    the edge set converges to a star forest rooted at each component's
    minimum id in O(log^2 n) rounds worst-case, ~log n observed. The
    fixpoint test is exact and cheap: the edge set is a star forest iff
    no parent also appears as a child AND no child carries two parents
    (one edge-table join + single-row aggregate per round — edge-table
    sized, tiny next to the corpus scan that built the pairs). Both
    clauses are required: a depth-1 edge set where some child keeps two
    distinct parents (e.g. {(3,0),(3,2)}) passes the parent-is-a-child
    test alone, yet its components are not merged — stopping there
    split a 6-node chain into two components AND emitted duplicate
    label rows for the two-parent child (found by
    tests/test_properties.py::test_connected_components_matches_union_find,
    fixed r10).

    Why not min-label propagation: it converges in O(component diameter)
    rounds. r08 patched it with a "pointer jump" through the label map,
    which helped the shallow sf1.0 similarity graph (22 rounds) — but
    the r09 chain calibration showed the jump is NOT O(log d): labels
    point at random positions in a shuffled chain, so compression does
    not double distances (a 100-node chain needed 40 rounds; a 256-node
    chain failed to converge in 60). The star algorithm converges on
    those same shuffled chains in <= 6 rounds (see
    tests/test_deep_graph_convergence.py, which pins the O(log) bound
    as a hypothesis property over random chain + random-graph
    topologies).

    Scale shape: every round shuffles only edge-table-sized data (each
    star op emits at most one edge per input edge plus one per node),
    and the per-round lineage cut goes through LoopCheckpointer
    (plans/checkpoints.py). `localCheckpoint` by default; a
    SparkContext checkpoint dir gives reliable checkpoints that survive
    executor loss.

    `on_round(i, pending)` (optional) is called after each round with
    the number of non-star edges remaining — production loop
    monitoring, and the hook the convergence property tests use to
    assert iteration counts.

    This is the missing half of every near-dup pipeline: pair lists
    (minhash/simhash/jaccard) become keep/drop decisions only after
    transitive closure groups them into clusters.
    """
    # Materialize the RAW edge list ONCE: it seeds everything below, and
    # without the cut every consumer would re-run the entire upstream
    # pair pipeline (for near-dup graphs, the shingle join that dominates
    # the whole job). r10: the cut used to sit on `nodes` AND `e`
    # separately, which materialized that upstream pipeline TWICE —
    # measured 2x the pair-join cost inside every CC call at sf0.1
    # (dedup_clusters CC phase 5.7s with the star round itself <2s).
    # Cutting `raw` first makes the nodes/e cuts cheap derivations of
    # the checkpointed edge list. The edge list itself is tiny relative
    # to the corpus.
    raw = truncate_lineage(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
            F.col("u") != F.col("v")
        )
    )
    nodes = truncate_lineage(
        raw.select(F.col("u").alias("node"))
        .unionAll(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    e = truncate_lineage(
        raw.select(
            F.greatest("u", "v").alias("child"),
            F.least("u", "v").alias("parent"),
        ).distinct()
    )
    lc = LoopCheckpointer()
    pending = -1
    for i in range(max_iter):
        # large-star: for each node a, m = min(neighborhood(a) + {a});
        # hook every neighbor b > a to m. Output edges keep the strict
        # child > parent orientation (b > a >= m).
        sym = e.unionAll(
            e.select(F.col("parent").alias("child"), F.col("child").alias("parent"))
        ).toDF("a", "b")
        lmin = sym.groupBy("a").agg(
            F.least(F.min("b"), F.col("a")).alias("m")
        )
        large = (
            sym.where(F.col("b") > F.col("a"))
            .join(lmin, "a")
            .select(F.col("b").alias("child"), F.col("m").alias("parent"))
            .distinct()
        )
        # small-star: key each edge by its larger endpoint (already the
        # orientation `large` emits); hook the smaller neighbors and the
        # key itself to the minimum. child > parent is preserved
        # (parent != m and m = min(parents) => parent > m; child > m).
        smin = large.groupBy("child").agg(F.min("parent").alias("m"))
        small = (
            large.join(smin, "child")
            .where(F.col("parent") != F.col("m"))
            .select(F.col("parent").alias("child"), F.col("m").alias("parent"))
            .unionAll(smin.select("child", F.col("m").alias("parent")))
            .distinct()
        )
        e = lc.cut(small)
        # exact fixpoint test: a star forest has (a) no node that is
        # both a parent and a child and (b) exactly one parent per
        # child; both star ops preserve connectivity and keep
        # child > parent, so star forest == converged components with
        # each star's root the component minimum. (b) is not implied by
        # (a): a depth-1 edge set can still hold {(c,p1),(c,p2)} whose
        # roots were never merged — see docstring. One job: left-join
        # parents against the distinct child set, then a single-row
        # aggregate counting both violation classes.
        kids = e.select(F.col("child").alias("__k")).distinct()
        stats = (
            e.join(kids, e.parent == F.col("__k"), "left")
            .agg(
                F.count(F.lit(1)).alias("__total"),
                F.count_distinct(F.col("child")).alias("__nchild"),
                F.count(F.col("__k")).alias("__badp"),
            )
            .first()
        )
        pending = stats["__badp"] + (stats["__total"] - stats["__nchild"])
        if on_round is not None:
            on_round(i, pending)
        if pending == 0:
            break
    else:
        # star trees were still collapsing when the round budget ran
        # out. Returning the partial forest would hand callers wrong
        # clusters — fail loudly instead. (With the star algorithm this
        # means max_iter << log2(n), not a deep-diameter graph.)
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({pending} non-star edges remain); rounds needed are "
            f"O(log n) — raise max_iter"
        )
    return nodes.join(e, nodes.node == e.child, "left").select(
        "node", F.coalesce("parent", F.col("node")).alias("label")
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(doc_id, rep): every document labeled with its near-dup cluster
    representative (min doc id of the component; singletons represent
    themselves). Keep rows where rep == id to deduplicate the corpus."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, k=k, threshold=threshold)
    cc = connected_components(pairs)
    return df.select(F.col(id_col)).join(
        cc, df[id_col] == cc.node, "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("label"), F.col(id_col)).alias("rep"),
    )


def dedup_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(cluster_rep, keep_id, quality): for every near-dup cluster, the
    single document to KEEP — the highest-quality member (textstats
    quality score; ties broken by min id). This closes the dedup loop the
    way production corpus curation actually does it: clustering alone says
    which documents are duplicates, this says which copy survives — and
    "lowest doc id" (plain `dedup_clusters`) is usually the wrong answer
    when one copy is a cleaner extraction of the same content.

    Cost on top of dedup_clusters: one map-side quality projection over
    the corpus, one equi-join on doc id, one window shuffle keyed by the
    cluster rep. No additional pass over text bodies.
    """
    from hdp_tez_spark.extensions.textstats import quality_score

    from pyspark.sql import Window

    clusters = dedup_clusters(df, id_col, text_col, k=k, threshold=threshold)
    quality = quality_score(df, id_col, text_col).select(id_col, "quality")
    joined = clusters.join(quality, id_col)
    w = Window.partitionBy("rep").orderBy(F.desc("quality"), F.col(id_col))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("rep").alias("cluster_rep"),
            F.col(id_col).alias("keep_id"),
            "quality",
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def golden_record(
    df: DataFrame,
    cluster_col: str,
    quality_col: str,
    value_cols: Sequence[str],
    tiebreak_col: str,
) -> DataFrame:
    """Survivorship / record consolidation: one merged row per cluster
    where each attribute independently takes its value from the
    highest-quality row in which that attribute is NON-NULL — the
    standard golden-record rule (a low-quality row can still donate the
    only phone number anyone has).

    Output: (cluster, n_members, <value_cols...>). Ties on quality
    resolve by `tiebreak_col` (highest wins), so the merge is
    deterministic on every engine and retry.

    Scale shape: ONE grouped aggregation — each attribute is a
    `max_by(col, CASE WHEN col IS NOT NULL THEN (quality, tiebreak) END)`
    whose partials merge associatively map-side, so the shuffle carries
    |clusters| rows however wide the cluster membership is. Contrast
    with `dedup_keep_best`, which keeps one whole WINNING ROW (window
    rank); golden_record composes the best of every row.
    """
    order = F.struct(F.col(quality_col), F.col(tiebreak_col))
    aggs = [F.count(F.lit(1)).alias("n_members")]
    for c in value_cols:
        aggs.append(
            F.max_by(
                F.col(c), F.when(F.col(c).isNotNull(), order)
            ).alias(c)
        )
    return df.groupBy(F.col(cluster_col).alias("cluster")).agg(*aggs)


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document over unigram tokens (with multiplicity).

    Bit b of the fingerprint is the majority vote of bit b across all
    token hashes (+1 if set, -1 if not; > 0 wins). Output: (doc, simhash).
    """
    toks = _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc"),
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    ).withColumn("h", _md5_long(F.col("tok")))
    # one aggregation with 60 vote columns instead of a 60-way bit explode:
    # partial (map-side) aggregation reduces each doc to 60 longs per map
    # partition, so the shuffle carries |docs| x 60 longs — not
    # |tokens| x 60 rows
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END")
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    simhash = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return votes.select("doc", simhash.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming, found by band
    equi-join (4 bands x 15 bits): any pair within distance 3 must agree
    exactly on >= 1 band (pigeonhole), so recall is 100% without an
    all-pairs scan. Output: (id_a, id_b, hamming).
    """
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"banding guarantees recall only for hamming < {SIMHASH_BANDS}"
        )
    # cut the fingerprint table: the band self-join's two sides are
    # separate plan subtrees, so the tokenize + 60-vote aggregation ran
    # twice per call without it (r10; the checkpoint is |docs| rows of
    # (doc, long))
    fp = truncate_lineage(simhash_fingerprints(df, id_col, text_col))
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    banded = fp.withColumn(
        "band", F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1)))
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(simhash, band * {band_bits}) & {mask}"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word k-gram shingles that appear in NO other document —
    the corpus-diversity audit that ranks boilerplate (novelty ~0)
    against genuinely fresh text (novelty ~1), the aggregate twin of
    pairwise near-dup detection (a doc full of shared shingles is the
    one MinHash-LSH will pair up).

    Output per input row: (id, n_shingles, n_unique, novelty) with
    novelty = n_unique / n_shingles rounded to 6 dp (a ratio of exact
    integers — no float-summation noise), NULL when the document
    produced no shingles.

    Scale shape: shingles collapse to 8-byte md5 hashes map-side, so
    both shuffles (the docs-per-shingle count, keyed on the hash, and
    the join back) carry (id, hash) pairs — never text. The count table
    is |distinct shingles| rows; no stage is quadratic in corpus size,
    and a 60-bit hash collision affects Spark and any SQL oracle
    identically because both count on the same md5 domain. The (id,
    hash) set is checkpointed ONCE (tokenize-once, the prefix_filter_
    join precedent): the count branch and the join branch would
    otherwise each re-run the regex tokenize + md5 over the full
    corpus — the dominant map cost, doubled. NULL-text rows produce no
    shingles (n_shingles 0, novelty NULL).
    """
    sh = (
        _spread(
            df.select(id_col, text_col).where(F.col(text_col).isNotNull())
        )
        .select(
            F.col(id_col),
            F.explode(_shingles(F.col(text_col), k)).alias("__sh"),
        )
        .select(F.col(id_col), _md5_long(F.col("__sh")).alias("__h"))
    )
    sh = truncate_lineage(sh)
    # rows are distinct per (doc, shingle) — _shingles array_distincts
    # within the doc — so count(*) per hash IS docs-containing-shingle
    counts = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__nd"))
    per_doc = (
        sh.join(counts, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("__nd") == 1).cast("long")).alias("n_unique"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_unique") / F.col("n_shingles").cast("double"),
                ),
                6,
            ).alias("novelty"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 20,
) -> DataFrame:
    """Substring-level duplicate-span detection — the distributed
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    stride-1 sliding window of `window` tokens is hashed, and a window
    whose hash occurs in >= 2 DISTINCT documents marks a span that is
    verbatim-duplicated somewhere else in the corpus (reference analogue:
    the corpus-hygiene pipelines SURVEY §2.10 groups with ngram_novelty /
    decontaminate; this is their finer-grained span-level sibling).

    Output per input row: (id, n_windows, dup_windows, dup_frac) where
    dup_frac = dup_windows / n_windows rounded to 6 dp (exact-integer
    ratio — no float-sum noise), NULL for documents shorter than the
    window. Feed `dup_frac` to a curation gate the way quality_score is
    gated; docs with dup_frac ~1 are boilerplate clones even when no
    DOCUMENT-level near-dup fires (two long docs sharing one quoted
    paragraph never reach Jaccard/MinHash thresholds, but every token of
    that paragraph is still memorization risk).

    Scale shape: the map stage explodes to ~|corpus tokens| window rows
    (stride 1), but only (doc id, 60-bit window hash) leaves the map —
    never window text, so the shuffle is ~16 bytes per corpus token.
    The duplicated-hash table is a map-side-combined groupBy on the
    hash (|distinct windows| rows); marking rides one hash equi-join.
    Nothing is quadratic in corpus size, and within-doc repeats do NOT
    fire (count DISTINCT doc >= 2) — that axis is repetition_stats'.
    The (doc, pos-hash) set is checkpointed once: the count branch and
    the join-back branch would otherwise each re-run tokenize + window
    md5 over the full corpus (the dominant map cost, doubled — the
    tokenize-once precedent from ngram_novelty).
    """
    wins = (
        _spread(df.select(id_col, text_col).where(F.col(text_col).isNotNull()))
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col), F.explode(word_ngrams(F.col("__toks"), window)).alias("__w")
        )
        .select(
            F.col(id_col), _md5_long(ngram_text(F.col("__w"), window)).alias("__h")
        )
    )
    wins = truncate_lineage(wins)
    dup_hashes = (
        wins.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("__h")
    )
    per_doc = (
        wins.join(dup_hashes, "__h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dup_windows"))
    )
    totals = wins.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_windows"))
    # coalesce BEFORE the ratio: a doc with windows but zero duplicated
    # ones has a NULL per_doc row, and NULL/n must read as 0/n = 0.0,
    # not NULL (NULL is reserved for "no windows at all")
    n_windows = F.coalesce("n_windows", F.lit(0))
    dup_windows = F.coalesce("dup_windows", F.lit(0))
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            n_windows.alias("n_windows"),
            dup_windows.alias("dup_windows"),
            F.round(
                F.when(n_windows > 0, dup_windows / n_windows.cast("double")),
                6,
            ).alias("dup_frac"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Asymmetric shingle-containment pairs: directed (src, dst) where

        containment(src -> dst) = |shingles(src) ∩ shingles(dst)|
                                  / |shingles(src)|  >= threshold

    Jaccard (symmetric, `ngram_jaccard_pairs`) misses the
    quote/subset class of duplication entirely: a 50-token document
    pasted inside a 5000-token one has Jaccard ~0.01 but containment
    ~1.0. Containment (Broder '97's other resemblance measure) is the
    standard detector for verbatim inclusions — boilerplate headers,
    quoted posts, documents that are concatenations of others — which
    a dedup pass scores differently from mutual near-duplicates (drop
    the contained side, keep the container). Output: (src_id, dst_id,
    n_inter, src_size, containment) with src != dst, containment
    rounded to 6; DIRECTED, so a mutual near-dup pair appears twice
    with its two (generally different) scores.

    Scale shape: same as ngram_jaccard_pairs — candidates meet through
    the 60-bit shingle-hash equi-join (pairs must share a shingle;
    NEVER all-pairs), the self-join shuffles (doc, 8-byte hash) rows
    only, per-doc sizes are a map-side array-length projection, and the
    size join back is id-keyed. The only delta is the join predicate
    (!= instead of <, doubling candidate rows) and the denominator.
    """
    # tokenize + md5 once into per-doc hash arrays and cut (r10): the
    # self-join sides and the size projection are separate plan
    # subtrees — same fix as ngram_jaccard_pairs
    base = truncate_lineage(
        _spread(df.select(id_col, text_col)).select(
            F.col(id_col).alias("doc"),
            F.transform(_shingles(F.col(text_col), k), _md5_long).alias("__hs"),
        )
    )
    sh = base.select("doc", F.explode("__hs").alias("sh_h"))
    sizes = base.select("doc", F.size("__hs").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    # merge-pin the self-join (prefix_filter_join / bloom_decontaminate
    # precedent): both sides are post-explode shingle streams whose size
    # static estimation undercounts, and a shuffle-HASH join builds one
    # hash map per task — 32 concurrent ~1.5M-row builds OOMed the
    # default heap at the x100-docs probe. SMJ spills through the
    # external sorter instead and can never OOM; the hint is honored
    # through AQE replans, so the plan is stable at every scale.
    inter = (
        a.hint("merge")
        .join(
            b.hint("merge"),
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("src_id"), F.col("b.doc").alias("dst_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ssrc = sizes.select(
        F.col("doc").alias("src_id"), F.col("n_shingles").alias("src_size")
    )
    return (
        inter.join(ssrc, "src_id")
        .withColumn(
            "containment", F.round(F.col("n_inter") / F.col("src_size"), 6)
        )
        .where(F.col("containment") >= threshold)
        .select("src_id", "dst_id", "n_inter", "src_size", "containment")
    )


def blocking_eval(
    candidates: DataFrame,
    truth: DataFrame,
    n_entities: int,
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """Blocking-quality evaluation for entity resolution / dedup
    pipelines (Christen '12's standard pair): given the CANDIDATE pair
    set a blocking scheme generated and a ground-truth duplicate pair
    set,

        pair_completeness = |candidates ∩ truth| / |truth|   (recall of
                             the blocking stage — what the matcher can
                             still possibly find)
        reduction_ratio   = 1 − |candidates| / C(n_entities, 2)  (how
                             much of the quadratic all-pairs space the
                             blocking avoided)

    — the two numbers that justify every banding/bucketing knob in
    this module (LSH bands, SimHash bands, prefix filters, block
    keys): turning a knob trades one against the other, and this
    readout makes the trade measurable. Pairs are normalized to
    (min, max) and deduplicated on both sides, so direction and
    duplicates can't inflate either metric. Output: ONE row
    (n_candidates, n_truth, n_matched, pair_completeness,
    reduction_ratio), 6 dp.

    Scale shape: two distinct-collapses on 16-byte id pairs, one pair
    equi-join (the truth side is match-table-sized and broadcasts
    under AQE), three scalar counts — nothing touches documents, and
    the C(n, 2) denominator is a literal, not a cross join.
    """
    if n_entities < 2:
        raise ValueError("n_entities must be >= 2")

    def norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        ).where(F.col("u") != F.col("v")).distinct()

    cand = norm(candidates)
    tr = norm(truth)
    matched = cand.join(tr, ["u", "v"])
    total_pairs = float(n_entities * (n_entities - 1) // 2)
    counts = (
        cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        .crossJoin(tr.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(matched.agg(F.count(F.lit(1)).alias("n_matched")))
    )
    return counts.select(
        "n_candidates",
        "n_truth",
        "n_matched",
        F.round(
            F.when(
                F.col("n_truth") > 0,
                F.col("n_matched") / F.col("n_truth"),
            ),
            6,
        ).alias("pair_completeness"),
        F.round(
            F.lit(1.0) - F.col("n_candidates") / F.lit(total_pairs), 6
        ).alias("reduction_ratio"),
    )


def bcubed_eval(
    pred: DataFrame,
    gold: DataFrame,
    id_col: str = "id",
    pred_col: str = "cluster",
    gold_col: str = "cluster",
) -> DataFrame:
    """B-cubed clustering evaluation (Bagga & Baldwin '98; Amigo et al.
    '09 showed it is the only common cluster metric satisfying all four
    formal constraints) of a predicted dedup clustering against gold
    labels — the eval every entity-resolution/dedup pipeline needs
    BEFORE trusting `dedup_clusters` output at scale:

        precision = avg over items i of |C(i) ∩ L(i)| / |C(i)|
        recall    = avg over items i of |C(i) ∩ L(i)| / |L(i)|

    where C(i) is i's predicted cluster and L(i) its gold cluster.
    Items present in only one input are dropped (inner join — both
    labelings must cover an item for the comparison to be defined).
    Output: ONE row (n_items, precision, recall, f1) rounded to 6 dp.

    Scale shape: the per-item average collapses to pure cell algebra —
    with n_pg = |items in predicted cluster p ∩ gold cluster g|,
    n_p and n_g the cluster sizes,

        precision = Σ_pg n_pg²/n_p / N ;  recall = Σ_pg n_pg²/n_g / N

    so the whole eval is: one id equi-join, ONE collapse to the
    |co-occurrence cells| table, two broadcast-sized size tables
    joined back, one final 1-row aggregate. All counts are integers —
    exact in IEEE double below 2^52, cross-engine stable at 6 dp.
    """
    p = pred.select(
        F.col(id_col).alias("__id"), F.col(pred_col).alias("__p")
    )
    g = gold.select(
        F.col(id_col).alias("__id"), F.col(gold_col).alias("__g")
    )
    both = p.join(g, "__id")
    cells = both.groupBy("__p", "__g").agg(F.count(F.lit(1)).alias("n_pg"))
    sz_p = cells.groupBy("__p").agg(F.sum("n_pg").alias("n_p"))
    sz_g = cells.groupBy("__g").agg(F.sum("n_pg").alias("n_g"))
    joined = cells.join(sz_p, "__p").join(sz_g, "__g")
    return joined.agg(
        F.sum("n_pg").alias("n_items"),
        F.round(
            F.sum(F.col("n_pg") * F.col("n_pg") / F.col("n_p"))
            / F.sum("n_pg"),
            6,
        ).alias("precision"),
        F.round(
            F.sum(F.col("n_pg") * F.col("n_pg") / F.col("n_g"))
            / F.sum("n_pg"),
            6,
        ).alias("recall"),
    ).select(
        "n_items",
        "precision",
        "recall",
        F.round(
            2 * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall")),
            6,
        ).alias("f1"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo '95) — the
    third candidate-generation method next to LSH banding (probability
    bound) and prefix filtering (exact threshold bound): sort the
    corpus by a fuzzy blocking key (phonetic code, normalized prefix,
    zip+name) and emit every pair within `window` positions. Catches
    near-boundary pairs that fixed blocking splits apart, with an
    exactly linear candidate budget: each record pairs with at most
    `window` successors, so |pairs| <= window * n by construction —
    no frequency skew can blow it up (the stopword failure mode of
    token blocking). Sort ties break by id, making the neighborhood —
    and therefore the candidate set — deterministic. Output:
    (id_a, id_b, key_a, key_b, rank_gap) ordered by (id_a, rank_gap).

    Scale shape: the global sort position comes from the
    range-partition + broadcast-offset global rank
    (operators/sort.global_sort_ranked — never a single-task window);
    neighbors meet through `window` rank-offset EQUI-joins (one
    explode of 1..window, one join on rank+offset — a range join would
    be a nested loop). Everything shuffled is (rank, id, key) rows.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    from hdp_tez_spark.operators.sort import global_sort_ranked

    ranked = global_sort_ranked(
        df.select(F.col(id_col).alias("id"), F.col(key_col).alias("key")),
        [F.col("key").asc(), F.col("id").asc()],
        "__rk",
    )
    left = ranked.select(
        F.col("__rk").alias("__ra"),
        F.col("id").alias("id_a"),
        F.col("key").alias("key_a"),
        F.explode(
            F.sequence(F.lit(1), F.lit(int(window)))
        ).alias("__off"),
    ).withColumn("__rb", F.col("__ra") + F.col("__off"))
    right = ranked.select(
        F.col("__rk").alias("__rb"),
        F.col("id").alias("id_b"),
        F.col("key").alias("key_b"),
    )
    return (
        left.join(right, "__rb")
        .select(
            "id_a",
            "id_b",
            "key_a",
            "key_b",
            F.col("__off").cast("int").alias("rank_gap"),
        )
        .orderBy("id_a", "rank_gap")
    )


def linkage_weights(
    df: DataFrame,
    id_col: str,
    block_key_col: str,
    fields: Sequence[str],
    window: int = 3,
) -> DataFrame:
    """Fellegi-Sunter-style field agreement weights from blocked
    candidate pairs (Fellegi & Sunter, JASA 1969) — the scoring layer
    record linkage puts on top of blocking: for each compare field,
    m = P(field agrees | candidate pair) estimated from the
    sorted-neighborhood candidate set, and u = P(field agrees | random
    pair) computed EXACTLY from value frequencies as
    sum_v c_v*(c_v-1) / (n*(n-1)) — integer arithmetic, no sampling.
    agree_weight = log2(m/u) (evidence a match contributes),
    disagree_weight = log2((1-m)/(1-u)) (evidence a mismatch
    subtracts). NULL field values never count as agreement; weights are
    NULL when the ratio is degenerate (m or u at 0/1) rather than
    +/-inf. Output: one row per field (field, n_pairs, m_prob, u_prob,
    agree_weight, disagree_weight) rounded to 6 dp, ordered by field.

    Scale shape: candidate pairs ride sorted_neighborhood_pairs'
    linear-budget rank-offset equi-joins (|pairs| <= window*n by
    construction); field values arrive through two id-keyed equi-joins;
    each field's m is a conditional count in ONE pass over the pair
    table (per-field rows exploded from a bounded |fields| literal
    array); each u is one |distinct-values| cell collapse. Nothing
    quadratic anywhere.
    """
    if not fields:
        raise ValueError("linkage_weights needs at least one compare field")
    pairs = sorted_neighborhood_pairs(df, id_col, block_key_col, window=window)
    lhs = df.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f).alias(f"__a_{f}") for f in fields],
    )
    rhs = df.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f).alias(f"__b_{f}") for f in fields],
    )
    joined = pairs.select("id_a", "id_b").join(lhs, "id_a").join(rhs, "id_b")
    # one row per (pair, field): field name + agreement flag
    per_field = joined.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"),
                        (
                            F.col(f"__a_{f}").isNotNull()
                            & F.col(f"__b_{f}").isNotNull()
                            & (F.col(f"__a_{f}") == F.col(f"__b_{f}"))
                        )
                        .cast("long")
                        .alias("agree"),
                    )
                    for f in fields
                ]
            )
        ).alias("__fa")
    ).select("__fa.field", "__fa.agree")
    m_tab = per_field.groupBy("field").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.sum("agree").cast("double") / F.count(F.lit(1))).alias("__m"),
    )
    # exact random-pair agreement probability per field from value counts
    u_parts = []
    for f in fields:
        vals = df.where(F.col(f).isNotNull()).groupBy(F.col(f)).agg(
            F.count(F.lit(1)).alias("__c")
        )
        n_tab = df.agg(F.count(F.lit(1)).alias("__n"))
        u_parts.append(
            vals.agg(
                F.lit(f).alias("field"),
                F.sum(F.col("__c") * (F.col("__c") - 1)).alias("__agree2"),
            ).crossJoin(F.broadcast(n_tab))
            .select(
                "field",
                (
                    F.col("__agree2").cast("double")
                    / (F.col("__n") * (F.col("__n") - F.lit(1)))
                ).alias("__u"),
            )
        )
    u_tab = u_parts[0]
    for p in u_parts[1:]:
        u_tab = u_tab.unionByName(p)
    m, u = F.col("__m"), F.col("__u")
    ok_agree = (m > 0) & (u > 0) & (u < 1)
    ok_dis = (m < 1) & (u < 1) & (u > 0)
    return (
        m_tab.join(F.broadcast(u_tab), "field")
        .select(
            "field",
            "n_pairs",
            F.round(m, 6).alias("m_prob"),
            F.round(u, 6).alias("u_prob"),
            F.round(
                F.when(ok_agree, F.log2(m / u)), 6
            ).alias("agree_weight"),
            F.round(
                F.when(ok_dis, F.log2((1 - m) / (1 - u))), 6
            ).alias("disagree_weight"),
        )
        .orderBy("field")
    )
