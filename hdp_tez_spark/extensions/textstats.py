"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

Beyond-reference extension (BASELINE.json). Everything is built from
JVM-side expressions (no Python UDFs) so the operators stay inside
whole-stage codegen and scale linearly with corpus size; each has an
exact SQL twin for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hdp_tez_spark.functions.text import (
    TOKEN_SPLIT_REGEX,
    explode_tokens,
    ngram_text,
    tokenize,
    word_ngrams,
)
from hdp_tez_spark.parallel import spread as _spread

# words + punctuation runs — a BPE-ish segmentation; POSIX classes only so
# the same pattern works in Java regex and RE2.
BPE_ISH_REGEX = "[a-zA-Z0-9_]+|[^a-zA-Z0-9_ ]+"

# Tiny per-language stopword lists for the n-gram/stopword langid
# heuristic. Scoring = fraction of tokens that are stopwords of each
# language; argmax wins (ties broken by language code order).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
}


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting: whitespace-ish tokens + BPE-ish segment count.

    Output: (id, n_tokens, n_bpeish, n_chars_seen).
    """
    toks = tokenize(F.col(text_col))
    return _spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_REGEX), 0)).alias(
            "n_bpeish"
        ),
        F.length(text_col).alias("n_chars_seen"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality scoring: length, punctuation density, digit
    density, stopword ratio, mean token length; combined into score in
    [0, 1]. All components are exposed so downstream filters can pick
    their own thresholds.
    """
    toks = F.col("__toks")
    n_chars = F.length(text_col)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text_col, "[^a-zA-Z0-9 ]", ""))
    n_digits = n_chars - F.length(F.regexp_replace(text_col, "[0-9]", ""))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n_tokens,
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digits / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    length_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    score = (
        0.3 * length_score
        + 0.3 * F.least(stop_ratio * 5, F.lit(1.0))
        + 0.2 * (1 - F.least(punct_ratio * 10, F.lit(1.0)))
        + 0.2 * (1 - F.least(digit_ratio * 10, F.lit(1.0)))
    )
    return (
        _spread(df.select(id_col, text_col))
        .select(F.col(id_col), F.col(text_col), tokenize(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            n_tokens.alias("n_tokens"),
            F.round(punct_ratio, 6).alias("punct_ratio"),
            F.round(digit_ratio, 6).alias("digit_ratio"),
            F.round(stop_ratio, 6).alias("stopword_ratio"),
            F.round(mean_tok_len, 6).alias("mean_token_len"),
            F.round(score, 6).alias("quality"),
        )
    )


def langid(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-profile language ID. Output: (id, pred_lang, pred_score).

    Score per language = fraction of tokens found in that language's
    stopword list; argmax with language-code tiebreak. A real deployment
    swaps the lists for n-gram profiles; the operator shape (explode ->
    broadcast-join wordlist -> pivot-free argmax) is the scalable part.
    """
    toks = F.col("__toks")
    scores = []
    for lang in sorted(LANG_STOPWORDS):
        wl = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        frac = F.when(
            F.size(toks) > 0,
            F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))
            / F.size(toks),
        ).otherwise(F.lit(0.0))
        scores.append(F.struct(F.round(frac, 6).alias("score"), F.lit(lang).alias("lang")))
    # array_max on (score, lang) structs: max score, then max lang code —
    # deterministic; mirror the same tiebreak in the oracle.
    best = F.array_max(F.array(*scores))
    return _spread(df.select(id_col, text_col)).select(
        F.col(id_col), tokenize(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        best["lang"].alias("pred_lang"),
        best["score"].alias("pred_score"),
    )


# PII patterns shared by the Spark operator and the DuckDB oracle: POSIX
# classes + \b only, so Java regex and RE2 agree. Phone deliberately
# requires a leading +/( to avoid swallowing plain integers.
PII_EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_REGEX = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_REGEX = r"[+(][0-9][0-9()\- ]{6,}[0-9]"


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction: replace emails, IPv4 addresses, and phone-like
    spans with typed tags; emit per-kind match counts for audit.

    Output: (id, redacted, n_emails, n_ips, n_phones).

    Scale shape: three regexp_replace + three regexp_extract_all column
    expressions — pure map-side, whole-stage codegen, zero shuffle; at
    100 TB this is scan-bound. Counts are measured on the ORIGINAL text
    (not the partially-redacted intermediate) so kinds are independent;
    a span matching two patterns (digits inside an email local part)
    counts once per kind, so counts can exceed tags actually emitted.
    Replacement is ordered email -> ip -> phone so the phone pattern can
    never re-match digits inside an already-tagged email/ip.
    """
    text = F.col(text_col)
    redacted = F.regexp_replace(text, PII_EMAIL_REGEX, "<EMAIL>")
    redacted = F.regexp_replace(redacted, PII_IPV4_REGEX, "<IP>")
    redacted = F.regexp_replace(redacted, PII_PHONE_REGEX, "<PHONE>")
    return _spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_REGEX), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PII_IPV4_REGEX), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(text, F.lit(PII_PHONE_REGEX), 0)).alias("n_phones"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Within-document repetition signals for quality filtering: unique
    token fraction and duplicate-token ratio (boilerplate / keyword-stuffed
    documents score high).

    Output: (id, n_tokens, n_unique, rep_ratio) where
    rep_ratio = 1 - n_unique / n_tokens (0 = all distinct).

    Scale shape: split + array_distinct column expressions — map-side
    only, no explode, no shuffle; memory per row is bounded by the
    document's own token array.
    """
    toks = F.col("__toks")
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    return _spread(df.select(id_col, text_col)).select(
        F.col(id_col), tokenize(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique"),
        F.round(
            F.when(n_tokens > 0, 1 - n_unique / n_tokens.cast("double")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("rep_ratio"),
    )


def normalized_fp(col: Column) -> Column:
    """md5 over whitespace-normalized lowercase text — the shared
    content-identity expression (fingerprint table, stream admission
    gate)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(col), TOKEN_SPLIT_REGEX, " ")))


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    plus a 60-bit integer form for compact storage/joins."""
    fp = normalized_fp(F.col(text_col))
    return _spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        fp.alias("fp_md5"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp_int"),
    )


def lm_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Perplexity-proxy quality score WITHOUT an external model: each
    document's average bigram log-probability under the corpus's own
    bigram statistics, Laplace-smoothed —
    score = avg over bigrams of ln((c2(w1,w2) + 0.5) / (c1(w1) + 0.5 V)).
    Fluent, typical text scores high; keyboard mash, boilerplate-free
    gibberish, and wrong-language text score low. This is the
    'KenLM-style filter' slot of a curation pipeline (quality_score's
    surface-statistics complement), self-trained on the corpus so the
    whole thing stays inside the engine.

    Output: (id, n_bigrams, lm_score) rounded to 6 dp; documents with
    fewer than 2 tokens are excluded (no bigram evidence).

    Scale shape: bigram pairs are built MAP-SIDE from each token array's
    word 2-grams (no positional explode join); the corpus
    tables collapse by partial-agg groupBy to |distinct bigrams| and
    |vocab| rows; scoring joins each document's bigrams against those
    tables (AQE broadcasts the vocab side when it fits) and the final
    per-document average is a keyed agg. Nothing is quadratic and no
    stage holds more than the bigram vocabulary.
    """
    big = (
        df.select(
            F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("__toks")
        )
        .select("id", F.explode(word_ngrams(F.col("__toks"), 2)).alias("p"))
        .select("id", "p.w1", "p.w2")
    )
    # c1 and the vocabulary both derive from the already-collapsed c2
    # table (c1(w1) = sum over w2 of c2; V = distinct words in c2's
    # columns) — deriving them there instead of from `big` saves two
    # full re-tokenization scans of the corpus
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = c2.select(F.explode(F.array("w1", "w2")).alias("w")).agg(
        F.count_distinct("w").alias("V")
    )
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            F.log(
                (F.col("c2") + 0.5) / (F.col("c1") + 0.5 * F.col("V"))
            ).alias("__lp"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("__lp"), 6).alias("lm_score"),
        )
        .orderBy("id")
    )


def collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Collocation mining by pointwise mutual information: the adjacent
    word pairs that co-occur far more than their unigram frequencies
    predict — phrase-vocabulary discovery for tokenizer training and
    multi-word-expression normalization.
    PMI(w1, w2) = ln( (c2/Nb) / ((u(w1)/Nu) * (u(w2)/Nu)) ) with c2 the
    bigram count (Nb bigrams total) and u the unigram counts (Nu tokens
    total). Pairs below `min_count` are noise-filtered BEFORE scoring
    (rare pairs otherwise dominate PMI). Output: top `top_k` by
    (pmi desc, w1, w2), columns (w1, w2, n_pair, pmi) with pmi rounded
    to 6 dp.

    Scale shape: one corpus pass builds bigrams map-side (as lm_score
    does), collapsing by partial agg to |bigram vocab|; unigram counts
    and both totals derive from |vocab|-sized tables; the min_count
    filter prunes the pair table before the two vocab joins, and the
    final top-k compiles to TakeOrderedAndProject. Nothing after the
    first collapse is corpus-sized.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    # explode the tokenizer itself: exploding a projected token column
    # makes Catalyst infer `size(toks) > 0 AND isnotnull(toks)` and push
    # it below the projection, re-running the split twice per row
    uni = explode_tokens(df, text_col, "w").groupBy("w").agg(
        F.count(F.lit(1)).alias("u")
    )
    nu = uni.agg(F.sum("u").alias("Nu"))
    big = (
        df.select(tokenize(F.col(text_col)).alias("__toks"))
        .select(F.explode(word_ngrams(F.col("__toks"), 2)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    nb = big.agg(F.sum("n_pair").alias("Nb"))
    scored = (
        big.where(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("u").alias("u1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("u").alias("u2")), "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("Nb"))
                    / (
                        (F.col("u1") / F.col("Nu"))
                        * (F.col("u2") / F.col("Nu"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(top_k)


def _word_seq(w: Column) -> Column:
    """A word as its BPE start state: space-joined characters plus the
    `</w>` end-of-word symbol ("hello" -> "h e l l o </w>"). Shared by
    bpe_merges (training) and bpe_encode (application) so the two can
    never drift."""
    return F.concat(
        F.trim(F.regexp_replace(w, "(.)", "$1 ")), F.lit(" </w>")
    )


def _apply_merge(seq: Column, left: str, right: str) -> Column:
    """Apply one merge rule to a space-joined symbol sequence with
    textbook (Sennrich) left-to-right greedy semantics, as a pure
    replace() chain — identical on the JVM and every SQL engine, and the
    single definition both training and encoding use.

    The separator-doubling trick makes one replace() pass exact: with a
    SINGLE space between symbols, the pattern ` left right ` consumes
    the boundary space shared with the next occurrence, so adjacent
    repetitions under-merge (` a a a a ` -> `aa a a`, textbook `aa aa`).
    Doubling every separator first gives each boundary TWO spaces; a
    match consumes one from each side, leaving the neighbor's boundary
    intact for the next left-to-right match. Fuzz-verified equal to the
    textbook single-pass merge over 200k random (sequence, rule) cases.
    """
    pair, merged = f" {left}  {right} ", f" {left}{right} "
    doubled = F.concat(
        F.lit(" "), F.replace(seq, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    return F.trim(
        F.replace(
            F.replace(doubled, F.lit(pair), F.lit(merged)),
            F.lit("  "),
            F.lit(" "),
        )
    )


def bpe_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """Byte-pair-encoding merge training over a text corpus — the
    tokenizer-training pass of an LLM data pipeline. Learns `n_merges`
    merge rules greedily: each round counts adjacent symbol pairs across
    the word-frequency table (weighted by word count, overlapping
    occurrences counted — the textbook get_stats), merges the most
    frequent pair everywhere, repeats. Output: one row per learned rule,
    (rank, left, right, merged, pair_count), ordered by rank.

    Words are lowercase [a-z0-9]+ tokens split to characters with a
    trailing `</w>` end-of-word symbol (the classic Sennrich setup).
    Ties break deterministically: highest count, then lexicographically
    smallest pair string.

    Scale shape — the part that matters at 100 TB: the corpus is
    scanned ONCE, collapsing to the (word, count) vocabulary table (one
    shuffle of words, the standard trainer input); every merge round
    then works on that vocab table — pair explosion and partial-agg
    count are O(|vocab| * word_len), independent of corpus size — and
    only the single winning pair (2 short strings + a count) reaches
    the driver per round, the kmeans_fit driver-traffic contract. The
    vocab's lineage is cut every round (plans/checkpoints.truncate_
    lineage: localCheckpoint, or a reliable checkpoint when the
    SparkContext has a checkpoint dir).

    Merge application detail: the pair is replaced via the
    separator-doubling `replace()` chain in `_apply_merge` (symbols
    never contain spaces, so patterns are unambiguous), which matches
    the textbook Sennrich left-to-right greedy merge EXACTLY — including
    adjacent repetitions like `a a a a` -> `aa aa` — while staying a
    deterministic, engine-portable string expression, which is what
    makes the operator oracle-checkable.
    """
    from hdp_tez_spark.plans.checkpoints import LoopCheckpointer, truncate_lineage

    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    spark = df.sparkSession
    vocab = (
        _spread(df.select(text_col))
        .select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", "cnt", _word_seq(F.col("word")).alias("seq"))
    )
    vocab = truncate_lineage(vocab)
    merges: list[tuple[int, str, str, str, int]] = []
    lc = LoopCheckpointer()
    for r in range(1, n_merges + 1):
        syms = F.split(F.col("seq"), " ")
        # guard: sequence(1, 0) would generate a DESCENDING range
        idx = F.when(
            F.size(syms) >= 2, F.sequence(F.lit(1), F.size(syms) - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = F.transform(
            idx,
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        )
        best = (
            vocab.select(F.explode(pairs).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pcnt"))
            .orderBy(F.desc("pcnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, pcnt = best[0]["pair"], int(best[0]["pcnt"])
        left, right = pair.split(" ")
        merged = left + right
        merges.append((r, left, right, merged, pcnt))
        vocab = vocab.withColumn("seq", _apply_merge(F.col("seq"), left, right))
        vocab = lc.cut(vocab)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply learned BPE merge rules (from `bpe_merges`, in rank order)
    to every document — the tokenize step that turns the trained rules
    into model-ready token streams. Output per document:
    (id, n_words, n_tokens, tokens) where `tokens` is the full BPE
    symbol sequence and n_tokens its length — the compression readout
    (n_tokens shrinks toward n_words as rules are added).

    Scale shape: a ZERO-SHUFFLE map over the corpus. Each rule becomes
    one `replace()` on the space-joined symbol string of each word, so
    the whole encoder is a fixed chain of |merges| JVM string
    expressions inside whole-stage codegen — no Python, no state, no
    join; the merge table (driver-side, |merges| rows — the bounded
    trainer output) is baked into the plan like kmeans centroids.
    Application uses the same textbook-greedy separator-doubling
    `replace` chain as training (`_apply_merge`), so training and
    encoding agree by construction (and so does any SQL engine
    replaying the rules).
    """

    def _encode_word(w: Column) -> Column:
        s = _word_seq(w)
        for left, right in merges:
            s = _apply_merge(s, left, right)
        return F.split(s, " ")

    # two-stage projection (r11): `toks` is the full |merges|-deep
    # replace chain over every word — referencing it twice inline
    # (n_tokens + tokens) ran the whole encoder twice per row
    return (
        _spread(df.select(id_col, text_col))
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__words"))
        .select(
            F.col(id_col),
            F.col("__words"),
            F.flatten(F.transform(F.col("__words"), _encode_word)).alias(
                "__tokens"
            ),
        )
        .select(
            F.col(id_col),
            F.size("__words").alias("n_words"),
            F.size("__tokens").alias("n_tokens"),
            F.col("__tokens").alias("tokens"),
        )
    )


def charclass_mix(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-class composition audit per document: the fraction of
    characters that are ASCII letters, digits, whitespace (space, tab,
    newline, CR), the ASCII remainder (punctuation/symbols PLUS any
    other ASCII control characters — a NUL-padded or control-char-laden
    document deliberately inflates symbol_ratio, since binary garbage
    inside a text column is exactly the low-quality stratum this audit
    exists to flag), and non-ASCII. The
    class-mix fingerprint separates prose from tables/code/markup/
    base64 blobs and catches mixed-script spam long before a language
    model sees it — digit-heavy and symbol-heavy documents are the
    classic low-quality strata a curation pipeline down-weights
    (C4/Gopher-style rules threshold exactly these ratios), and a
    non-ASCII spike inside a claimed-English shard is a routing bug.
    Output: (id, n_chars, letter_ratio, digit_ratio, space_ratio,
    symbol_ratio, non_ascii_ratio), ratios rounded to 6 dp; empty
    documents report 0 everywhere rather than NULL so downstream
    threshold filters don't silently drop them.

    Scale shape: five fixed regexp-strip length expressions per row —
    pure JVM column arithmetic inside whole-stage codegen, zero
    shuffle, zero Python. Classes use explicit ASCII ranges (not \\s /
    POSIX classes) so Java-regex and RE2 engines count identically.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(txt)

    def cnt(cls: str) -> Column:
        # count = chars removed when stripping everything IN the class
        return n - F.length(F.regexp_replace(txt, cls, ""))

    letters = cnt("[A-Za-z]")
    digits = cnt("[0-9]")
    spaces = cnt("[ \\t\\n\\r]")
    non_ascii = cnt("[^\\x00-\\x7F]")
    symbols = n - letters - digits - spaces - non_ascii

    def ratio(c: Column) -> Column:
        return F.round(
            F.when(n > 0, c.cast("double") / n.cast("double")).otherwise(0.0), 6
        )

    return df.select(
        F.col(id_col),
        n.alias("n_chars"),
        ratio(letters).alias("letter_ratio"),
        ratio(digits).alias("digit_ratio"),
        ratio(spaces).alias("space_ratio"),
        ratio(symbols).alias("symbol_ratio"),
        ratio(non_ascii).alias("non_ascii_ratio"),
    )


def oov_rate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    term_col: str = "term",
) -> DataFrame:
    """Out-of-vocabulary rate per document against a vocabulary table —
    the tokenizer/corpus coverage audit run before committing a
    tokenizer or routing a shard (a corpus whose OOV rate spikes
    against the training vocabulary is a domain-shift or encoding
    problem the loss will pay for). Tokens are counted per OCCURRENCE
    (a repeated unknown word hurts every time), lowercased on both
    sides. Output: (id, n_tokens, n_oov, oov_rate) with oov_rate
    rounded to 6 dp; documents with zero tokens report rate 0 (not
    NULL) so threshold filters see them.

    Scale shape: documents collapse map-side to (id, token, count)
    cells before anything shuffles — the join key is the token, the
    vocabulary side is |vocab| rows (broadcast under AQE), and the
    final per-document rollup is a partial-aggregated groupBy on the
    id. Document bodies never shuffle; nothing is corpus-quadratic.
    """
    cells = (
        _spread(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("__id"),
            F.explode(tokenize(F.col(text_col))).alias("__tok"),
        )
        .groupBy("__id", "__tok")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    vt = vocab.select(
        F.lower(F.col(term_col).cast("string")).alias("__tok")
    ).distinct()
    joined = cells.join(vt.withColumn("__in", F.lit(1)), "__tok", "left")
    per_doc = joined.groupBy("__id").agg(
        F.sum("__cnt").alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), F.col("__cnt")).otherwise(0)).alias(
            "n_oov"
        ),
    )
    # zero-token documents fall out of the explode; re-attach with 0/0
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return (
        ids.join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("n_oov"), F.lit(0)).alias("n_oov"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
                    F.col("n_oov") / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("oov_rate"),
        )
        .orderBy(id_col)
    )


def distinct_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Corpus diversity audit: per n-gram order, total occurrences vs
    distinct n-grams and their ratio (distinct-n; Li et al. '16) —
    the standard memorization/degeneracy readout for generated or
    scraped corpora (a template flood or a decoding collapse drives
    distinct-2/distinct-3 toward 0 long before eyeballing catches it;
    the inverse view of `repetition_stats`' per-doc ratios). Output:
    one row per n — (n, total_ngrams, distinct_ngrams, distinct_ratio)
    rounded to 6 dp, ordered by n.

    Scale shape: per order, n-grams hash to 60-bit md5 longs map-side
    (never shuffling n-gram STRINGS), collapse through a
    partial-aggregated count to the |distinct hashes| cell table, and
    reduce to one row; the union stacks |ns| such one-row plans.
    Collision effect at 60 bits is ~1e-18 of the count — the minhash /
    ngram_jaccard trade, documented there.

    Measured rejection (r10): a single-scan variant — every order's
    (n, hash) structs emitted from ONE projection, one explode, one
    (n, hash) collapse — measured ~2x SLOWER at sf0.1 (5.5s vs 2.5s
    same-session medians): codegen does not common-subexpression the
    tokenizer split across higher-order-function lambdas, so the
    "one scan" still tokenizes once per order while adding struct
    construction + flatten per gram and a wider shuffle row. The
    per-order union stays; its scans are embarrassingly parallel and
    each prunes to the single text column.

    r11 (guide §1.3/§2.2): the regex tokenizer split itself ran once
    PER ORDER (the dominant map cost — an md5-vs-xxhash64 A/B moved
    nothing, so the gram hash is not where the time goes). The token
    ARRAYS are now cut once (localCheckpoint; the dedup-module
    eager-at-construction contract applies) and every per-order scan
    derives its grams from the cut — measured 4.15s -> 2.1-2.8s per
    3-order pass at sf0.1 (same-session A/B). The rejected single-scan
    struct variant above is a different shape: it kept 3 tokenizer
    runs while paying extra struct/flatten work; this one removes the
    re-tokenize without touching the per-order plans.
    """
    from hdp_tez_spark.extensions.dedup import _md5_long
    from hdp_tez_spark.plans.checkpoints import truncate_lineage

    if not ns or any(n < 1 for n in ns):
        raise ValueError("ns must be non-empty positive orders")
    tk = truncate_lineage(
        _spread(df.select(id_col, text_col)).select(
            tokenize(F.col(text_col)).alias("__tk")
        )
    )
    parts = []
    for n in ns:
        cells = (
            tk.select(F.explode(word_ngrams(F.col("__tk"), n)).alias("__g"))
            .select(_md5_long(ngram_text(F.col("__g"), n)).alias("__g"))
            .groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        total = F.coalesce(F.sum("__c"), F.lit(0))
        parts.append(
            cells.agg(
                F.lit(n).alias("n"),
                total.alias("total_ngrams"),
                F.count(F.lit(1)).alias("distinct_ngrams"),
                # an order no document reaches reports 0 grams and a
                # NULL ratio (undefined), never a fake 0.0
                F.round(
                    F.when(total > 0, F.count(F.lit(1)) / total), 6
                ).alias("distinct_ratio"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("n")


def readability_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade per document — the
    classic curation signal for separating prose from boilerplate/code
    dumps (extreme grades in either direction are a junk marker). The
    syllable counter is the deterministic vowel-run heuristic (count of
    maximal [aeiouy]+ runs per token, floored at 1): crude but standard,
    and exactly reproducible in any engine — the point is a stable
    corpus-level ranking signal, not linguistic truth. Sentences are
    terminator runs ([.!?]+), floored at 1 for any non-empty text.
    Documents with zero tokens are dropped (scores undefined). Output:
    (id, n_words, n_sentences, n_syllables, flesch, fk_grade), both
    scores rounded to 6 dp, ordered by id.

    Scale shape: pure map-side column expressions over each document's
    token array — no shuffle at all except the output ordering; exactly
    the token_stats/quality_score class.
    """
    toks = F.col("__toks")
    syl = F.aggregate(
        F.transform(
            toks,
            lambda t: F.greatest(
                F.lit(1), F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0))
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    words = F.size(toks).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)).cast(
            "long"
        ),
    )
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col),
        tokenize(F.col(text_col)).alias("__toks"),
    ).select(
        F.col("id"),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syl.alias("n_syllables"),
        (words.cast("double") / sents).alias("__wps"),
    ).where(F.col("n_words") > 0)
    return base.select(
        "id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * F.col("__wps") - F.lit(84.6) * spw,
            6,
        ).alias("flesch"),
        F.round(
            F.lit(0.39) * F.col("__wps") + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    ).orderBy("id")


def vocab_growth(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit over the corpus in document-id
    order: V(n) ~ k * n^beta, where n is cumulative token count and V
    cumulative distinct vocabulary. beta well below ~0.5 on web-scale
    text signals a template-flooded corpus (vocabulary saturating);
    beta near 1 signals id-like garbage tokens. The fit is OLS on
    (ln cum_tokens, ln cum_vocab) across the per-document checkpoint
    series. Output: ONE row (n_docs, total_tokens, vocab_size, heaps_k,
    heaps_beta), k/beta rounded to 6 dp.

    Scale shape: tokens collapse map-side to per-doc counts; first
    occurrences come from ONE (token-hash -> min doc) collapse, then a
    second |docs|-row collapse to per-doc new-token counts; the two
    cumulative series ride ONE shared prefix_sum (operators/sort.py —
    range-partitioned scan + broadcast offsets, never a single-task
    window over the |docs|-sized table); the OLS fit is a 1-row
    sufficient-statistics aggregate. Token identity travels as an
    8-byte md5 hash, never the string.
    """
    from hdp_tez_spark.extensions.dedup import _md5_long
    from hdp_tez_spark.operators.sort import prefix_sum

    base = _spread(
        df.select(
            F.col(id_col).alias("doc"), tokenize(F.col(text_col)).alias("__toks")
        )
    )
    per_doc = base.select("doc", F.size("__toks").alias("n_tok"))
    firsts = (
        base.select("doc", F.explode("__toks").alias("__t"))
        .select("doc", _md5_long(F.col("__t")).alias("__h"))
        .groupBy("__h")
        .agg(F.min("doc").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    cells = per_doc.join(firsts, "doc", "left").select(
        "doc",
        "n_tok",
        F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
    )
    cum = prefix_sum(
        cells,
        [F.col("doc").asc()],
        ["n_tok", "n_new"],
        ["cum_tokens", "cum_vocab"],
    ).where((F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0))
    x = F.log(F.col("cum_tokens").cast("double"))
    y = F.log(F.col("cum_vocab").cast("double"))
    stats = cum.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("cum_tokens").alias("total_tokens"),
        F.max("cum_vocab").alias("vocab_size"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    n = F.col("n_docs").cast("double")
    beta = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / (
        n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    return stats.select(
        "n_docs",
        "total_tokens",
        "vocab_size",
        F.round(F.exp((F.col("__sy") - beta * F.col("__sx")) / n), 6).alias(
            "heaps_k"
        ),
        F.round(beta, 6).alias("heaps_beta"),
    )


def good_turing(df: DataFrame, text_col: str) -> DataFrame:
    """Simple Good-Turing frequency-of-frequencies table (Good 1953;
    the unsmoothed r* estimates): for each observed token frequency r,
    N_r = how many distinct tokens occur exactly r times, and
    r* = (r+1)·N_{r+1}/N_r — the adjusted count a Good-Turing language
    model assigns to an r-count token. N_1/N (= p_mass at r = 1) is
    the classic estimate of the corpus' UNSEEN-token probability mass:
    the "how much vocabulary am I still missing" readout for corpus
    sizing, and a dedup diagnostic (near-dup-flooded corpora collapse
    the r = 1 band). Output: one row per observed r — (r, n_r, r_star,
    p_mass) where p_mass = r·N_r/N is the share of all tokens sitting
    in the r band; r_star is NULL when no r+1 class exists (the
    standard smoothing cutoff). Floats rounded to 6 dp; ordered by r.

    Scale shape: tokens collapse map-side to (token-hash → count) —
    the ONE corpus-sized shuffle, O(|vocab|) narrow 8-byte rows; the
    frequency-of-frequencies collapse is |vocab| → |distinct r| (a few
    hundred rows even at web scale, since Σ N_r·r = N bounds distinct
    r at O(√N)); the r ↔ r+1 pairing is a tiny self EQUI-join on r+1
    (never a global lead window); the N total rides a 1-row broadcast.
    Token identity travels as the 60-bit md5 hash, never the string
    (the vocab_growth convention — collisions fold identically in the
    oracle, which reproduces the same hash).
    """
    from hdp_tez_spark.extensions.dedup import _md5_long
    from hdp_tez_spark.plans.checkpoints import truncate_lineage

    toks = tokenize(F.col(text_col))
    freqs = (
        _spread(df.select(F.col(text_col)))
        .select(F.explode(toks).alias("__tok"))
        .select(_md5_long(F.col("__tok")).alias("__h"))
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__r"))
    )
    nr = freqs.groupBy("__r").agg(F.count(F.lit(1)).alias("n_r"))
    nr = truncate_lineage(nr)
    total = nr.agg(F.sum(F.col("__r") * F.col("n_r")).alias("__n"))
    nxt = nr.select(
        (F.col("__r") - 1).alias("__r"), F.col("n_r").alias("__nr1")
    )
    return (
        nr.join(nxt, "__r", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("__r").alias("r"),
            "n_r",
            F.round(
                (F.col("__r") + 1)
                * F.col("__nr1").cast("double")
                / F.col("n_r"),
                6,
            ).alias("r_star"),
            F.round(
                F.col("__r") * F.col("n_r") / F.col("__n").cast("double"),
                6,
            ).alias("p_mass"),
        )
        .orderBy("r")
    )


def keyness_llr(
    df: DataFrame,
    text_col: str,
    flag_col: str,
    k: int = 25,
) -> DataFrame:
    """Corpus-comparison keyness by Dunning's log-likelihood ratio
    (Dunning, Comp. Ling. 1993): which terms are most
    over/under-represented in the flagged sub-corpus vs the rest —
    the standard contamination / register-shift / template-detection
    screen when curating a training mix. Per term with count a in
    corpus A (flag = 1, total A tokens) and b in B (flag = 0, total
    B): expected e_a = A·(a+b)/(A+B), e_b = B·(a+b)/(A+B), and
    G² = 2·(a·ln(a/e_a) + b·ln(b/e_b)) with zero-count terms
    contributing 0 to their side. Output: top-k rows by (g2 DESC,
    term ASC) — (term, count_a, count_b, g2, direction) where
    direction is +1 when the term is over-represented in A (a/A ≥
    b/B) and -1 otherwise; g2 rounded to 6 dp, and the sort runs on
    the ROUNDED g2 so the top-k boundary is engine-stable (each g2 is
    a pure function of the integer pair (a, b), so ties order
    identically everywhere).

    Scale shape: tokens collapse map-side to (term, a, b) counts —
    the one corpus-sized shuffle (term strings must survive: they ARE
    the output, the tfidf_top_terms trade-off); totals ride a 1-row
    broadcast; the top-k is a single TakeOrdered, never a global
    sort.
    """
    from hdp_tez_spark.plans.checkpoints import truncate_lineage

    toks = tokenize(F.col(text_col))
    flag = F.col(flag_col).cast("int")
    counts = (
        _spread(df.select(F.col(text_col), flag.alias("__f")))
        .select(F.explode(toks).alias("term"), "__f")
        .groupBy("term")
        .agg(
            F.sum("__f").alias("count_a"),
            F.sum(1 - F.col("__f")).alias("count_b"),
        )
    )
    counts = truncate_lineage(counts)
    totals = counts.agg(
        F.sum("count_a").alias("__ta"), F.sum("count_b").alias("__tb")
    )
    a = F.col("count_a").cast("double")
    b = F.col("count_b").cast("double")
    ta = F.col("__ta").cast("double")
    tb = F.col("__tb").cast("double")
    ea = ta * (a + b) / (ta + tb)
    eb = tb * (a + b) / (ta + tb)
    g2 = 2 * (
        F.when(a > 0, a * F.log(a / ea)).otherwise(F.lit(0.0))
        + F.when(b > 0, b * F.log(b / eb)).otherwise(F.lit(0.0))
    )
    scored = counts.crossJoin(F.broadcast(totals)).select(
        "term",
        "count_a",
        "count_b",
        F.round(g2, 6).alias("g2"),
        F.when(a / ta >= b / tb, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("direction"),
    )
    return scored.orderBy(F.col("g2").desc(), F.col("term").asc()).limit(k)


def tokenizer_fertility(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Tokenizer fertility per group (typically language): how many
    BPE-ish segments the tokenizer spends per word, and how many
    characters each segment carries — the corpus-level forecaster of
    training-token cost per language/source (high fertility = the
    tokenizer fragments this slice; chars/segment near 1 = byte-level
    fallback territory). Per group over all documents: words = the
    corpus-wide lower/[^a-z0-9]+ tokens, segments = BPE_ISH_REGEX
    matches (the token_stats conventions); fertility =
    segments/words, chars_per_segment = chars/segments. Output per
    group: (group, n_docs, n_words, n_segments, n_chars, fertility,
    chars_per_segment) rounded to 6 dp, ordered by group; ratios NULL
    on a zero denominator. NULL group labels are excluded.

    Scale shape: counting is pure per-row column expressions (size of
    split/extract arrays — bodies never explode into token rows); ONE
    map-side-combined |groups|-row collapse. Integer sums until the
    final ratios.
    """
    toks = tokenize(F.col(text_col))
    segs = F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_REGEX), 0)
    per_row = _spread(
        df.where(F.col(group_col).isNotNull()).select(
            F.col(group_col).alias("__g"), F.col(text_col)
        )
    ).select(
        "__g",
        F.size(toks).alias("__w"),
        F.size(segs).alias("__s"),
        F.length(F.col(text_col)).alias("__c"),
    )
    red = per_row.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w").alias("n_words"),
        F.sum("__s").alias("n_segments"),
        F.sum("__c").alias("n_chars"),
    )
    w, sg, ch = F.col("n_words"), F.col("n_segments"), F.col("n_chars")
    return red.select(
        F.col("__g").alias("group"),
        "n_docs",
        "n_words",
        "n_segments",
        "n_chars",
        F.round(F.when(w > 0, sg / w.cast("double")), 6).alias("fertility"),
        F.round(
            F.when(sg > 0, ch / sg.cast("double")), 6
        ).alias("chars_per_segment"),
    ).orderBy("group")
