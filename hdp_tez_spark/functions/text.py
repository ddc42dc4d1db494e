"""Text / tokenization functions (WordCount family) and the scalar-function
surface.

Reference parity: `TokenProcessor` splits lines into (word, 1) pairs
(`tez-examples/.../WordCount.java:73-111`); `OrderedWordCount` adds a sorted
funnel vertex (`tez-examples/.../OrderedWordCount.java:163-165`). Tez has no
scalar expression language at all (SURVEY §2.8) — clients like Hive supply
it; here the whole `pyspark.sql.functions` namespace is the engine surface
and everything stays JVM-side / codegen'd.

This module is the single owner of the corpus text format that the
DuckDB oracle SQL reproduces: `TOKEN_SPLIT_REGEX`, `tokenize`, the word
n-grams of `word_ngrams` and their space-joined form `ngram_text`. Every
text, dedup, curation and ranking operator builds on these; none keeps
its own copy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Split on any non-alphanumeric run. POSIX-safe: identical semantics in
# Spark (Java regex) and DuckDB (RE2) for this pattern.
TOKEN_SPLIT_REGEX = "[^a-z0-9]+"


def tokenize(col: Column) -> Column:
    """lowercase -> split -> drop empty tokens. Returns array<string>.

    Project the result to a column before referencing it more than once,
    and never call this inside a higher-order-function lambda: Catalyst
    does no common-subexpression elimination across lambda bodies and
    only partial CSE within one projection, so an inlined tokenizer
    re-runs its regex split per reference or per element (measured r11:
    2-10x on the corpus operators). `tools/plan_lint.py` flags both
    shapes in every registry plan.
    """
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_REGEX), lambda t: t != F.lit("")
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Stride-1 word n-grams of a token array in position order, as
    array<struct<w1, ..., wn>> (field wj is the gram's j-th token); empty
    when the array has fewer than n tokens.

    Built by zipping n shifted slices, with no per-position lambda:
    `transform` bodies are interpreted (CodegenFallback), and the zip
    measured 1.6-3.8x less executor CPU than a `transform(sequence(...))`
    gram loop (n = 2, 3, 20 over cached sf0.1 token arrays, 4 cores).
    `toks` must be a projected column (see `tokenize`): the expression
    references it n + 1 times.
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(toks, j, m).alias(f"w{j}") for j in range(1, n + 1)])


def ngram_text(gram: Column, n: int) -> Column:
    """A `word_ngrams` element as its space-joined string."""
    return F.concat_ws(" ", *[gram[f"w{j}"] for j in range(1, n + 1)])


def explode_tokens(df: DataFrame, text_col: str, out: str = "word") -> DataFrame:
    """line -> one row per token (TokenProcessor parity).

    Deliberately NOT pre-spread: tokenize is a cheap map and every
    consumer aggregates the tokens, so map-side partial aggregation
    already collapses the output before the exchange — pre-shuffling the
    full text bodies costs more than the single-split map it avoids
    (measured 2x at sf0.1). The expression-heavy maps (shingling,
    minhash/simhash signatures) keep their `spread`; this one earns its
    parallelism from the input's own splits."""
    return df.select(text_col).select(
        F.explode(tokenize(F.col(text_col))).alias(out)
    )


def word_count(df: DataFrame, text_col: str) -> DataFrame:
    """WordCount: (word, count). Partial agg is automatic (combiner parity,
    `runtime/library/common/combine/Combiner.java:39-41`)."""
    return explode_tokens(df, text_col).groupBy("word").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def ngram_counts(
    df: DataFrame, text_col: str, n: int = 2, min_count: int = 1
) -> DataFrame:
    """Word-n-gram frequency table — the language-model count pass
    (bigram/trigram tables) over a corpus. Output: (ngram, cnt), tokens
    joined with single spaces.

    The n-gram array is a pure map-side expression (`word_ngrams` over
    the token array — no second explode pass over text), so the
    only shuffle is the partially-aggregated count: volume ∝ |distinct
    n-grams|, with heavy n-grams collapsed map-side exactly like
    word_count. Documents shorter than n tokens contribute nothing.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    return (
        df.select(tokenize(F.col(text_col)).alias("__toks"))
        .select(F.explode(word_ngrams(F.col("__toks"), n)).alias("__g"))
        .select(ngram_text(F.col("__g"), n).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )


def ordered_word_count(df: DataFrame, text_col: str, limit: int | None = None) -> DataFrame:
    """OrderedWordCount: counts ordered desc, word asc tiebreak. Unlike the
    reference's parallelism-1 sorter vertex, this compiles to a range
    shuffle (or TakeOrderedAndProject when limited) — no single-task funnel.
    """
    out = word_count(df, text_col).orderBy(F.col("cnt").desc(), F.col("word").asc())
    return out.limit(limit) if limit else out


def register_split_words_udtf(spark, name: str = "split_words"):
    """Register a native Python UDTF (Spark 4 `@udtf`) that explodes a
    string into (word, wlen) rows — the 1→N table-function surface
    (LogicalIOProcessor writing multiple records per input, SURVEY
    §2.10), exposed to SQL as a LATERAL-joinable function.

    This is deliberately the API-parity path, NOT the recommended plan
    for tokenization at scale: eval() runs row-at-a-time in Python,
    while `explode(split(...))` (word_count above) stays in codegen'd
    JVM expressions. Use a UDTF only when the 1→N logic genuinely needs
    Python (external parsers, stateful emitters).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, wlen: int")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split():
                yield w, len(w)

    spark.udtf.register(name, SplitWords)
    return name
