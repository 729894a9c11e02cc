"""Text-analysis operators for the training-data pipeline: language
ID, quality scoring, token counting, document fingerprinting. All
columnar expressions (SQL-oracle-able); the reference's nlp package
(`nlp/ESSearchBestCand.scala`) did its text work row-at-a-time in
Scala closures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.text import (
    WS_CHARS,
    WS_CLASS,
    text_only,
    tokenize,
)

# rolling_fingerprint's char-gram width; the bigram count under which
# pmi_bigram_collocations drops a pair
_FP_WINDOW = 8
_PMI_MIN_COUNT = 5

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "de", "que", "los"),
    "zh": ("de", "shi", "le", "zai", "he"),
}


def lang_score(tokens: Column, words: tuple[str, ...]) -> Column:
    """Stopword-hit count for one language profile."""
    return F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in words])))


def language_id(text: Column) -> Column:
    """argmax language over stopword-hit scores, 'und' (undetermined)
    when nothing matches. Deterministic tie-break: profile order."""
    toks = F.array_distinct(tokenize(F.lower(text)))
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # strict > keeps the first profile on ties → earlier entries in
    # LANG_PROFILES (en first) win equal scores
    for lang, words in LANG_PROFILES.items():
        s = lang_score(toks, words)
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword / word-shape quality signals
    (the heuristics LLM-data pipelines gate on)."""
    toks = tokenize(text)
    n_tokens = F.size(toks).cast("double")
    n_chars = F.length(text).cast("double")
    n_alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"]", "")).cast("double")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
        )
    ).cast("double")
    avg_token_len = F.when(n_tokens > 0, n_alpha / n_tokens).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_hits": stop_hits,
        "avg_token_len": avg_token_len,
    }


def quality_score(text: Column) -> Column:
    """Composite 0-1 quality score: penalize too-short docs, weird
    punctuation density, missing stopwords, degenerate token shapes."""
    f = quality_features(text)
    len_ok = F.least(f["n_tokens"] / 20.0, F.lit(1.0))
    punct_ok = F.greatest(F.lit(1.0) - f["punct_ratio"] * 10.0, F.lit(0.0))
    stop_ok = F.least(f["stopword_hits"] / 3.0, F.lit(1.0))
    shape_ok = F.when((f["avg_token_len"] >= 2.0) & (f["avg_token_len"] <= 12.0), 1.0).otherwise(
        0.3
    )
    score = F.round((len_ok * 0.3 + punct_ok * 0.2 + stop_ok * 0.3 + shape_ok * 0.2) + 1e-9, 6)
    # null text must NOT score as passable quality (some terms null out
    # and the rest sum to ~0.86) — propagate the null
    return F.when(text.isNull(), F.lit(None).cast("double")).otherwise(score)


def token_count_whitespace(text: Column) -> Column:
    """Whitespace tokenization count. WS_CLASS, not \\s: Java's \\s
    includes vertical tab, RE2's does not — the oracle must split on
    the identical set (textuni-fuzz aligned)."""
    return F.size(F.split(F.trim(text), WS_CLASS + "+")).cast("long")


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish proxy: word pieces + punctuation as separate tokens
    (regex `\\w+|[^\\w<ws>]`), the standard pre-tokenizer shape.
    Explicit whitespace chars instead of \\s: RE2's \\s excludes
    vertical tab, so DuckDB would emit a VT as a punctuation token
    Java never sees (textuni-fuzz aligned)."""
    pieces = F.regexp_extract_all(text, F.lit(rf"(\w+|[^\w{WS_CHARS}])"), 1)
    return F.size(pieces).cast("long")


def rolling_fingerprint(text: Column) -> Column:
    """Winnowing-style document fingerprint: min hash (md5 hex —
    available in both Spark and DuckDB) over all char 8-gram windows
    of the normalized text. Robust to local edits, unlike whole-doc
    md5."""
    window = _FP_WINDOW
    norm = F.lower(F.trim(text_only(text)))
    length = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(length - F.lit(window - 1), F.lit(1)))
    grams = F.when(
        length >= window, F.transform(idx, lambda i: norm.substr(i, F.lit(window)))
    ).otherwise(F.array(norm))
    return F.array_min(F.transform(grams, lambda g: F.md5(g)))


def pmi_bigram_collocations(
    docs: DataFrame,
    tokens_col: str,
) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs —
    collocation mining ("new york", "machine learning") over a corpus.

    PMI(w1,w2) = ln( c(w1,w2) · N / (c_left(w1) · c_right(w2)) ) with
    N = total bigram occurrences and the left/right marginals taken
    over bigram positions, the standard collocation estimator
    (Church & Hanks 1990). ``_PMI_MIN_COUNT`` suppresses the low-frequency
    PMI explosion.

    Scale shape: bigrams come from zipping each token array with its
    tail (narrow, no window sort), then three vocabulary-sized
    groupBys joined back — shuffles proportional to the *vocabulary*,
    not the corpus; the total N is a one-row aggregate joined via
    broadcast cross join.
    """
    n_pairs = F.greatest(F.size(F.col(tokens_col)) - 1, F.lit(0))
    bg = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col(tokens_col), 1, n_pairs).alias("w1"),
                F.slice(F.col(tokens_col), 2, n_pairs).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    n = bg.agg(F.count(F.lit(1)).alias("nb"))
    return (
        c12.where(F.col("c12") >= _PMI_MIN_COUNT)
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "pmi", F.log(F.col("c12") * F.col("nb") / (F.col("c1") * F.col("c2")))
        )
        .select("w1", "w2", "c12", "pmi")
    )
