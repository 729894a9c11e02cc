"""Corpus-level unigram language-model scoring.

Production LLM-data pipelines gate documents on LM perplexity (a
KenLM-style n-gram model scored per doc); the engine-side shape of
that filter is exactly this module: build a token->log-probability
table from the corpus, broadcast it, and score every document as the
mean token log-prob. The container has no KenLM, so the model is a
smoothed UNIGRAM LM — the Spark plumbing (global token count, top-V
vocabulary cut, broadcast score join, per-doc aggregate) is identical
for any higher-order model whose table fits a broadcast.

Scale shape: one token-explode shuffle for counts (map-side combined),
a distributed top-V cut (TakeOrderedAndProject — never a single-
partition window), then the vocab table (V rows, V<=~1e6) broadcasts
to score the corpus without another shuffle; the per-doc aggregate
shuffles doc ids once. Two driver-side scalars (total token count,
vocab normalizer) mirror the A9 percentile-cut pattern from the
reference (`analytics/ProdMetricsV5.scala` percentile pull).

No reference equivalent — LLM-training-data extension (SURVEY.md §6).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.text import tokenize

# the unigram model's vocabulary cut V (its DuckDB oracle reads it) and
# add-alpha smoothing
VOCAB_SIZE = 5000
ALPHA = 0.5

def corpus_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) rows: lowercase letter-token stream of ``text``,
    empty tokens dropped (empty docs contribute nothing)."""
    return (
        docs.select(
            "doc_id",
            F.explode(tokenize(F.lower(F.col("text")))).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )


def unigram_vocab(tokens: DataFrame) -> tuple[DataFrame, float]:
    """Top-``VOCAB_SIZE`` tokens by corpus frequency with add-``ALPHA``
    log-probabilities; returns (vocab_df, oov_logprob).

    The cut is ``orderBy(count desc, tok).limit(V)`` — a distributed
    top-K (each partition keeps V, the driver merges), deterministic
    via the token tie-break. OOV mass is one shared bucket:
    ``alpha / (N + alpha * (V + 1))``.
    """
    vocab_size, alpha = VOCAB_SIZE, ALPHA
    counts = tokens.groupBy("tok").agg(F.count("*").alias("c"))
    n_total = counts.agg(F.sum("c")).collect()[0][0] or 0
    vocab = counts.orderBy(F.col("c").desc(), "tok").limit(vocab_size)
    denom = float(n_total) + alpha * (vocab_size + 1)
    vocab = vocab.select(
        "tok", F.log((F.col("c") + F.lit(alpha)) / F.lit(denom)).alias("logprob")
    )
    return vocab, math.log(alpha / denom)


def score_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob): mean unigram log-prob per
    document — the perplexity-gate signal (higher = more typical of
    the corpus; boilerplate scores high, lorem-ipsum noise low)."""
    toks = corpus_tokens(docs)
    vocab, oov_lp = unigram_vocab(toks)
    scored = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", F.coalesce("logprob", F.lit(oov_lp)).alias("lp")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("lp") + F.lit(1e-9), 6).alias("avg_logprob"),
    )


def bigram_doc_scores(docs: DataFrame) -> DataFrame:
    """Bigram LM scoring — the order-2 step from the unigram model
    toward KenLM-style perplexity gating. Per doc: mean
    ln P(w2|w1) over its adjacent token pairs, with add-alpha
    smoothing (a = 0.5) conditioned on context counts
    (P = (c12 + a) / (c1 + a(V+1))).

    Shape: bigrams explode narrowly from the token arrays (no window
    shuffle — adjacency comes from the array, not a sort); the
    bigram-count table joins back on (w1, w2) — one shuffle each for
    the two count tables and the score join; the per-doc aggregate
    shuffles doc ids once. The conditional table can exceed broadcast
    size at corpus scale, so the join stays a shuffle join on
    purpose. Docs with fewer than two tokens have no bigrams and are
    excluded (mirrored by the oracle)."""
    ft = F.filter(tokenize(F.lower(F.col("text"))), lambda t: t != "")
    base = docs.select("doc_id", ft.alias("ft")).filter(F.size("ft") >= 2)
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ft)-1),"
                " i -> struct(element_at(ft, i) as w1, element_at(ft, i+1) as w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").cast("double").alias("c1"))
    toks = docs.select(F.explode(ft).alias("tok"))
    v = toks.agg(F.countDistinct("tok").cast("double").alias("v"))
    a = F.lit(0.5)
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log((F.col("c12") + a) / (F.col("c1") + a * (F.col("v") + 1))).alias("l"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("l") + 1e-9, 6).alias("avg_logprob"),
    )
