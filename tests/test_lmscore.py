"""Unigram LM scoring: probability math, OOV handling, vocab cut."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import lmscore


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_scores_match_closed_form(spark):
    # corpus: "a a b" -> counts {a:2, b:1}, N=3, V cap high (no OOV)
    docs = _docs(spark, [(1, "a a b")])
    out = lmscore.score_documents(docs).collect()
    denom = 3 + 0.5 * (lmscore.VOCAB_SIZE + 1)
    lp_a = math.log(2.5 / denom)
    lp_b = math.log(1.5 / denom)
    want = round((2 * lp_a + lp_b) / 3 + 1e-9, 6)
    assert out[0]["n_tokens"] == 3
    assert out[0]["avg_logprob"] == want


def test_vocab_cut_sends_tail_tokens_to_oov(spark, monkeypatch):
    # V=1 keeps only the most frequent token; the other goes OOV.
    monkeypatch.setattr(lmscore, "VOCAB_SIZE", 1)
    docs = _docs(spark, [(1, "a a b")])
    toks = lmscore.corpus_tokens(docs)
    vocab, oov_lp = lmscore.unigram_vocab(toks)
    rows = vocab.collect()
    assert [r["tok"] for r in rows] == ["a"]
    denom = 3 + 0.5 * 2
    assert abs(rows[0]["logprob"] - math.log(2.5 / denom)) < 1e-12
    assert abs(oov_lp - math.log(0.5 / denom)) < 1e-12


def test_vocab_cut_tie_break_is_deterministic(spark, monkeypatch):
    # equal counts at the boundary -> lexicographic token order decides
    monkeypatch.setattr(lmscore, "VOCAB_SIZE", 1)
    docs = _docs(spark, [(1, "b a"), (2, "b a")])
    toks = lmscore.corpus_tokens(docs)
    vocab, _ = lmscore.unigram_vocab(toks)
    assert [r["tok"] for r in vocab.collect()] == ["a"]


def test_common_docs_outscore_noise(spark):
    common = "the quick brown fox jumps over the lazy dog"
    docs = _docs(
        spark,
        [(i, common) for i in range(5)] + [(99, "zyx wvu tsr qpo nml")],
    )
    out = {r["doc_id"]: r["avg_logprob"] for r in
           lmscore.score_documents(docs).collect()}
    assert all(out[i] > out[99] for i in range(5))


def test_empty_and_nonletter_docs_drop_out(spark):
    docs = _docs(spark, [(1, "hello world"), (2, ""), (3, "12345 !!!")])
    out = lmscore.score_documents(docs)
    assert [r["doc_id"] for r in out.orderBy("doc_id").collect()] == [1]
