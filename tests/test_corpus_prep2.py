"""Segment keep-first dedup and per-group cap sampling."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import decontam as dc
from htmlentityextraction_spark.operators import llmprep as lp


def test_segment_dedup_drops_later_repeats(spark, monkeypatch):
    monkeypatch.setattr(dc, "_SEG_LEN", 2)
    # _SEG_LEN=2: doc1 = [a b][c d], doc2 = [a b][x y] -> doc2 loses "a b"
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dc.segment_dedup_keep_first(docs).collect()}
    assert (out[1]["n_segments"], out[1]["n_kept"]) == (2, 2)
    assert (out[2]["n_segments"], out[2]["n_kept"]) == (2, 1)
    assert out[1]["dedup_fp"] == hashlib.md5(b"a b c d").hexdigest()
    assert out[2]["dedup_fp"] == hashlib.md5(b"x y").hexdigest()


def test_segment_dedup_first_occurrence_is_positional(spark, monkeypatch):
    monkeypatch.setattr(dc, "_SEG_LEN", 2)
    # Within one doc the first occurrence (lower pos) survives.
    docs = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    out = dc.segment_dedup_keep_first(docs).collect()[0]
    assert (out["n_segments"], out["n_kept"]) == (2, 1)
    assert out["dedup_fp"] == hashlib.md5(b"a b").hexdigest()


def test_segment_dedup_all_dropped_doc_gets_empty_fp(spark, monkeypatch):
    monkeypatch.setattr(dc, "_SEG_LEN", 2)
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dc.segment_dedup_keep_first(docs).collect()}
    assert out[2]["n_kept"] == 0
    assert out[2]["dedup_fp"] == hashlib.md5(b"").hexdigest()


def test_cap_per_group_keeps_k_deterministically(spark):
    rows = [(i, "g%d" % (i % 2)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    a = lp.cap_per_group(df, ["grp"], k=3)
    assert a.count() == 6
    assert a.groupBy("grp").count().filter("count != 3").count() == 0
    assert a.filter(F.col("sample_rank") > 3).count() == 0
    # reruns pick the identical sample (hash order, not RNG)
    b = lp.cap_per_group(df, ["grp"], k=3)
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in b.collect()
    )


def test_cap_per_group_small_groups_survive_whole(spark):
    df = spark.createDataFrame([(1, "g"), (2, "g")], "doc_id long, grp string")
    assert lp.cap_per_group(df, ["grp"], k=5).count() == 2
