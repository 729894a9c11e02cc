"""Semantic tests for corpus-hygiene operators (operators/decontam.py):
planted contamination, cross-corpus dedup, boilerplate flagging."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import decontam as dc


def test_word_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([("a b c",), ("",)], "text string")
    out = df.select(dc.word_ngrams(F.split("text", " "), 4).alias("g")).collect()
    assert all(r.g == [] for r in out)


def test_word_ngrams_exact(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    (row,) = df.select(dc.word_ngrams(F.split("text", " "), 2).alias("g")).collect()
    assert row.g == ["a b", "b c", "c d"]


def test_segment_tokens_trailing_partial(spark):
    df = spark.createDataFrame([("a b c d e",)], "text string")
    (row,) = df.select(dc.segment_tokens(F.split("text", " "), 2).alias("s")).collect()
    assert row.s == ["a b", "c d", "e"]


def test_decontaminate_planted_overlap(spark, monkeypatch):
    monkeypatch.setattr(dc, "_NGRAM_N", 3)
    # train doc 1 contains the held-out 3-gram "x y z"; doc 2 does not
    train = spark.createDataFrame(
        [(1, "p q x y z r"), (2, "a b c d e f")], "doc_id long, text string"
    )
    heldout = spark.createDataFrame([(99, "m x y z n")], "doc_id long, text string")
    rows = {r.doc_id: r for r in dc.decontaminate(train, heldout).collect()}
    assert rows[1].n_hits == 1 and rows[1].contaminated == 1
    assert rows[2].n_hits == 0 and rows[2].contaminated == 0


def test_dedup_against_corpus(spark):
    existing = spark.createDataFrame([(1, "already here")], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [
            (10, "already here"),       # dup of existing -> dropped
            (11, "brand new words"),    # fresh
            (12, "brand new words"),    # within-batch dup -> keep min id 11
        ],
        "doc_id long, text string",
    )
    out = dc.dedup_against_corpus(incoming, existing).collect()
    assert [r.doc_id for r in out] == [11]


def test_boilerplate_segments_flags_common_segment(spark, monkeypatch):
    monkeypatch.setattr(dc, "_SEG_LEN", 2)
    # the 2-token segment "x y" appears in 3 docs -> boilerplate at _BOILER_MIN_DOCS=3
    docs = spark.createDataFrame(
        [(1, "x y a b"), (2, "x y c d"), (3, "x y e f"), (4, "g h i")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in dc.boilerplate_segments(docs).collect()
    }
    for d in (1, 2, 3):
        assert rows[d].n_segments == 2
        assert rows[d].n_boilerplate == 1
        assert rows[d].tokens_kept == 2
    assert rows[4].n_segments == 2  # "g h" + trailing "i"
    assert rows[4].n_boilerplate == 0
    assert rows[4].tokens_kept == 3


def _mk_tables(spark, tmp_path):
    import os

    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

    corpus = ParquetMergeTable(
        spark, os.path.join(str(tmp_path), "corpus"), "doc_id", num_buckets=4
    )
    index = ParquetMergeTable(
        spark, os.path.join(str(tmp_path), "index"), "fingerprint", num_buckets=4
    )
    return corpus, index


def test_cdc_dedup_index_tracks_inserts_deletes_and_fp_reuse(spark, tmp_path):
    """The index must follow the corpus feed exactly: inserts add
    fingerprints, deletes retire them, and a delete + same-fingerprint
    re-insert inside ONE version window nets to a single live row
    (not a conflicting delete+upsert pair)."""
    from htmlentityextraction_spark.operators.dedup import normalized_fingerprint

    corpus, index = _mk_tables(spark, tmp_path)
    docs = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "gamma text")],
        "doc_id long, text string",
    ).select("doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint"))
    corpus.create(docs)  # v1
    index.create(corpus.read().select("fingerprint", "doc_id"))
    assert index.read().count() == 3

    # one version window: delete doc 2, re-insert its text as doc 9,
    # and insert a brand-new doc 4
    fp2 = docs.filter("doc_id = 2").first().fingerprint
    fp_new = normalized_fingerprint(F.lit("delta text"))
    batch = spark.createDataFrame(
        [(2, None, "delete")], "doc_id long, fingerprint string, op string"
    ).unionByName(
        spark.createDataFrame([(9,), (4,)], "doc_id long").select(
            "doc_id",
            F.when(F.col("doc_id") == 9, F.lit(fp2)).otherwise(fp_new).alias(
                "fingerprint"
            ),
            F.lit("upsert").alias("op"),
        )
    )
    corpus.merge(batch)  # v2
    dc.advance_dedup_index(index, corpus, 1)
    got = {r.fingerprint: r.doc_id for r in index.read().collect()}
    assert got[fp2] == 9, "same-fp delete+reinsert must net to the new doc"
    assert len(got) == 4  # alpha, beta(now doc 9), gamma, delta

    # pure delete window: retire doc 3's fingerprint
    corpus.merge(
        spark.createDataFrame(
            [(3, None, "delete")], "doc_id long, fingerprint string, op string"
        )
    )  # v3
    dc.advance_dedup_index(index, corpus, 2)
    fps_live = {r.fingerprint for r in index.read().collect()}
    fp3 = docs.filter("doc_id = 3").first().fingerprint
    assert fp3 not in fps_live and len(fps_live) == 3


def test_batch_probe_accepts_retired_fingerprints_and_dedups_in_batch(
    spark, tmp_path
):
    corpus, index = _mk_tables(spark, tmp_path)
    from htmlentityextraction_spark.operators.dedup import normalized_fingerprint

    seed = spark.createDataFrame(
        [(1, "alpha words"), (2, "beta words")], "doc_id long, text string"
    ).select("doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint"))
    corpus.create(seed)
    index.create(corpus.read().select("fingerprint", "doc_id"))

    batch = spark.createDataFrame(
        [
            (10, "alpha words"),    # dup of live corpus doc -> rejected
            (11, "fresh words"),    # fresh -> accepted
            (12, "fresh words"),    # in-batch dup -> keep-min (11 wins)
            (13, None),             # NULL text -> excluded
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in dc.dedup_batch_against_index(batch, index).collect()}
    assert got == {11}

    # delete doc 1 from the corpus, advance the index: its fingerprint
    # is retired, so a later batch doc with the same text is ACCEPTED
    corpus.merge(
        spark.createDataFrame(
            [(1, None, "delete")], "doc_id long, fingerprint string, op string"
        )
    )
    dc.advance_dedup_index(index, corpus, 1)
    again = spark.createDataFrame([(20, "alpha words")], "doc_id long, text string")
    got = {r.doc_id for r in dc.dedup_batch_against_index(again, index).collect()}
    assert got == {20}, "retired fingerprint must be accept-able again"


def test_advance_dedup_index_rejects_unprobed_duplicate_batch(spark, tmp_path):
    """A caller who merges a duplicate-carrying batch straight into the
    corpus (bypassing dedup_batch_against_index) must get a loud error
    from the index advance, not a silently wrong index."""
    from htmlentityextraction_spark.operators.dedup import normalized_fingerprint

    # (a) intra-window: the batch itself carries two docs with one fp
    corpus, index = _mk_tables(spark, tmp_path / "intra")
    seed = spark.createDataFrame(
        [(1, "alpha words")], "doc_id long, text string"
    ).select("doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint"))
    corpus.create(seed)
    index.create(corpus.read().select("fingerprint", "doc_id"))
    dup_batch = spark.createDataFrame(
        [(10, "same text"), (11, "same text")], "doc_id long, text string"
    ).select(
        "doc_id",
        normalized_fingerprint(F.col("text")).alias("fingerprint"),
        F.lit("upsert").alias("op"),
    )
    corpus.merge(dup_batch)  # v2: unprobed, carries a duplicate
    with pytest.raises(ValueError, match="more than one live doc"):
        dc.advance_dedup_index(index, corpus, 1)
    assert index.read().count() == 1, "failed advance must not touch the index"

    # (b) cross-window: the batch duplicates a doc that is ALREADY live
    corpus2, index2 = _mk_tables(spark, tmp_path / "cross")
    corpus2.create(seed)
    index2.create(corpus2.read().select("fingerprint", "doc_id"))
    echo = spark.createDataFrame(
        [(30, "alpha words")], "doc_id long, text string"
    ).select(
        "doc_id",
        normalized_fingerprint(F.col("text")).alias("fingerprint"),
        F.lit("upsert").alias("op"),
    )
    corpus2.merge(echo)  # v2: duplicates live doc 1, nothing retired it
    with pytest.raises(ValueError, match="already maps"):
        dc.advance_dedup_index(index2, corpus2, 1)
    got = {r.fingerprint: r.doc_id for r in index2.read().collect()}
    assert list(got.values()) == [1], "failed advance must not touch the index"


def test_advance_dedup_index_random_histories_track_ground_truth(spark, tmp_path):
    """Property: over RANDOM invariant-respecting merge histories
    (inserts of fresh fingerprints, deletes, fingerprint-changing
    updates, delete + same-fp reinsert inside one batch), advancing
    the index — sometimes per version, sometimes across a multi-
    version window — always lands it exactly on the live
    fingerprint → doc map."""
    import random

    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

    rng = random.Random(909)
    fp_pool = [f"fp{i}" for i in range(10)]
    for case in range(3):
        live: dict[int, str] = {}  # doc_id -> fp (ground truth)
        next_doc = 100
        seed_rows = []
        for fp in rng.sample(fp_pool, 5):
            live[next_doc] = fp
            seed_rows.append((next_doc, fp))
            next_doc += 1
        corpus = ParquetMergeTable(
            spark, str(tmp_path / f"c{case}"), "doc_id", num_buckets=4
        )
        corpus.create(
            spark.createDataFrame(seed_rows, "doc_id long, fingerprint string")
        )
        index = ParquetMergeTable(
            spark, str(tmp_path / f"i{case}"), "fingerprint", num_buckets=4
        )
        index.create(corpus.read().select("fingerprint", "doc_id"))
        synced = 1

        for _ in range(4):
            batch: list[tuple] = []
            batch_docs: set[int] = set()  # one op per key per MERGE batch
            used = set(live.values())
            for _ in range(rng.randint(1, 3)):
                choice = rng.random()
                touchable = [d for d in sorted(live) if d not in batch_docs]
                if choice < 0.4 and len(used) < len(fp_pool):
                    fp = rng.choice([f for f in fp_pool if f not in used])
                    batch.append((next_doc, fp, "upsert"))
                    batch_docs.add(next_doc)
                    live[next_doc] = fp
                    used.add(fp)
                    next_doc += 1
                elif choice < 0.7 and touchable:
                    doc = rng.choice(touchable)
                    fp = live.pop(doc)
                    used.discard(fp)
                    batch.append((doc, None, "delete"))
                    batch_docs.add(doc)
                    if rng.random() < 0.5:  # same-fp reinsert, same batch
                        batch.append((next_doc, fp, "upsert"))
                        batch_docs.add(next_doc)
                        live[next_doc] = fp
                        used.add(fp)
                        next_doc += 1
                elif touchable and len(used) < len(fp_pool):
                    doc = rng.choice(touchable)  # fp-changing update
                    used.discard(live[doc])
                    fp = rng.choice([f for f in fp_pool if f not in used])
                    batch.append((doc, fp, "upsert"))
                    batch_docs.add(doc)
                    live[doc] = fp
                    used.add(fp)
            if not batch:
                continue
            corpus.merge(
                spark.createDataFrame(
                    batch, "doc_id long, fingerprint string, op string"
                )
            )
            # half the time, let versions pile up before advancing —
            # the multi-version endpoint netting path
            if rng.random() < 0.5:
                dc.advance_dedup_index(index, corpus, synced)
                synced = corpus._read_manifest()["version"]
                got = {r.fingerprint: r.doc_id for r in index.read().collect()}
                want = {fp: doc for doc, fp in live.items()}
                assert got == want, f"case {case} diverged at v{synced}"
        dc.advance_dedup_index(index, corpus, synced)  # catch up the tail
        got = {r.fingerprint: r.doc_id for r in index.read().collect()}
        want = {fp: doc for doc, fp in live.items()}
        assert got == want, f"case {case} final state diverged"
