"""O(delta) access contracts for the merge-table/CDC family
(VERDICT r8 item 1): the "a trickle merge costs a handful of bucket
reads" claims in `operators/decontam.py` and
`operators/incremental.py` as MEASURED file-open counts via the
manifest, not docstrings. `DataFrame.inputFiles()` lists
the parquet files a plan's scan legs resolve to, so the contracts
below are exact: a small-batch index probe and a single-key CDC diff
must each open a sliver of the table's files, never O(table)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import decontam as dc
from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

N_BUCKETS = 64
N_FPS = 2000


def _fp(i: int) -> str:
    return hashlib.md5(f"doc-{i}".encode()).hexdigest()


def _mk_index(spark, path):
    idx = ParquetMergeTable(spark, path, "fingerprint", num_buckets=N_BUCKETS)
    idx.create(
        spark.createDataFrame(
            [(_fp(i), i) for i in range(N_FPS)], "fingerprint string, doc_id long"
        )
    )
    return idx


def test_small_batch_probe_opens_few_index_files(spark, tmp_path):
    idx = _mk_index(spark, str(tmp_path / "idx"))
    total_files = len(idx.read().inputFiles())
    assert total_files >= N_BUCKETS  # every bucket populated

    batch = spark.createDataFrame(
        [(10_000, "some fresh text"), (10_001, "other fresh text"),
         (5, None)],  # NULL text excluded by the probe
        "doc_id long, text string",
    )
    from htmlentityextraction_spark.operators.dedup import normalized_fingerprint

    fps = batch.select(
        "doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint")
    ).filter(F.col("fingerprint").isNotNull())
    bks = idx.affected_buckets(fps)
    assert len(bks) <= 2, "2 fingerprints must land in <= 2 buckets"

    pruned = idx.read_buckets(bks)
    opened = len(pruned.inputFiles())
    assert opened <= (total_files / N_BUCKETS) * len(bks) + 1, (
        f"probe opened {opened} of {total_files} files for {len(bks)} buckets"
    )
    assert opened < total_files / 8, "probe must read a sliver, not the index"

    # and the probe is CORRECT, not just cheap: same verdicts as an
    # unpruned anti-join against the full index
    accepted = {r.doc_id for r in dc.dedup_batch_against_index(batch, idx).collect()}
    full = idx.read().select("fingerprint")
    want = {
        r.doc_id
        for r in fps.join(full, "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }
    assert accepted == want == {10_000, 10_001}


def test_trickle_cdc_diff_opens_only_changed_bucket_files(spark, tmp_path):
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"), "k", num_buckets=N_BUCKETS)
    tbl.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(N_FPS)], "k long, price double"
        )
    )
    total_files = len(tbl.read().inputFiles())
    assert total_files >= N_BUCKETS

    tbl.merge(
        spark.createDataFrame(
            [(7, 77.0, "upsert")], "k long, price double, op string"
        )
    )  # v2: exactly one key -> one rewritten bucket

    m1, m2 = tbl._manifest_for(1)["buckets"], tbl._manifest_for(2)["buckets"]
    changed = [b for b in set(m1) | set(m2) if m1.get(b) != m2.get(b)]
    assert len(changed) == 1, "single-key merge must rewrite exactly one bucket"

    ch = tbl.table_changes(1, 2)
    opened = len(ch.inputFiles())
    per_bucket = total_files / N_BUCKETS
    assert opened <= 2 * per_bucket + 2, (
        f"CDC diff opened {opened} files for 1 changed bucket "
        f"(old+new side, ~{per_bucket:.1f} files/bucket)"
    )
    rows = ch.collect()
    assert len(rows) == 1 and rows[0].change_type == "update"


def test_advance_dedup_index_merge_rewrites_only_probed_buckets(spark, tmp_path):
    """End-to-end O(delta) for the index-maintenance loop: after a
    1-key corpus trickle, the index MERGE publishes a version whose
    manifest differs from its parent in at most the buckets the new
    fingerprints land in — the other bucket entries are copy-on-write
    reused (identical relative paths, zero bytes rewritten)."""
    corpus = ParquetMergeTable(
        spark, str(tmp_path / "c"), "doc_id", num_buckets=N_BUCKETS
    )
    corpus.create(
        spark.createDataFrame(
            [(i, _fp(i)) for i in range(N_FPS)], "doc_id long, fingerprint string"
        )
    )
    idx = ParquetMergeTable(
        spark, str(tmp_path / "i"), "fingerprint", num_buckets=N_BUCKETS
    )
    idx.create(corpus.read().select("fingerprint", "doc_id"))

    corpus.merge(
        spark.createDataFrame(
            [(50_000, _fp(50_000), "upsert")],
            "doc_id long, fingerprint string, op string",
        )
    )
    dc.advance_dedup_index(idx, corpus, 1)
    m1, m2 = idx._manifest_for(1)["buckets"], idx._manifest_for(2)["buckets"]
    rewritten = [b for b in set(m1) | set(m2) if m1.get(b) != m2.get(b)]
    assert len(rewritten) == 1, (
        f"1-fingerprint advance rewrote {len(rewritten)} index buckets"
    )
    reused = [b for b in m1 if m2.get(b) == m1[b]]
    assert len(reused) == len(m1) - 1 or len(reused) == len(m1)
