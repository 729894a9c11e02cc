"""verify_integrity: manifest-vs-storage audit catches missing bucket
dirs and row-count drift; a healthy table audits clean."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.incremental import OP_UPSERT, ParquetMergeTable


def _table(spark, path):
    df = spark.range(0, 400).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    tbl = ParquetMergeTable(spark, path, key_col="k", num_buckets=4)
    tbl.create(df)
    return tbl


def test_healthy_table_audits_clean(spark, tmp_path):
    tbl = _table(spark, str(tmp_path))
    rep = tbl.verify_integrity()
    assert rep["ok"] and not rep["missing"] and not rep["mismatched"]


def test_merge_keeps_audit_clean(spark, tmp_path):
    tbl = _table(spark, str(tmp_path))
    upd = spark.createDataFrame([(1, 99, OP_UPSERT), (5000, 1, OP_UPSERT)],
                                "k long, v long, op string")
    tbl.merge(upd)
    assert tbl.verify_integrity()["ok"]


def test_missing_bucket_detected(spark, tmp_path):
    path = str(tmp_path)
    tbl = _table(spark, path)
    m = tbl._read_manifest()
    victim_rel = next(iter(sorted(m["buckets"].values())))
    shutil.rmtree(os.path.join(path, victim_rel))
    rep = tbl.verify_integrity()
    assert not rep["ok"] and len(rep["missing"]) == 1


def test_row_drift_detected(spark, tmp_path):
    path = str(tmp_path)
    tbl = _table(spark, path)
    m = tbl._read_manifest()
    victim_rel = next(iter(sorted(m["buckets"].values())))
    full = os.path.join(path, victim_rel)
    # "corrupt" the bucket: append an extra parquet file out of band
    extra = tbl.spark.createDataFrame([(999999, 0)], "k long, v long")
    extra.coalesce(1).write.mode("append").parquet(full)
    rep = tbl.verify_integrity()
    assert not rep["ok"]
    assert rep["mismatched"] and rep["mismatched"][0]["actual"] > rep["mismatched"][0]["expected"]


def test_snapshots_and_files_metadata_tables(spark, tmp_path):
    tbl = _table(spark, str(tmp_path))
    upd = spark.createDataFrame([(1, 99, OP_UPSERT)], "k long, v long, op string")
    tbl.merge(upd)
    snaps = {r["version"]: r for r in tbl.snapshots().collect()}
    assert set(snaps) == {1, 2}
    assert snaps[1]["total_rows"] == 400 and snaps[2]["total_rows"] == 400
    assert snaps[2]["num_buckets"] == 4 and snaps[2]["bucketing"] == "hash"
    # every bucket the manifest references holds non-empty data files
    for rel in tbl._read_manifest()["buckets"].values():
        full = os.path.join(tbl.path, rel)
        data = [f for f in os.listdir(full) if f.endswith(".parquet")]
        assert data and all(os.path.getsize(os.path.join(full, f)) > 0 for f in data)
