"""OPTIMIZE ... ZORDER BY evidence: after clustering, parquet
row-group statistics become selective on BOTH z-ordered columns — the
per-row-group [min, max] spans shrink from ~the full domain to a
fraction of it. Measured from the footer metadata itself (pyarrow),
not inferred."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import incremental
from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

SF_DENSE = "/root/testdata/sf0.01"  # enough rows for multiple row groups


def _avg_span(table_dir: str, manifest_buckets: dict, col: str) -> tuple[float, int]:
    """(mean row-group [min,max] width, row-group count) for col."""
    spans, total = [], 0
    for rel in manifest_buckets.values():
        full = os.path.join(table_dir, rel)
        for fname in os.listdir(full):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(full, fname)).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            ci = names[col]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                total += 1
                spans.append(float(st.max - st.min))
    return sum(spans) / len(spans), total


def _make_table(spark, path: str):
    li = spark.read.parquet(os.path.join(SF_DENSE, "lineitem.parquet")).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_partkey", "l_suppkey",
    )
    tbl = ParquetMergeTable(spark, path, key_col="rid", num_buckets=2)
    tbl.create(li)
    return li, tbl


def test_zorder_optimize_tightens_row_group_stats(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(incremental, "_ZORDER_ROW_GROUP_BYTES", 64 * 1024)
    path = str(tmp_path)
    li, tbl = _make_table(spark, path)
    m0 = tbl._read_manifest()
    before_a, _ = _avg_span(path, m0["buckets"], "l_partkey")
    before_b, _ = _avg_span(path, m0["buckets"], "l_suppkey")

    res = tbl.optimize(zorder_by=["l_partkey", "l_suppkey"])
    assert res["compacted"], "zorder optimize must rewrite buckets"
    m1 = tbl._read_manifest()
    after_a, n_a = _avg_span(path, m1["buckets"], "l_partkey")
    after_b, _ = _avg_span(path, m1["buckets"], "l_suppkey")

    assert n_a >= 8, "need multiple row groups for the test to mean anything"
    # unclustered row groups span ~the whole domain on both columns;
    # z-ordering must tighten BOTH simultaneously (a single-column
    # sort would tighten one and leave the other full-width)
    assert after_a < before_a * 0.8
    assert after_b < before_b * 0.8

    # logical content is unchanged by the rewrite
    assert tbl.read().count() == li.count()
    assert (
        tbl.read().agg(F.sum("l_partkey")).collect()[0][0]
        == li.agg(F.sum("l_partkey")).collect()[0][0]
    )


def test_zvalue_n_three_columns(spark):
    from htmlentityextraction_spark.operators.zorder import zvalue_n
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(0b11, 0b01, 0b10)], "a long, b long, c long").select(
        zvalue_n([F.col("a"), F.col("b"), F.col("c")], 2).alias("z")
    )
    # bit layout: pos = i*3 + j -> a0=1@0, b0=1@1, c0=0@2, a1=1@3, b1=0@4, c1=1@5
    assert df.collect()[0]["z"] == 0b101011


def test_zorder_optimize_three_columns(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(incremental, "_ZORDER_ROW_GROUP_BYTES", 64 * 1024)
    path = str(tmp_path)
    li = spark.read.parquet(os.path.join(SF_DENSE, "lineitem.parquet")).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_partkey", "l_suppkey", "l_quantity",
    )
    tbl = ParquetMergeTable(spark, path, key_col="rid", num_buckets=2)
    tbl.create(li)
    before_a, _ = _avg_span(path, tbl._read_manifest()["buckets"], "l_partkey")
    res = tbl.optimize(zorder_by=["l_partkey", "l_suppkey", "l_quantity"])
    assert res["compacted"]
    after_a, n = _avg_span(path, tbl._read_manifest()["buckets"], "l_partkey")
    assert n >= 4 and after_a < before_a
    assert tbl.read().count() == li.count()
