"""Contracts for the r12 scan-parallelism floor
(sources.tables.scan_parallelism_floor). ``load_table`` applies the
floor exactly when a call site passes ``fan_out=True``: the keyless
exchange costs ~1 s and only pays for heavy narrow work (module note
in sources/tables.py), so the default stays the bare scan. When
requested, the local single-file fixtures must fan out to
defaultParallelism right after the read, pushdown must still reach the
parquet scan through the repartition, small dimensions stay unsplit,
and the floor must be a provable no-op when the layout already supplies
enough splits (the 100 TB posture)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from htmlentityextraction_spark.sources import tables as tb

SF = "/root/testdata/sf0.1"


def test_default_is_bare_scan(spark):
    # no fan_out → no exchange: the blanket floor measured a ~2x
    # regression on cheap agg-shaped queries (ab_bench ABBA, module
    # note), so the default must stay the raw scan
    df = tb.load_table(spark, SF, "lineitem")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_fan_out_spreads_single_file_scan(spark):
    df = tb.load_table(spark, SF, "lineitem", fan_out=True)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_pushdown_survives_the_repartition(spark):
    df = (
        tb.load_table(spark, SF, "lineitem", fan_out=True)
        .filter(F.col("l_extendedprice") > 100)
        .select("l_partkey")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(l_extendedprice,100.0)" in plan  # PushedFilters
    assert "l_tax" not in plan  # pruning intact: only 2 columns read


def test_small_dimensions_are_left_alone(spark):
    # region/nation/supplier/part sit under the size floor: they are
    # broadcast-side dims and a repartition would only add an exchange
    # into every broadcast build — even when a call site asks
    for name in ("region", "nation", "supplier", "part"):
        df = tb.load_table(spark, SF, name, fan_out=True)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, name


def test_floor_noop_when_layout_supplies_splits(spark, tmp_path):
    # many-file layout at production shape: est splits >= parallelism
    # → no repartition (the floor must never fire at scale)
    n = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "many")
    spark.range(0, 10000).withColumn("v", F.col("id") * 2).repartition(n).write.parquet(src)
    big = spark.read.parquet(src)
    out = tb.scan_parallelism_floor(spark, big, src)
    assert out is big  # untouched: no new plan node


def test_events_ts_conversion_composes_with_fan_out(spark):
    df = tb.load_table(spark, SF, "events", fan_out=True)
    assert dict(df.dtypes)["ts"].startswith("timestamp")
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
