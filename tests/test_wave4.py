"""Wave-4 operator semantics: as-of join, interval join, degree-
oriented triangles, stratified sampling."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.asof import asof_join
from htmlentityextraction_spark.operators.interval import interval_join


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),
            (2, 10, _ts("2024-01-01 12:00:00")),
            (3, 20, _ts("2024-01-01 09:00:00")),  # before any right row
        ],
        "lid long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01 09:30:00"), 1.0),
            (101, 10, _ts("2024-01-01 12:00:00"), 2.0),  # exact tie with lid=2
            (102, 20, _ts("2024-01-01 11:00:00"), 3.0),
        ],
        "rid long, k long, ts timestamp, v double",
    )
    return left, right


def test_asof_backward_exact_and_outer(spark):
    left, right = _frames(spark)
    out = {
        r.lid: r
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["rid", "v"]
        ).collect()
    }
    assert out[1].asof_rid == 100, "latest right at-or-before 10:00 is 09:30"
    assert out[2].asof_rid == 101, "exact-ts right row matches"
    assert out[3].asof_rid is None, "no prior right row -> null payload (outer)"
    assert out[1].asof_v == 1.0 and out[2].asof_v == 2.0


def test_asof_forward_and_tolerance(spark):
    left, right = _frames(spark)
    out = {
        r.lid: r
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_cols=["rid"], direction="forward",
        ).collect()
    }
    assert out[1].asof_rid == 101, "earliest right at-or-after 10:00 is 12:00"
    assert out[3].asof_rid == 102
    tol = {
        r.lid: r
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_cols=["rid"], direction="forward", tolerance_seconds=3600,
        ).collect()
    }
    assert tol[1].asof_rid is None, "2h gap exceeds 1h tolerance -> nulled"
    assert tol[3].asof_rid is None, "09:00 -> 11:00 is 2h, beyond tolerance too"
    assert tol[2].asof_rid == 101, "0s gap within tolerance"


def test_asof_payload_is_atomic_per_matched_row(spark):
    # two right columns where one is null on the matched row: both
    # outputs must come from the SAME row (a per-column last() would
    # backfill the null from an older row)
    left = spark.createDataFrame([(1, 1, _ts("2024-01-01 12:00:00"))], "lid long, k long, ts timestamp")
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 1.0, "old"),
            (1, _ts("2024-01-01 11:00:00"), None, "new"),
        ],
        "k long, ts timestamp, v double, tag string",
    )
    row = asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()[0]
    assert row.asof_tag == "new" and row.asof_v is None, (
        "payload columns must all come from the single matched row"
    )


def test_interval_join_boundaries_and_overlap(spark):
    points = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01 10:00:00")),  # == start: in
            (2, 1, _ts("2024-01-01 10:59:59")),  # inside
            (3, 1, _ts("2024-01-01 11:00:00")),  # == end: out (half-open)
            (4, 1, _ts("2024-01-01 10:30:00")),  # inside BOTH overlapping windows
            (5, 2, _ts("2024-01-01 10:30:00")),  # other key: no window
        ],
        "pid long, k long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (10, 1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00")),
            (11, 1, _ts("2024-01-01 10:15:00"), _ts("2024-01-01 10:45:00")),
            (12, 1, _ts("2024-01-01 12:00:00"), _ts("2024-01-01 11:00:00")),  # malformed
        ],
        "iid long, k long, s timestamp, e timestamp",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(
            points, iv, on="k", point_ts="ts", start_ts="s", end_ts="e"
        ).collect()
    )
    assert got == [(1, 10), (2, 10), (4, 10), (4, 11)]


def test_interval_join_plan_has_no_nlj(spark):
    import __spark_entry__ as entry

    df = entry.queries()["interval_outage_click_attribution"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_known_graph(spark, monkeypatch, tmp_path):
    # K4 minus one edge = 2 triangles; build a fake lineitem where
    # orders induce exactly those edges
    rows = []
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]  # no (3,4): K4 minus an edge
    for i, (a, b) in enumerate(edges):
        rows += [(1000 + i, a), (1000 + i, b)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    import htmlentityextraction_spark.queries.wave4_q as w4

    monkeypatch.setattr(
        w4, "load_table", lambda _s, _d, _n: li
    )
    out = w4.triangle_count_copurchase(spark, "unused").collect()[0]
    assert out.n_edges == 5 and out.n_triangles == 2


def test_stratified_sample_exact_fraction_per_stratum(spark):
    import __spark_entry__ as entry

    df = entry.queries()["stratified_sample_by_lang"](spark, "/root/testdata/sf0.001")
    got = {r.lang: r.cnt for r in df.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    from htmlentityextraction_spark.sources.tables import load_table

    tot = {
        r.lang: r.cnt
        for r in load_table(spark, "/root/testdata/sf0.001", "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    import math

    for lang, n in tot.items():
        assert got.get(lang, 0) == math.ceil(0.1 * n), (lang, n, got.get(lang))
