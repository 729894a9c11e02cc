"""Behavioral tests for the streaming layer: status truth table,
multiplexed sink routing, streaming dedup, and watermark late-data
semantics across restarts (checkpoint recovery)."""

from __future__ import annotations

import math
import os
import shutil
import time

import duckdb
import pytest
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import (
    PASSING,
    price_status,
    price_status_sql,
    selected_price,
    selected_price_sql,
)
from htmlentityextraction_spark.streaming import pipeline as sp

SF = "/root/testdata/sf0.001"


# (model, pattern, expected_status, expected_price), after
# `streaming/Htmls2Cassandra.scala:183-227` and `utils/Utils.scala:408-432`:
# the pattern price fails when Scala's toInt is 0 (NaN, -1 < v < 1).
TRUTH_TABLE = [
    (100.0, 100.0, "modeledPatternEquals", 100.0),
    (100.0, 105.0, "minorModelPatternConflict", 100.0),
    (100.0, 200.0, "majorModelPatternConflict", 200.0),
    (-1.0, 100.0, "allFalseCandids", 100.0),
    (-2.0, 100.0, "missingModel", 100.0),
    (100.0, 0.0, "patternFailed", 100.0),
    (100.0, math.nan, "patternFailed", 100.0),
    (100.0, 0.5, "patternFailed", 100.0),
    (100.0, -0.0, "patternFailed", 100.0),
    # inf.toInt is Int.MaxValue: a usable pattern price, and the
    # relative gap (inf/inf = NaN, or inf) is no minor conflict
    (100.0, math.inf, "majorModelPatternConflict", math.inf),
    (100.0, -math.inf, "majorModelPatternConflict", -math.inf),
    (-1.0, 0.0, "bothFailed", 0.0),
    (-2.0, 0.0, "bothFailed", 0.0),
    (-1.0, math.nan, "bothFailed", 0.0),
    (-2.0, math.nan, "bothFailed", 0.0),
    (-1.0, 0.5, "bothFailed", 0.0),
    (-2.0, -0.0, "bothFailed", 0.0),
]


def test_price_status_truth_table(spark):
    df = spark.createDataFrame(
        [(i, m, p) for i, (m, p, _, _) in enumerate(TRUTH_TABLE)], "i int, model double, pattern double"
    )
    status = price_status(F.col("model"), F.col("pattern"))
    spark_rows = df.select(
        "i", status.alias("status"), selected_price(status, F.col("model"), F.col("pattern")).alias("price")
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, model DOUBLE, pattern DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", [(i, m, p) for i, (m, p, _, _) in enumerate(TRUTH_TABLE)])
    duck_rows = con.execute(
        f"SELECT i, status, {selected_price_sql('status', 'model', 'pattern')} AS price FROM"
        f" (SELECT i, model, pattern, {price_status_sql('model', 'pattern')} AS status FROM t)"
    ).fetchall()
    want = {i: (s, fp) for i, (_, _, s, fp) in enumerate(TRUTH_TABLE)}
    for engine, rows in (("spark", spark_rows), ("duckdb", duck_rows)):
        assert {i: (s, fp) for i, s, fp in rows} == want, engine


def test_route_to_sinks_partitions_rows(spark, tmp_path):
    enriched = sp.enrich_events(sp.read_events_stream(spark, SF))
    out = str(tmp_path)
    sp.route_to_sinks(enriched, out).await_done()
    hist = spark.read.parquet(f"{out}/historical")
    rt = spark.read.parquet(f"{out}/realtime")
    logs = spark.read.parquet(f"{out}/logs")
    assert hist.count() == rt.count() + logs.count() == 1000
    assert rt.filter(~F.col("status").isin(*PASSING)).count() == 0
    assert logs.filter(F.col("status").isin(*PASSING)).count() == 0


def test_route_to_sinks_metrics_counters(spark, tmp_path):
    # A11: per-batch counters accumulate on the holder
    enriched = sp.enrich_events(sp.read_events_stream(spark, SF))
    out = str(tmp_path)
    holder = sp.route_to_sinks(enriched, out)
    holder.await_done()
    assert holder.metrics, "at least one micro-batch recorded"
    total = sum(m["rows"] for m in holder.metrics)
    passing = sum(m["status"].get(s, 0) for m in holder.metrics for s in PASSING)
    statuses = sum(sum(m["status"].values()) for m in holder.metrics)
    assert total == statuses == 1000 and 0 < passing < 1000
    assert spark.read.parquet(f"{out}/realtime").count() == passing
    assert spark.read.parquet(f"{out}/logs").count() == total - passing


def test_stream_dedup_restores_exactly_once(spark):
    s = sp.read_events_stream(spark, SF)
    doubled = s.union(sp.read_events_stream(spark, SF))
    deduped = sp.run_to_memory(spark, sp.stream_dedup(doubled))
    assert deduped.count() == 1000
    assert deduped.select("event_id").distinct().count() == 1000


def test_watermark_drops_late_data_across_restart(spark, tmp_path):
    """Two availableNow runs over one checkpoint: run 1 advances the
    watermark to (max ts - 10 min); run 2 delivers an event 2 hours
    older, which must be dropped from the windowed aggregation."""
    src, ckpt, sink = (str(tmp_path / d) for d in ("src", "ckpt", "sink"))

    def write_batchfile(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(os.path.join(src, name))

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    write_batchfile("b1", [(1, t0, 1.0), (2, t0 + dt.timedelta(minutes=5), 2.0)])

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.sum("value").alias("s"))
        )
        q = (
            agg.select(F.col("w.start").alias("ws"), "s")
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    # late event: 2 hours before t0, far behind the watermark
    write_batchfile("b2", [(3, t0 - dt.timedelta(hours=2), 100.0)])
    # in-horizon event that closes the 12:00 window
    write_batchfile("b3", [(4, t0 + dt.timedelta(hours=1, minutes=30), 4.0)])
    run_once()

    emitted = spark.read.parquet(sink).collect()
    sums = {r.ws.hour: r.s for r in emitted}
    # the 12:00 window emitted with only the on-time rows; the late
    # 10:00 event contributed nothing anywhere
    assert sums.get(12) == 3.0
    assert 10 not in sums


def _write_events(spark, flat_dir, ids_ts, tag):
    """Append a batch of events as ONE flat parquet file (the file
    stream source treats each top-level file as a topic arrival)."""
    rows = [(i, ts, i % 5, "click", 1.0, '{"k":1}') for i, ts in ids_ts]
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
    )
    staging = flat_dir.rstrip("/") + f"_staging_{tag}"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    os.makedirs(flat_dir, exist_ok=True)
    for f in os.listdir(staging):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(staging, f), os.path.join(flat_dir, f"{tag}-{f}"))


def test_starting_offset_semantics(spark, tmp_path):
    """S7/T2 Kafka offset-reset parity on the file stand-in:
    smallest replays history, largest consumes only post-creation
    arrivals."""
    topic = str(tmp_path / "topic")
    ns = 1_000_000_000
    _write_events(spark, topic, [(1, 100 * ns), (2, 200 * ns)], "a")

    # smallest: the full history is replayed
    s_small = sp.read_events_stream(spark, "", events_dir=topic)
    assert sp.run_to_memory(spark, s_small).count() == 2

    # largest: created now -> existing rows are skipped...
    s_large = sp.read_events_stream(spark, "", starting_offset="largest", events_dir=topic)
    # ...then two new records "arrive" after stream creation
    _write_events(spark, topic, [(3, 300 * ns), (4, 400 * ns)], "b")
    got = sp.run_to_memory(spark, s_large).select("event_id").collect()
    assert sorted(r.event_id for r in got) == [3, 4]


def test_max_files_per_trigger_bounds_microbatches(spark, tmp_path):
    """T1 micro-batch sizing: maxFilesPerTrigger=1 over 3 files must
    produce 3 micro-batches (the partition/batch-assignment knob of
    the Kafka stand-in)."""
    topic = str(tmp_path / "topic")
    ns = 1_000_000_000
    for i in range(3):
        _write_events(spark, topic, [(i, (i + 1) * 100 * ns)], f"f{i}")

    batches = []
    s = sp.read_events_stream(spark, "", max_files_per_trigger=1, events_dir=topic)
    q = (
        s.writeStream.foreachBatch(lambda b, bid: batches.append(b.count()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert len(batches) == 3 and all(n == 1 for n in batches)


def test_stream_stream_attribution_horizon(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
    spark.createDataFrame(
        [(1, 10, base), (2, 20, base)], "event_id long, user_id long, ts timestamp"
    ).write.parquet(vdir)
    spark.createDataFrame(
        [
            (3, 10, base + dt.timedelta(minutes=5)),   # in horizon -> match
            (4, 20, base + dt.timedelta(minutes=11)),  # outside 10 min -> no match
            (5, 99, base + dt.timedelta(minutes=1)),   # no view for user -> no match
        ],
        "event_id long, user_id long, ts timestamp",
    ).write.parquet(cdir)
    schema = "event_id long, user_id long, ts timestamp"
    views = spark.readStream.schema(schema).parquet(vdir)
    clicks = spark.readStream.schema(schema).parquet(cdir)
    out = sp.run_to_memory(
        spark, sp.stream_stream_attribution(views, clicks, "inner")
    ).collect()
    assert [(r["view_id"], r["click_id"], r["lag_seconds"]) for r in out] == [(1, 3, 300)]


def test_await_done_stops_and_raises_on_timeout(spark, tmp_path):
    """A bounded stream still running at its timeout fails instead of
    handing its caller a partial sink: ``await_done`` stops the query
    and raises."""

    def slow_batch(batch, batch_id):
        time.sleep(4)

    stream = sp.read_events_stream(spark, SF)
    holder = sp.start_bounded(
        stream.writeStream.foreachBatch(slow_batch), str(tmp_path / "ckpt"), []
    )
    t0 = time.time()
    with pytest.raises(TimeoutError):
        holder.await_done(1)
    assert not holder.query.isActive
    assert time.time() - t0 < 60
