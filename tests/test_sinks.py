"""Sink-family tests (SURVEY.md §2.2): csv-with-header single-file
report (K5), parquet roundtrip (K6), streaming csv sink (K7)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F


def test_csv_report_single_file_with_header(spark, tmp_path):
    # K5 (`emr/RT2Report.scala:123-125`): the reference unioned a
    # header RDD and coalesce(1)'d; df.write.csv(header=True) +
    # coalesce(1) is the declarative form
    df = spark.createDataFrame(
        [(1, "a", 10.5), (2, "b", 20.25)], "id long, name string, price double"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    files = glob.glob(os.path.join(out, "part-*.csv"))
    assert len(files) == 1, "coalesce(1) must produce a single part file"
    lines = open(files[0]).read().strip().splitlines()
    assert lines[0] == "id,name,price"
    assert len(lines) == 3


def test_parquet_roundtrip_preserves_schema(spark, tmp_path):
    # K6: object-file sink → parquet
    df = spark.createDataFrame(
        [(1, [1.5, 2.5], {"k": "v"})],
        "id long, vec array<double>, props map<string,string>",
    )
    out = str(tmp_path)
    df.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.schema == df.schema
    assert back.count() == 1


def test_streaming_csv_sink(spark, tmp_path):
    # K7 (`analytics/Kafka2CompPerUser.scala:80-81`): per-batch text
    # files → writeStream csv with availableNow
    from htmlentityextraction_spark.streaming import pipeline as sp

    stream = sp.read_events_stream(spark, "/root/testdata/sf0.001")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        stream.select("event_id", "event_type", "value")
        .writeStream.format("csv")
        .option("path", out)
        .option("header", False)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    back = spark.read.schema("event_id long, event_type string, value double").csv(out)
    assert back.count() == 1000
    assert back.agg(F.countDistinct("event_id")).first()[0] == 1000


def test_write_sinks_replay_holds_each_row_once(spark, tmp_path):
    """A restart replays a batch whose files were written before its
    commit, and the replay may cut the batch into another number of
    partitions. Here the first attempt has an empty middle partition,
    so it writes ``part-7-0`` and ``part-7-2`` but no ``part-7-1``;
    the replay has two partitions. Every sink, logs_corrupt included,
    must hold each row once: the replay must find ``part-7-2`` past
    the gap."""
    from collections import Counter

    from htmlentityextraction_spark.streaming.pipeline import write_sinks

    schema = (
        "url string, model_price double, pattern_price double, status string, "
        "final_price double, raw_payload string"
    )
    rows = [
        (f"u{i}", 1.0 * i, 1.0 * i, "modeledPatternEquals" if i % 2 else "allFalseCandids",
         1.0 * i, None)
        for i in range(12)
    ]
    corrupt = [(None, None, None, None, None, f"{{broken {i}") for i in range(2)]

    def batch(*parts):
        rdd = spark.sparkContext.parallelize(list(parts), len(parts)).flatMap(lambda p: p)
        return spark.createDataFrame(rdd, schema)

    out = str(tmp_path)
    first = write_sinks(batch(rows[:5], [], rows[5:] + corrupt), out, 7)
    assert sorted(os.listdir(f"{out}/historical")) == ["part-7-0.parquet", "part-7-2.parquet"]
    # a task killed between its write and its move leaves its dot-temp
    open(f"{out}/historical/.part-7-2.parquet", "w").write("partial")
    replay = write_sinks(batch(rows[:9] + corrupt, rows[9:]), out, 7)
    assert sorted(os.listdir(f"{out}/historical")) == ["part-7-0.parquet", "part-7-1.parquet"]
    assert first == replay
    assert replay["rows"] == 12 and replay["corrupt"] == 2

    def sink(name):
        return Counter(tuple(r) for r in spark.read.parquet(f"{out}/{name}").collect())

    hist = sink("historical")
    assert len(hist) == 12 and set(hist.values()) == {1}
    assert sink("realtime") + sink("logs") == hist
    assert {r[0] for r in sink("realtime")} == {f"u{i}" for i in range(1, 12, 2)}
    assert sink("logs_corrupt") == Counter((f"{{broken {i}", "corruptMessage") for i in range(2))
