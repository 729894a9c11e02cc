"""Epoch helpers must survive BOTH fixture ts encodings (TIMESTAMP
(NANOS) read as long + re-encoded, and plain TIMESTAMP(MICROS) read as
TIMESTAMP_NTZ), plus the empty-topic stream-creation pattern."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.temporal import (
    assert_timestamp_col,
    epoch_micros,
    epoch_seconds,
)
from htmlentityextraction_spark.sources.tables import load_table

_TS = [
    datetime.datetime(2024, 3, 1, 12, 0, 0, 250000),
    datetime.datetime(2024, 3, 2, 0, 30, 59, 999999),
    datetime.datetime(2024, 3, 3, 23, 59, 0, 1),
]
# exact integer epoch micros (float .timestamp() would round the tail)
_EXPECT_US = [
    (t - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1) for t in _TS
]


def _write_events(unit: str, d) -> str:
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(_TS, pa.timestamp(unit)),
            "user_id": pa.array([10, 11, 12], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"), version="2.6")
    return str(d)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_epoch_helpers_both_encodings(spark, unit, tmp_path):
    d = _write_events(unit, tmp_path)
    ev = load_table(spark, d, "events").orderBy("event_id")
    got = ev.select(
        epoch_micros("ts").alias("us"), epoch_seconds("ts").alias("s")
    ).collect()
    assert [r.us for r in got] == _EXPECT_US
    assert [r.s for r in got] == [u // 1_000_000 for u in _EXPECT_US]


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_stream_source_both_encodings(spark, unit, tmp_path):
    from htmlentityextraction_spark.streaming.pipeline import read_events_stream

    d = _write_events(unit, tmp_path)
    stream = read_events_stream(spark, sf_dir="unused", events_dir=d)
    q = (
        stream.select("event_id", epoch_micros("ts").alias("us"))
        .writeStream.format("memory")
        .queryName(f"enc_{unit}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"select * from enc_{unit} order by event_id").collect()
    assert [r.us for r in rows] == _EXPECT_US


def test_stream_source_empty_topic_then_produce(spark, tmp_path):
    """Stream creation on an as-yet-empty topic dir must not raise
    (UNABLE_TO_INFER_SCHEMA regression): the probe falls back to the
    micros encoding, which is what Spark-written files use."""
    from htmlentityextraction_spark.streaming.pipeline import read_events_stream

    d = str(tmp_path)
    stream = read_events_stream(spark, sf_dir="unused", events_dir=d, starting_offset="largest")
    # produce AFTER creation, Spark-written (micros) — the documented
    # single-encoding-per-topic arrival pattern
    spark.createDataFrame(
        [(1, _TS[0], 10)], "event_id long, ts timestamp, user_id long"
    ).write.mode("append").parquet(d)
    q = (
        stream.select("event_id", epoch_micros("ts").alias("us"))
        .writeStream.format("memory")
        .queryName("empty_topic")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from empty_topic").collect()
    assert [r.us for r in rows] == [_EXPECT_US[0]]


def test_assert_timestamp_col_rejects_numeric(spark):
    df = spark.range(3).withColumn("ts", F.col("id") * 1000)
    with pytest.raises(TypeError, match="must be timestamp"):
        assert_timestamp_col(df, "ts")
    ok = df.withColumn("ts2", F.timestamp_micros("ts"))
    assert_timestamp_col(ok, "ts2")
