"""Structured Streaming layer (SURVEY.md §2.10 T1-T10, §3.1).

The reference's serving path is a Kafka DStream micro-batch pipeline:
stateless per-record enrichment → status derivation → multiplexed
sinks (`streaming/Htmls2PredsPipe.scala`, `Htmls2Cassandra.scala`).
The rebuild uses Structured Streaming:

- file source over the driver's events parquet as the Kafka stand-in
  (swap `.format("parquet")` for `.format("kafka")` + `from_json` in
  production — same downstream plan);
- stateless transforms are plain select/withColumn (T4);
- status routing = one `foreachBatch` whose one writer map routes each
  partition's rows to every sink (T5/T6, ``write_sinks``), so a
  micro-batch is read once and written in one Spark job;
- `trigger(availableNow=True)` gives bounded runs (T9) — and makes
  every streaming query here equal to its batch counterpart over the
  same files, which is exactly how the DuckDB oracles check them;
- watermark + tumbling/sliding windows and streaming dedup are the
  idiomatic upgrades the reference lacked (T7 notes late data was
  unhandled; here it's explicit).

Scale: the file source parallelizes by file splits; Kafka by topic
partition. Stateless stages keep no state store; the windowed aggs
keep O(open windows × keys) state, bounded by the watermark horizon.
"""

from __future__ import annotations

import os
import uuid
from collections import Counter
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import DataStreamWriter

from htmlentityextraction_spark.functions.pricing import (
    PASSING,
    finite_measure,
    measure_cents,
    price_status,
    selected_price,
)
from htmlentityextraction_spark.functions.temporal import (
    SESSION_GAP_MINUTES,
    epoch_seconds,
    valid_event_time,
)
from htmlentityextraction_spark.runner import scratch
from htmlentityextraction_spark.sources.tables import decode_event_ts

# events.parquet physical schema (ts is TIMESTAMP(NANOS) stored as
# long; see sources/tables.load_table)
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def _events_dir(sf_dir: str) -> str:
    """The file streaming source requires a DIRECTORY; the fixture is a
    single parquet file. Symlink it into a scratch dir (testdata stays
    untouched)."""
    d = scratch("events_stream_")
    os.symlink(os.path.join(sf_dir, "events.parquet"), os.path.join(d, "events.parquet"))
    return d


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    starting_offset: str = "smallest",
    max_files_per_trigger: int | None = None,
    events_dir: str | None = None,
) -> DataFrame:
    """Streaming scan of the events fixture (Kafka stand-in, S7/T2).

    Offset-reset parity with the reference's Kafka direct stream
    (`streaming/Htmls2PredsPipe.scala:36,95-98`):

    - ``smallest``: replay the topic from the beginning — the file
      source's native behavior.
    - ``largest``: consume only records that arrive AFTER stream
      creation. The file stand-in snapshots the max event time at
      creation and filters to strictly-newer rows, so data already in
      the dir is skipped exactly like Kafka's latest-offset reset.

    ``max_files_per_trigger`` maps to the file source's
    maxFilesPerTrigger — the micro-batch sizing knob standing in for
    Kafka's partition/batch assignment (T1).

    ts is decoded by ``tables.decode_event_ts``, as in the batch loader."""
    if starting_offset not in ("smallest", "largest"):
        raise ValueError(f"starting_offset must be smallest|largest, got {starting_offset!r}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # events_dir: a FLAT dir of parquet files acting as the topic (the
    # file stream source does not recurse into subdirectories)
    d = events_dir if events_dir is not None else _events_dir(sf_dir)
    # The file stream source needs an explicit schema, and the fixture's
    # ts physical type varies by generator version (TIMESTAMP(NANOS),
    # read as long under the legacy conf, or TIMESTAMP(MICROS)). A batch
    # read probes it ONCE, from the files present at stream creation, so
    # a topic dir must stay single-encoding for its lifetime (Kafka's
    # one-serializer contract). An empty topic (the empty-then-produce
    # pattern of the `largest` stand-in) takes the micros encoding that
    # Spark's own writers produce. The decode is the batch loader's.
    try:
        ts_is_nanos = dict(spark.read.parquet(d).dtypes).get("ts") == "bigint"
    except Exception:  # AnalysisException: UNABLE_TO_INFER_SCHEMA on empty dir
        ts_is_nanos = False
    ts_type = T.LongType() if ts_is_nanos else T.TimestampType()
    schema = T.StructType(
        [f if f.name != "ts" else T.StructField("ts", ts_type) for f in EVENTS_RAW_SCHEMA]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = decode_event_ts(reader.parquet(d))
    if starting_offset == "largest":
        head = (
            decode_event_ts(spark.read.schema(schema).parquet(d))
            .agg(F.max(F.unix_micros("ts")))
            .first()[0]
        )
        if head is not None:
            out = out.filter(F.col("ts") > F.timestamp_micros(F.lit(head)))
    return out


# JSON wire schema for the real-Kafka topic: ts travels as epoch
# micros (JSON has no timestamp type); everything else matches the
# parquet fixture columns.
KAFKA_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_kafka(
    spark: SparkSession,
    bootstrap: str,
    topic: str = "events",
    starting_offset: str = "smallest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Real Kafka source (S7/T1-T2) — the documented one-line swap for
    ``read_events_stream``, producing the identical column set so
    every downstream operator (enrich/route/window/sessionize) runs
    unchanged.

    Offset parity with the reference's direct stream
    (`streaming/Htmls2PredsPipe.scala:95-98`): the legacy
    ``smallest``/``largest`` auto.offset.reset values map to the
    connector's ``earliest``/``latest`` startingOffsets; partition
    assignment is the connector's (one Spark partition per topic
    partition). ``max_offsets_per_trigger`` is the Kafka-native
    micro-batch sizing knob (maxOffsetsPerTrigger), the analogue of
    the file source's maxFilesPerTrigger.

    Needs the spark-sql-kafka connector on the classpath and a
    reachable broker; exercised by the env-guarded
    tests/test_kafka_source.py and otherwise stood in for by the
    file source."""
    if starting_offset not in ("smallest", "largest"):
        raise ValueError(f"starting_offset must be smallest|largest, got {starting_offset!r}")
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option(
            "startingOffsets", "earliest" if starting_offset == "smallest" else "latest"
        )
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    parsed = reader.load().select(
        F.from_json(F.col("value").cast("string"), KAFKA_EVENT_SCHEMA).alias("e")
    )
    return parsed.select(
        F.col("e.event_id").alias("event_id"),
        F.timestamp_micros("e.ts_us").alias("ts"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
        F.col("e.props").alias("props"),
    )


def enrich_events(stream: DataFrame) -> DataFrame:
    """Stateless per-record enrichment (T4): parse the props JSON
    payload (`from_json`, S4/F10), derive deterministic model/pattern
    prices from the event fields (stand-ins for the scored price and
    the legacy pattern price), then the F13/F14 status + final-price
    reconciliation — the flagship CASE chains."""
    parsed = stream.withColumn("props_k", F.from_json("props", PROPS_SCHEMA)["k"])
    # deterministic stand-ins: model price fails (-1/-2 sentinels) on
    # some events, pattern price "fails" (0) on others — exercising
    # every branch of the status truth table
    model_price = (
        F.when(F.pmod("event_id", F.lit(7)) == 0, F.lit(-1.0))
        .when(F.pmod("event_id", F.lit(11)) == 0, F.lit(-2.0))
        # floor(x*100)/100, not round(x,2): Spark's round() works on the
        # decimal string repr (HALF_UP) while DuckDB rounds the binary
        # double — floor is exact on both
        .when(
            (F.pmod("event_id", F.lit(3)) == 0) & finite_measure("value"),
            F.floor(F.col("value") * 1.05 * 100) / 100.0,
        )  # non-finite/out-of-range passes through: Spark floor(NaN)=0
        # would fabricate a price, floor(±inf) overflows the ANSI long
        .otherwise(F.col("value"))
    )
    pattern_price = F.when(F.pmod("event_id", F.lit(5)) == 0, F.lit(0.0)).otherwise(
        F.col("value")
    )
    out = (
        parsed.withColumn("model_price", model_price)
        .withColumn("pattern_price", pattern_price)
        .withColumn("status", price_status(F.col("model_price"), F.col("pattern_price")))
    )
    return out.withColumn(
        "final_price", selected_price(F.col("status"), F.col("model_price"), F.col("pattern_price"))
    )


_STATUS_SINKS = ("historical", "realtime", "logs")

# One row per writer task: what it routed (the reference's per-batch
# accumulators, SURVEY A11, `streaming/Htmls2PredsPipe.scala:74-84`).
_SINK_COUNTS = T.StructType(
    [
        T.StructField("rows", T.LongType()),
        T.StructField("corrupt", T.LongType()),
        T.StructField("no_candidate", T.LongType()),
        T.StructField("missing_model", T.LongType()),
        T.StructField("status", T.MapType(T.StringType(), T.LongType())),
    ]
)
_CORRUPT_SINK = pa.schema([("raw_payload", pa.string()), ("status", pa.string())])


def _sink_partition(
    batches: Iterator[pa.RecordBatch], out_dir: str, batch_id: int, schema: pa.Schema, sinks: tuple[str, ...]
) -> Iterator[pa.RecordBatch]:
    """One partition of status rows → its ``part-<batch_id>-<partition>``
    file in each sink, and one _SINK_COUNTS row. A row with a non-null
    raw_payload is a corrupt message and goes to logs_corrupt/ only;
    every other row goes to historical/ and to realtime/ (PASSING
    statuses) or logs/ (the rest). A file is written when it has rows,
    and by partition 0 always, so every sink dir is readable after
    every batch. Each file is written under a dot-prefixed temp name
    (which readers skip) and then moved onto its final name."""
    fs, root = pafs.FileSystem.from_uri(out_dir)
    routed: dict[str, list[pa.Table]] = {s: [] for s in sinks}
    n = dict.fromkeys(_SINK_COUNTS.fieldNames()[:-1], 0)
    status: Counter = Counter()
    for batch in batches:
        table = pa.Table.from_batches([batch])
        if "logs_corrupt" in sinks:
            bad = pc.is_valid(table["raw_payload"])
            payloads = table["raw_payload"].filter(bad).cast(pa.string())
            routed["logs_corrupt"].append(pa.table(
                [payloads, pa.array(["corruptMessage"] * len(payloads), pa.string())], schema=_CORRUPT_SINK))
            n["corrupt"] += len(payloads)
            table = table.filter(pc.invert(bad))
        table = table.select(schema.names).cast(schema)
        passing = pc.is_in(table["status"], value_set=pa.array(PASSING))
        routed["historical"].append(table)
        routed["realtime"].append(table.filter(passing))
        routed["logs"].append(table.filter(pc.invert(passing)))
        n["rows"] += table.num_rows
        n["no_candidate"] += pc.sum(pc.equal(table["model_price"], -1.0)).as_py() or 0
        n["missing_model"] += pc.sum(pc.equal(table["model_price"], -2.0)).as_py() or 0
        counts = pc.value_counts(table["status"])
        status.update(dict(zip(counts.field("values").to_pylist(), counts.field("counts").to_pylist())))
    part = TaskContext.get().partitionId()
    name = f"part-{batch_id}-{part}.parquet"
    for sink, tables in routed.items():
        if part == 0 or any(t.num_rows for t in tables):
            empty = (_CORRUPT_SINK if sink == "logs_corrupt" else schema).empty_table()
            tmp = f"{root}/{sink}/.{name}.{uuid.uuid4().hex}"
            pq.write_table(pa.concat_tables([empty, *tables]), tmp, filesystem=fs)
            fs.move(tmp, f"{root}/{sink}/{name}")
    yield pa.RecordBatch.from_pylist([{**n, "status": dict(status)}], schema=to_arrow_schema(_SINK_COUNTS))


def write_sinks(batch: DataFrame, out_dir: str, batch_id: int) -> dict:
    """Route one micro-batch of status rows to historical/ (all rows),
    realtime/ (PASSING statuses) and logs/ (the rest), and, when the
    rows carry a raw_payload column, its non-null payloads to
    logs_corrupt/ — the Htmls2Cassandra fan-out plus the reference's
    error topic, routed in one producer pass as
    `utils/Utils.scala:442-460` does. One ``mapInArrow`` writer per
    partition writes all sinks with ``pyarrow.parquet`` and returns a
    counter row; the driver collects those rows, so the batch is read
    once, in one Spark job, with its counters from the same pass.

    Files are named ``part-<batch_id>-<partition>.parquet``, and the
    batch id's files are deleted before the job starts, so a replayed
    batch overwrites its own output instead of appending a second
    copy. ``out_dir`` is an absolute path or a URI, resolved through
    ``pyarrow.fs.FileSystem.from_uri`` on the driver and in every task.

    Returns the summed counters: rows (not corrupt), corrupt,
    no_candidate (model_price -1), missing_model (-2) and the rows of
    each status."""
    schema = to_arrow_schema(T.StructType([f for f in batch.schema.fields if f.name != "raw_payload"]))
    sinks = _STATUS_SINKS + (("logs_corrupt",) if "raw_payload" in batch.columns else ())
    fs, root = pafs.FileSystem.from_uri(out_dir)
    stale = (f"part-{batch_id}-", f".part-{batch_id}-")
    for sink in sinks:
        fs.create_dir(f"{root}/{sink}")
        for info in fs.get_file_info(pafs.FileSelector(f"{root}/{sink}")):
            if info.base_name.startswith(stale):
                fs.delete_file(info.path)
    rows = batch.mapInArrow(
        lambda batches: _sink_partition(batches, out_dir, batch_id, schema, sinks), _SINK_COUNTS
    ).collect()
    status: Counter = Counter()
    for r in rows:
        status.update(r["status"])
    totals = {k: sum(r[k] for r in rows) for k in _SINK_COUNTS.fieldNames()[:-1]}
    return {**totals, "status": dict(status)}


def route_to_sinks(enriched: DataFrame, out_dir: str) -> "StreamingQueryHolder":
    """Multiplexed sinks (T5/T6): one foreachBatch routes each
    micro-batch to historical/ (all rows), realtime/ (passing
    statuses) and logs/ (errored) — the Htmls2Cassandra three-table
    fan-out — through ``write_sinks``'s one writer pass. Per-batch
    counters (A11 — the reference's accumulators,
    `streaming/Htmls2PredsPipe.scala:74-84`) accumulate on the holder
    from that pass's counter rows, with no job of their own: one dict
    per micro-batch, ``write_sinks``'s counters plus batch_id, as
    ``serve.serve_stream`` records them."""
    holder_metrics: list[dict] = []

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        holder_metrics.append({"batch_id": batch_id, **write_sinks(batch, out_dir, batch_id)})

    return start_bounded(
        enriched.writeStream.foreachBatch(write_batch),
        os.path.join(out_dir, "_checkpoint"),
        holder_metrics,
    )


class StreamingQueryHolder:
    """A started streaming query and the per-micro-batch counter dicts
    its sink appends to ``metrics`` as batches commit."""

    def __init__(self, query, metrics: list[dict]):
        self.query = query
        self.metrics = metrics

    def await_done(self, timeout_sec: int = 600) -> None:
        """Wait for the bounded query to end. One still running after
        ``timeout_sec`` is stopped and raises, so no caller reads a
        partial sink; a failed query raises its own error."""
        if not self.query.awaitTermination(timeout_sec):
            self.query.stop()
            raise TimeoutError(f"streaming query {self.query.id} still running after {timeout_sec} s")


def start_bounded(writer: DataStreamWriter, checkpoint: str, metrics: list[dict]) -> StreamingQueryHolder:
    """Start ``writer`` as a bounded run (T9): an ``availableNow``
    trigger, so the query drains what its source holds and ends, with
    its checkpoint at ``checkpoint``. ``metrics`` is the list the
    writer's batch function fills, or empty."""
    query = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
    return StreamingQueryHolder(query, metrics)


def windowed_counts(enriched: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window counts with a 2-hour
    watermark (the T7 upgrade: late data beyond the watermark is
    dropped explicitly instead of silently mis-binned)."""
    return (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # corrupt values (NULL/NaN/|v|>=1e10) are excluded from the
            # rollup, not from the event count (extreme-fuzz aligned:
            # a 2^53-scale addend makes the float sum order-dependent)
            F.round(F.sum(F.when(finite_measure("value"), F.col("value"))) + 1e-9, 6)
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_avg(enriched: DataFrame) -> DataFrame:
    """Sliding-window (2 hours, every hour) average value per event
    type."""
    return (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.round(F.avg(F.when(finite_measure("value"), F.col("value"))) + 1e-9, 6)
            .alias("avg_value")
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "avg_value")
    )


def stream_dedup(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id, state bounded by the
    watermark. ``dropDuplicatesWithinWatermark``, NOT plain
    ``dropDuplicates``: without the event-time column in the key set,
    plain dropDuplicates keeps every seen key forever (the watermark
    does not evict its state — the classic unbounded-state gotcha);
    the WithinWatermark variant evicts each key once the watermark
    passes its event time + delay, so state is horizon-bounded at any
    stream length. Duplicates are assumed to arrive within the
    2-hour horizon (true for the at-least-once replay this models).

    Event-time validity is enforced BEFORE the watermark: one
    far-future corrupt timestamp would advance the watermark past
    every real event and both evict dedup state early AND mark the
    whole stream late (time-fuzz aligned)."""
    return (
        stream.filter(valid_event_time("ts"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )


# Attribution horizon: a click matches its user's views at most this
# long before it.
_ATTRIBUTION_HORIZON = "10 minutes"


def stream_stream_attribution(views: DataFrame, clicks: DataFrame, how: str) -> DataFrame:
    """Stream-stream event-time join (view→click attribution): each
    click matches the same user's views whose timestamp falls in
    [click_ts - horizon, click_ts] (``_ATTRIBUTION_HORIZON``). BOTH
    sides carry watermarks and the join condition carries the time
    band, so the state store is bounded: a buffered view is evicted
    once the click-side watermark passes view_ts + horizon — without
    the band the state would grow with the full history of both
    streams.

    ``how="inner"``: matches emit eagerly (no watermark hold-back), so
    a bounded availableNow run yields the complete batch-equivalent
    result. ``how="left_outer"``: views with no click in the horizon
    still emit (null click) — but only once the watermark proves no
    future click can match. Emission semantics (asserted by the
    oracle of `stream_stream_attribution_outer`):

    - matched pairs emit eagerly, exactly like the inner join;
    - an unmatched view emits with nulls when
      ``view_ts + horizon < watermark`` where the global watermark is
      ``min(max view_ts, max click_ts) - horizon`` at end of input;
    - unmatched views NEWER than that boundary are still "maybe
      matchable" when the bounded run stops, and are NOT emitted —
      the price of outer semantics on an unbounded model. On a live
      stream they emit as the watermark advances.

    Scale shape: the join keys on user_id, so both streams shuffle
    once to co-locate per-user state; state size is horizon-bounded
    per user, independent of stream length. The reference's streaming
    surface is stateless per-message (`streaming/Htmls2PredsPipe.
    scala`) — this is the idiomatic-Spark extension (SURVEY §2.10).
    """
    horizon = _ATTRIBUTION_HORIZON
    # sane-clock guard before the watermark: a single corrupt
    # far-future event on either side would drag the global watermark
    # forward and silently drop every real pair (time-fuzz aligned)
    v = views.filter(valid_event_time("ts")).select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", horizon)
    c = clicks.filter(valid_event_time("ts")).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", horizon)
    cond = (
        (v["user_id"] == c["click_user_id"])
        & (c["click_ts"] >= v["view_ts"])
        & (c["click_ts"] <= v["view_ts"] + F.expr(f"INTERVAL {horizon}"))
    )
    return v.join(c, cond, how).select(
        "view_id",
        "click_id",
        "user_id",
        (epoch_seconds("click_ts") - epoch_seconds("view_ts")).alias("lag_seconds"),
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static broadcast join on user_id (J8/T-static): the static side is
    re-read per micro-batch; broadcast keeps it off the shuffle path —
    the model-registry / dMap lookup shape."""
    return stream.join(F.broadcast(dim), "user_id", "left")


SESSION_OUT_SCHEMA = (
    "user_id long, session_seq long, n_events long, "
    "session_start timestamp, session_end timestamp, duration_sec long"
)


def sessionize_stream(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the
    reference has NO stateful streaming — this is the idiomatic
    capability Spark adds): per-user session windows with a
    ``SESSION_GAP_MINUTES`` inactivity break. State = the open session;
    closed sessions emit as soon as a later event breaks the gap. The open
    (final) session stays in state — at 100 TB a GroupStateTimeout
    would flush idle users; with the bounded test source the batch
    sessionizer minus each user's last session is the exact oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_sec = SESSION_GAP_MINUTES * 60

    def fn(key, pdfs, state: GroupState):
        (user,) = key
        rows = []
        events = []
        for pdf in pdfs:
            events.append(pdf[["ts"]])
        ev = pd.concat(events).sort_values("ts")
        # second-truncated epochs match the batch sessionizer's
        # cast("long") semantics; go through datetime64[s] so the
        # conversion is exact whatever resolution (ns vs us) and tz
        # flavor pandas hands us
        secs = ev["ts"].values.astype("datetime64[s]").astype("int64").tolist()
        if state.exists:
            seq, n, start, last = state.get
        else:
            seq, n, start, last = 0, 0, None, None
        for s in secs:
            if last is not None and s - last <= gap_sec:
                n += 1
                last = s
                continue
            if n > 0:
                rows.append((user, seq, n, start, last))
                seq += 1
            n, start, last = 1, s, s
        state.update((seq, n, start, last))
        out = pd.DataFrame(
            rows, columns=["user_id", "session_seq", "n_events", "start_s", "end_s"]
        )
        if not out.empty:
            out["session_start"] = pd.to_datetime(out["start_s"], unit="s")
            out["session_end"] = pd.to_datetime(out["end_s"], unit="s")
            out["duration_sec"] = out["end_s"] - out["start_s"]
            yield out[
                ["user_id", "session_seq", "n_events", "session_start", "session_end", "duration_sec"]
            ]

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        "seq long, n long, start long, last long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_merge_into(stream: DataFrame, tbl) -> "StreamingQueryHolder":
    """foreachBatch MERGE sink — the Delta-style "streaming upsert"
    (T6 + K3 composed): each micro-batch aggregates per user_id
    (event count, value cents, latest event time) and merges
    ADDITIVELY into a ParquetMergeTable. The merge combine is
    commutative + exact (integer counts/cents, max on epoch micros),
    so the final table is independent of how the stream was cut into
    micro-batches — the property that makes a replayed/restarted
    stream converge to the same table. Each merge rewrites only the
    buckets its keys touch and publishes atomically.

    The batch NEVER reads current state: the additive fold happens
    INSIDE the merge via ``combine`` (``WHEN MATCHED THEN UPDATE SET
    n = n + new.n`` semantics), so the only state touched per trigger
    is the affected buckets the merge rewrites anyway —
    O(touched buckets), not O(table): the difference between a
    streaming upsert that survives 100 TB of keyed state and one
    that rescans the world every few seconds."""
    from htmlentityextraction_spark.functions.temporal import epoch_micros
    from htmlentityextraction_spark.operators.incremental import OP_UPSERT

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        agg = batch.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(measure_cents("value")).alias("sum_cents"),
            F.max(epoch_micros("ts")).alias("last_us"),
        ).withColumn("op", F.lit(OP_UPSERT))
        tbl.merge(agg, combine={"n_events": "sum", "sum_cents": "sum", "last_us": "max"})

    return start_bounded(stream.writeStream.foreachBatch(write_batch), scratch("ckpt_merge_"), [])


def run_to_memory(spark: SparkSession, df: DataFrame, complete: bool = False) -> DataFrame:
    """Execute a (bounded) streaming DataFrame with availableNow and
    return its full output as a batch DataFrame — the test/oracle
    harness for every query above (T9).

    Append-mode output goes through a parquet file sink and is read
    back distributed: the memory sink collects every row to the
    driver, which is both the slow path at sf0.1 (~2x the pure
    streaming execution) and a non-starter at scale. Complete-mode
    (unsupported by file sinks) keeps the memory sink — complete
    output is a re-emitted aggregate, small by construction; its view
    is named after the run's scratch dir."""
    out_dir = scratch("stream_")
    ckpt = os.path.join(out_dir, "_checkpoint")
    if complete:
        name = os.path.basename(out_dir)
        sink = df.writeStream.format("memory").queryName(name).outputMode("complete")
        start_bounded(sink, ckpt, []).await_done()
        return spark.table(name)
    start_bounded(df.writeStream.format("parquet").option("path", out_dir), ckpt, []).await_done()
    # explicit schema: a zero-row run leaves only _spark_metadata and
    # schema inference would fail; the streaming plan already knows it
    return spark.read.schema(df.schema).parquet(out_dir)
