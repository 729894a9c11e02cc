"""The full streaming serve path (SURVEY.md §3.1 — Htmls2PredsPipe):

    kafka(json pages) → typed parse → per-page map (extract candidates
    → featurize → score with the domain's model → top-1 positive
    candidate) → price/status reconciliation → multiplexed sinks

as ONE Structured Streaming job, micro-batch by micro-batch through
foreachBatch — the reference's transform(rdd => …) shape (T3) with
typed DataFrames instead of string maps.

The per-page work is ONE ``mapInArrow``, the production page scorer
``models.pick_pages`` (its forward columns carry the corrupt
messages' payload past it), like the reference's one per-record map
(`streaming/Htmls2PredsPipe.scala:104-159`): for each Arrow batch it
runs the extraction reference ``extract_candidates_py``, hashes the
candidate context of each domain's pages in one ``models.term_ids_py``
call, builds each domain's top-k tf-idf matrix once
(``models.selected_tfidf``), calls that domain's GBT once, and reduces
to one row per page. Price parsing, the sentinels, status and final
price stay JVM expressions.

Each micro-batch is ONE Spark pass (``serve_batch`` + the
``pipeline.write_sinks`` writer): the batch is read once and parsed
once above the parallelism guard's Exchange; every message, corrupt
ones included, flows through the one scorer map, which forwards the
corrupt ones' payload (their html is null, so they cost nothing);
the JVM status projections follow; and one ``mapInArrow`` writer per
partition writes all four sinks with ``pyarrow.parquet`` and returns
the batch's counters, as the reference's one ``foreachPartition``
producer and accumulators do (`utils/Utils.scala:442-460`,
`streaming/Htmls2PredsPipe.scala:74-84`). Sink files are named
``part-<batch_id>-<partition>.parquet``, so a batch replayed after a
restart overwrites its own files: each page lands once per sink, not
once per attempt.

Scale: the registry is collected and broadcast once per stream
(matching `streaming/Htmls2PredsPipe.scala:89-90`); each micro-batch
is narrow — no shuffle, no join, no aggregate after the parallelism
guard — and state-free, so throughput scales with executors and
Kafka partitions. A url repeated within one micro-batch is scored per
message, as the reference does.
"""

from __future__ import annotations

import os

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark import schemas
from htmlentityextraction_spark.functions.pricing import price_status, selected_price
from htmlentityextraction_spark.operators import models as md
from htmlentityextraction_spark.streaming.pipeline import StreamingQueryHolder, start_bounded, write_sinks


def _score_pages(pages: DataFrame, registry: Broadcast, forward: tuple[str, ...]) -> DataFrame:
    """``score_pages_batch`` against an already-broadcast
    ``models.registry_models`` value, with each page's ``forward``
    columns carried through."""
    picked = md.pick_pages(pages, registry, forward)
    model_price = md.model_price(F.col("max_pred"), F.col("best"))
    status = price_status(F.col("model_price"), F.col("pattern_price"))
    return (
        picked.select(
            "url", "domain", model_price.alias("model_price"),
            F.col("updatedPrice").alias("pattern_price"), *forward,
        )
        .withColumn("status", status)
        .withColumn(
            "final_price",
            selected_price(F.col("status"), F.col("model_price"), F.col("pattern_price")),
        )
    )


def score_pages_batch(pages: DataFrame, registry_rows: list) -> DataFrame:
    """One micro-batch (or batch) of parsed page messages → per-page
    (url, domain, model_price, pattern_price, status, final_price),
    one row per page. Pages without any surviving candidate get the -1
    sentinel (allFalseCandids path)."""
    registry = pages.sparkSession.sparkContext.broadcast(md.registry_models(registry_rows))
    return _score_pages(pages, registry, ())


def serve_batch(batch: DataFrame, registry: Broadcast, parallelism: int) -> DataFrame:
    """One micro-batch of raw JSON messages → one scored row per
    message: ``score_pages_batch``'s columns plus raw_payload, which is
    non-null exactly on the corrupt messages. Corrupt messages reach
    the scorer with null html (a partial parse can fill some of their
    fields), so they cost nothing there.

    A micro-batch inherits the SOURCE's partitioning (Kafka topic
    partitions / input files). With fewer partitions than cores the
    whole narrow parse->extract->score pipeline serializes onto that
    many Python workers — measured 19x slower on a 1-file 300 MB batch
    (tools/serve_throughput.py --files 1). One up-front repartition of
    the raw payloads buys full parallelism for every downstream stage;
    skipped when the source already supplies enough splits.

    The parse is one projection above that Exchange, and corrupt rows
    are not filtered into a branch of their own: a filter on the
    parsed corrupt flag is pushed below the Exchange, which runs
    ``from_json`` up to three times."""
    if batch.rdd.getNumPartitions() < parallelism:
        batch = batch.repartition(parallelism)
    parsed = schemas.parse_page_messages(batch)
    corrupt = F.col("is_corrupt")
    pages = parsed.select(
        "url",
        F.when(~corrupt, F.col("html")).alias("html"),
        "updatedPrice",
        F.when(corrupt, F.col("raw_payload")).alias("raw_payload"),
    )
    return _score_pages(pages, registry, ("raw_payload",))


def serve_stream(
    spark: SparkSession,
    raw_stream: DataFrame,
    registry: DataFrame | list,
    out_dir: str,
) -> StreamingQueryHolder:
    """Run the serve path over a stream of raw JSON page messages,
    fanning out to historical/ (all), realtime/ (passing), logs/
    (errored) parquet sinks, and logs_corrupt/ for unparseable
    messages (payload preserved — the reference's error topic routing,
    `utils/Utils.scala:442-460`, not a silent drop).

    Each micro-batch is one Spark pass: ``serve_batch`` parses and
    scores it, and ``pipeline.write_sinks``'s one writer map writes
    all four sinks, one ``part-<batch_id>-<partition>.parquet`` file
    per partition and sink. A replayed batch (a restart after its
    output was written but before its commit) deletes and rewrites
    its own files, so every sink holds each message once. The
    registry is broadcast once, when the stream starts, and every
    micro-batch scores against that broadcast. ``out_dir`` is an
    absolute path or a URI; ``holder.metrics`` gets one dict of
    counters per micro-batch (``write_sinks``'s, plus batch_id)."""
    registry_bc = spark.sparkContext.broadcast(md.registry_models(registry))
    want_parallelism = spark.sparkContext.defaultParallelism
    metrics: list[dict] = []

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        scored = serve_batch(batch, registry_bc, want_parallelism)
        metrics.append({"batch_id": batch_id, **write_sinks(scored, out_dir, batch_id)})

    return start_bounded(
        raw_stream.writeStream.foreachBatch(batch_fn), os.path.join(out_dir, "_checkpoint"), metrics
    )
