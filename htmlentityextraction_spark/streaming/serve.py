"""The full streaming serve path (SURVEY.md §3.1 — Htmls2PredsPipe):

    kafka(json pages) → typed parse → per-page map (extract candidates
    → featurize → score with the domain's model → top-1 positive
    candidate) → price/status reconciliation → multiplexed sinks

as ONE Structured Streaming job, micro-batch by micro-batch through
foreachBatch — the reference's transform(rdd => …) shape (T3) with
typed DataFrames instead of string maps.

The per-page work is ONE ``mapInArrow``, the production page scorer
``models.pick_pages``, like the reference's one per-record map
(`streaming/Htmls2PredsPipe.scala:104-159`): for each Arrow batch it
runs the extraction reference ``extract_candidates_py``, hashes the
candidate context of each domain's pages in one ``models.term_ids_py``
call, builds each domain's top-k tf-idf matrix once
(``models.selected_tfidf``), calls that domain's GBT once, and reduces
to one row per page. Price parsing, the sentinels, status and final
price stay JVM expressions.

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
from htmlentityextraction_spark.streaming.pipeline import StreamingQueryHolder, write_status_sinks


def _score_pages(pages: DataFrame, registry: Broadcast) -> DataFrame:
    """``score_pages_batch`` against an already-broadcast
    ``models.registry_models`` value."""
    picked = md.pick_pages(pages, registry)
    model_price = md.model_price(F.col("max_pred"), F.col("best"))
    status = price_status(F.col("model_price"), F.col("pattern_price"))
    return (
        picked.select(
            "url", "domain", model_price.alias("model_price"),
            F.col("updatedPrice").alias("pattern_price"),
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
    return _score_pages(pages, registry)


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

    Every sink writes one file per partition of the micro-batch, and
    the boundary ``from_json`` parses the full PAGE_MESSAGE_SCHEMA:
    a coalesce of the filtered sinks and a pruned 3-field parse both
    measured as ties on this path (THROUGHPUT.md rounds 9-10). The
    registry is broadcast once, when the stream starts, and every
    micro-batch scores against that broadcast."""
    registry_bc = spark.sparkContext.broadcast(md.registry_models(registry))
    want_parallelism = spark.sparkContext.defaultParallelism

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        # A micro-batch inherits the SOURCE's partitioning (Kafka topic
        # partitions / input files). With fewer partitions than cores
        # the whole narrow parse->extract->score pipeline serializes
        # onto that many Python workers — measured 19x slower on a
        # 1-file 300 MB batch (tools/serve_throughput.py --files 1).
        # One up-front repartition of the raw payloads buys full
        # parallelism for every downstream stage; skipped when the
        # source already supplies enough splits (the 100 TB posture:
        # provision topic partitions >= fleet cores and this is free).
        if batch.rdd.getNumPartitions() < want_parallelism:
            batch = batch.repartition(want_parallelism)
        parsed = schemas.parse_page_messages(batch)
        # the corrupt side output reads raw_payload only for corrupt
        # rows, yet the cache below would otherwise materialize the
        # FULL json payload (html-dominated — roughly the size of all
        # parsed columns combined) for every healthy row too; null it
        # out pre-persist (optimization r12, guide §5.2 — cache only
        # what is read). Sink outputs are identical: corrupt rows keep
        # their payload verbatim. (The r12 A/B kill switch
        # SPARK_GRAFT_SERVE_SLIM was pruned in r13 after adjudication.)
        parsed = parsed.withColumn(
            "raw_payload",
            F.when(F.col("is_corrupt"), F.col("raw_payload")),
        )
        parsed.persist()
        result = _score_pages(parsed.filter(~F.col("is_corrupt")), registry_bc)
        result.persist()
        try:
            # NOT gated on emptiness: probing the cache first and
            # skipping the all-healthy batch's empty corrupt write was
            # ABBA-measured in r13 and TIED (4.32 vs 4.43 s) — the
            # isEmpty probe is itself a full cached-scan job, exactly
            # the cost of the empty append it would save
            # (OPTIMIZATION_r13.md).
            parsed.filter(F.col("is_corrupt")).select(
                "raw_payload", F.lit("corruptMessage").alias("status")
            ).write.mode("append").parquet(os.path.join(out_dir, "logs_corrupt"))
            write_status_sinks(result, out_dir)
        finally:
            result.unpersist()
            parsed.unpersist()

    q = (
        raw_stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    return StreamingQueryHolder(q, out_dir)
