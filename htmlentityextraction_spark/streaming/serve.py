"""The full streaming serve path (SURVEY.md §3.1 — Htmls2PredsPipe):

    kafka(json pages) → typed parse → candidate-extraction UDTF →
    broadcast-registry scoring → per-url argmax price → status
    reconciliation → multiplexed sinks

as ONE Structured Streaming job. Every stage is the already-tested
batch operator — foreachBatch composes them per micro-batch, which is
exactly the reference's transform(rdd => …) shape (T3) with typed
DataFrames instead of string maps.

Scale: the registry is collected once at job start and broadcast
(matching `streaming/Htmls2PredsPipe.scala:89-90`); each micro-batch
is a narrow pipeline (parse/extract/score) plus one shuffle for the
per-url argmax — state-free, so throughput scales with executors and
Kafka partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark import schemas
from htmlentityextraction_spark.functions.pricing import price_status, selected_price
from htmlentityextraction_spark.functions.text import get_domain
from htmlentityextraction_spark.operators import extraction as ex
from htmlentityextraction_spark.operators import models as md
from htmlentityextraction_spark.streaming.pipeline import PASSING, StreamingQueryHolder


def score_pages_batch(pages: DataFrame, registry_rows: list) -> DataFrame:
    """One micro-batch (or batch) of parsed page messages → per-page
    model price, status, final price. Pages without any surviving
    candidate get the -1 sentinel (allFalseCandids path)."""
    pages = pages.withColumn("domain", get_domain(F.col("url")))
    cand = ex.extract_candidates(pages, html_col="html", url_col="url", snippet_size=150)
    # domain is a pure function of url, so derive it on the candidate
    # rows instead of broadcast-joining the page set back (optimization
    # r12, guide §2.4/§5): the old join collected every page's
    # (url, domain) to the driver EVERY micro-batch to build the
    # broadcast — measured 0.79 s vs 0.45 s per batch here, and a
    # driver-memory hazard at real batch sizes.
    cand = (
        cand.withColumn("domain", get_domain(F.col("url")))
        .withColumn("norm_location", ex.norm_location())
        .withColumn("label", F.lit(0))
    )
    feats = md.featurize_candidates(cand)
    scored = md.score_candidates(feats, registry_rows)
    picked = md.pick_model_price(scored)
    out = pages.join(picked.select("url", "model_price"), "url", "left")
    out = out.withColumn("model_price", F.coalesce(F.col("model_price"), F.lit(-1.0)))
    status = price_status(F.col("model_price"), F.col("updatedPrice"))
    return (
        out.withColumn("status", status)
        .withColumn(
            "final_price",
            selected_price(F.col("status"), F.col("model_price"), F.col("updatedPrice")),
        )
        .select(
            "url", "domain", "model_price",
            F.col("updatedPrice").alias("pattern_price"), "status", "final_price",
        )
    )


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
    measured as ties on this path (THROUGHPUT.md rounds 9-10)."""
    registry_rows = registry.collect() if isinstance(registry, DataFrame) else list(registry)
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
        result = score_pages_batch(parsed.filter(~F.col("is_corrupt")), registry_rows)
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
            result.write.mode("append").parquet(os.path.join(out_dir, "historical"))
            result.filter(F.col("status").isin(*PASSING)).write.mode("append").parquet(
                os.path.join(out_dir, "realtime")
            )
            result.filter(~F.col("status").isin(*PASSING)).write.mode("append").parquet(
                os.path.join(out_dir, "logs")
            )
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
