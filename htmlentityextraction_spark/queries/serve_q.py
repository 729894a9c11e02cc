"""End-to-end streaming serve query (SURVEY.md §3.1): train the
per-domain registry in batch, then run the FULL streaming path —
json parse → extraction UDTF → broadcast-registry scoring → argmax
price → status → multiplexed sinks — and return the historical sink.
The planted-token construction keeps the output closed-form SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import (
    finite_measure_sql,
    price_status_sql,
    selected_price_sql,
)
from htmlentityextraction_spark.queries.ml import fit_once, model_pages
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.runner import scratch
from htmlentityextraction_spark.streaming import serve


def _page_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw JSON page messages (the Kafka payload shape) of the ML
    query pages (``ml.model_pages``) — including the zero-candidate
    bucket==1 pages the batch ML queries exclude."""
    pages = model_pages(spark, sf_dir)
    return pages.select(F.to_json(F.struct(*pages.columns)).alias("value"))


@register(
    "stream_serve_pipeline",
    f"""
    WITH o AS (
        SELECT 'http://d' || (o_orderkey % 8) || '.example.com/p/' || o_orderkey AS url,
               'd' || (o_orderkey % 8) || '.example.com' AS domain,
               CAST(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) || '.99' AS DOUBLE) AS p2,
               (o_orderkey // 16) % 3 AS bucket, (o_orderkey // 8) % 2 AS flip
        FROM (SELECT o_orderkey, max(o_totalprice) AS o_totalprice
              FROM orders WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
        WHERE {finite_measure_sql('o_totalprice')}
    )
    , m AS (
        SELECT url, domain,
               CASE WHEN bucket <> 1 AND flip = 0 THEN p2 ELSE -1.0 END AS model_price,
               CASE WHEN flip = 0 THEN p2 ELSE p2 + 1.0 END AS pattern_price
        FROM o
    ), s AS (
        -- a planted price inside (-1, 1) (floor(-0.0/subnormal).99
        -- = 0.99) hits the reference's toInt==0 pattern-failed branch
        SELECT url, domain, model_price, pattern_price,
               {price_status_sql('model_price', 'pattern_price')} AS status
        FROM m
    )
    SELECT url, domain, model_price, pattern_price, status,
           {selected_price_sql('status', 'model_price', 'pattern_price')} AS final_price
    FROM s
    """,
)
def stream_serve_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive pages recover their planted price through the whole
    streaming path (modeledPatternEquals); negative and zero-candidate
    pages fall to the -1 sentinel → allFalseCandids → pattern price."""
    registry = fit_once(spark, sf_dir)

    src = scratch("serve_src_")
    out = scratch("serve_out_")
    # NOT repartitioned to defaultParallelism before the write: moving
    # the batch_fn parallelism guard's shuffle upstream (source files
    # >= cores, the documented 100 TB posture) was ABBA-measured in
    # r13 and tied-to-worse (3.79 vs 4.04 s) — 32 file commits on the
    # fixture write cost what the single in-batch repartition costs
    # (OPTIMIZATION_r13.md).
    _page_messages(spark, sf_dir).write.mode("overwrite").parquet(src)
    raw = spark.readStream.schema("value string").parquet(src)
    serve.serve_stream(spark, raw, registry, out).await_done()
    return spark.read.parquet(os.path.join(out, "historical"))
