"""Structured-Streaming queries (SURVEY.md §2.10). Each runs a real
streaming query (file source → availableNow trigger → memory or
foreachBatch sink) to completion and returns the sink contents; since
availableNow over a static dir processes exactly the batch data, every
entry carries a full DuckDB oracle — the streaming plans are held to
the same hash-match bar as the batch ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import (
    finite_measure_sql,
    measure_cents,
    measure_cents_sql,
    price_status_sql,
    selected_price_sql,
    passing_sql,
)
from htmlentityextraction_spark.functions.keys import valid_id
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.runner import scratch
from htmlentityextraction_spark.sources.tables import load_table
from htmlentityextraction_spark.streaming import pipeline as sp

_ENRICH_SQL = f"""
    WITH base AS (
        SELECT event_id, ts, user_id, event_type, value,
               CASE WHEN json_valid(props)
                    THEN CAST(json_extract(props, '$.k') AS BIGINT)
               END AS props_k,
               CASE WHEN event_id % 7 = 0 THEN -1.0
                    WHEN event_id % 11 = 0 THEN -2.0
                    WHEN event_id % 3 = 0 AND {finite_measure_sql('value')} THEN floor(value * 1.05 * 100) / 100
                    ELSE value END AS model_price,
               CASE WHEN event_id % 5 = 0 THEN 0.0 ELSE value END AS pattern_price
        FROM events
    ), st AS (
        SELECT *, {price_status_sql('model_price', 'pattern_price')} AS status FROM base
    )
    SELECT event_id, ts, user_id, event_type, value, props_k,
           model_price, pattern_price, status,
           {selected_price_sql('status', 'model_price', 'pattern_price')} AS final_price
    FROM st
"""


@register("stream_enrich_status", _ENRICH_SQL)
def stream_enrich_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 stateless enrichment: streaming from_json + status/final-price
    CASE chains, availableNow to memory sink."""
    enriched = sp.enrich_events(sp.read_events_stream(spark, sf_dir))
    return sp.run_to_memory(spark, enriched).select(
        "event_id", "ts", "user_id", "event_type", "value", "props_k",
        "model_price", "pattern_price", "status", "final_price",
    )


@register(
    "stream_multiplex_sinks",
    f"""
    WITH enr AS ({_ENRICH_SQL})
    SELECT 'historical' AS sink, count(*) AS n FROM enr
    UNION ALL
    SELECT 'realtime', count(*) FROM enr
    WHERE {passing_sql('status')}
    UNION ALL
    SELECT 'logs', count(*) FROM enr
    WHERE NOT {passing_sql('status')}
    """,
)
def stream_multiplex_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/T6 multiplexed foreachBatch fan-out: historical (all),
    realtime (passing), logs (errored) parquet sinks; returns per-sink
    row counts read back from disk."""
    enriched = sp.enrich_events(sp.read_events_stream(spark, sf_dir))
    out_dir = scratch("mux_")
    sp.route_to_sinks(enriched, out_dir).await_done()
    parts = []
    for sink in ("historical", "realtime", "logs"):
        parts.append(
            spark.read.parquet(f"{out_dir}/{sink}").agg(
                F.lit(sink).alias("sink"), F.count("*").alias("n")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


@register(
    "stream_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(sum(CASE WHEN {fv} THEN value END) + 1e-9, 6) AS sum_value
    FROM events GROUP BY 1, 2
    """.format(fv=finite_measure_sql("value")),
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 upgrade: tumbling 1h event-time windows + watermark
    (complete-mode memory sink so every window is visible to the
    oracle; append mode would hold back the watermark tail)."""
    enriched = sp.enrich_events(sp.read_events_stream(spark, sf_dir))
    return sp.run_to_memory(spark, sp.windowed_counts(enriched), complete=True)


@register(
    "stream_sliding_avg",
    """
    WITH expanded AS (
        SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                       date_trunc('hour', ts)]) AS window_start,
               event_type, value
        FROM events
    )
    SELECT window_start, event_type,
           round(avg(CASE WHEN {fv} THEN value END) + 1e-9, 6) AS avg_value
    FROM expanded GROUP BY 1, 2
    """.format(fv=finite_measure_sql("value")),
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h windows: each event lands in two windows — the
    oracle expands the assignment explicitly."""
    enriched = sp.enrich_events(sp.read_events_stream(spark, sf_dir))
    return sp.run_to_memory(spark, sp.sliding_avg(enriched), complete=True)


@register(
    "stream_dedup_events",
    # the pipeline's sane-clock guard drops corrupt event times
    # BEFORE the watermark (one far-future ts would starve the
    # stream) - the oracle mirrors the validity window
    """SELECT event_id, user_id, event_type, value FROM events
    WHERE ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00'""",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the source is unioned with itself (every
    event arrives twice) and dropDuplicates(event_id) within the
    watermark horizon must restore exactly-once."""
    s1 = sp.read_events_stream(spark, sf_dir)
    s2 = sp.read_events_stream(spark, sf_dir)
    deduped = sp.stream_dedup(s1.union(s2))
    return sp.run_to_memory(spark, deduped).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "stream_stream_attribution",
    """
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           CAST(floor(epoch(c.ts)) - floor(epoch(v.ts)) AS BIGINT) AS lag_seconds
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND v.ts >= TIMESTAMP '2000-01-01 00:00:00' AND v.ts < TIMESTAMP '2100-01-01 00:00:00'
      AND c.ts >= TIMESTAMP '2000-01-01 00:00:00' AND c.ts < TIMESTAMP '2100-01-01 00:00:00'
    """,
)
def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream windowed inner join: clicks attributed to the
    same user's views within 10 minutes, watermarks bounding the join
    state on both sides. The oracle is the batch time-band join —
    inner matches emit eagerly, so the bounded run must equal it
    exactly."""
    views = sp.read_events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    clicks = sp.read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    joined = sp.stream_stream_attribution(views, clicks, "inner")
    return sp.run_to_memory(spark, joined)


@register(
    "stream_static_enrichment",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/T-static: stream-static broadcast join against the customer
    dim (the model-registry / dMap lookup shape)."""
    stream = sp.read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    joined = sp.stream_static_enrich(stream, dim)
    return sp.run_to_memory(spark, joined).select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value"
    )


@register(
    "stream_stream_attribution_outer",
    """
    WITH v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
               FROM events WHERE event_type = 'view'
                 AND ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00'),
         c AS (SELECT event_id AS click_id, user_id AS cu, ts AS click_ts
               FROM events WHERE event_type = 'click'
                 AND ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00'),
         matched AS (
             SELECT v.view_id, c.click_id, v.user_id,
                    CAST(floor(epoch(c.click_ts)) - floor(epoch(v.view_ts)) AS BIGINT)
                        AS lag_seconds
             FROM v JOIN c
               ON v.user_id = c.cu
              AND c.click_ts >= v.view_ts
              AND c.click_ts <= v.view_ts + INTERVAL 10 MINUTE
         ),
         wm AS (SELECT least((SELECT max(view_ts) FROM v),
                             (SELECT max(click_ts) FROM c))
                       - INTERVAL 10 MINUTE AS w)
    SELECT view_id, click_id, user_id, lag_seconds FROM matched
    UNION ALL
    SELECT v.view_id, CAST(NULL AS BIGINT), v.user_id, CAST(NULL AS BIGINT)
    FROM v, wm
    WHERE v.view_id NOT IN (SELECT view_id FROM matched)
      AND v.view_ts + INTERVAL 10 MINUTE < wm.w
    """,
)
def stream_stream_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER attribution: matched view→click pairs
    plus null-click rows for views the watermark has proven
    unmatchable (view_ts + horizon < min-side watermark). The oracle
    encodes the watermark emission boundary exactly, so the hash
    match proves both the join result AND the outer-emission
    semantics — including that still-matchable tail views are
    withheld."""
    views = sp.read_events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    clicks = sp.read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    joined = sp.stream_stream_attribution(views, clicks, "left_outer")
    return sp.run_to_memory(spark, joined)


@register(
    "stream_merge_upsert_per_user",
    f"""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum({measure_cents_sql('value')}) AS BIGINT)
               AS sum_cents,
           epoch_us(max(ts)) AS last_us
    -- valid_id: the merge-table key is an identity — a NULL user id
    -- has no upsert target (keyfuzz r12, same contract as merge_q)
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    """,
)
def stream_merge_upsert_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE sink: the events stream is cut into 4
    micro-batches (maxFilesPerTrigger=1 over a 4-file topic) and each
    batch merges per-user running aggregates into a ParquetMergeTable
    (additive exact combine — see pipeline.stream_merge_into). The
    oracle is the plain batch groupBy, so the hash match proves the
    incremental per-batch merges converge to exactly the one-shot
    answer regardless of batch boundaries."""
    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

    # 4-file topic dir → 4 micro-batches; coalesce, not repartition:
    # any 4-way cut is a valid micro-batch split (the merge combine is
    # batch-boundary-independent), so don't pay a full shuffle for it
    topic = scratch("merge_topic_")
    load_table(spark, sf_dir, "events").coalesce(4).write.mode("overwrite").parquet(topic)

    tpath = scratch("stream_merge_tbl_")
    tbl = ParquetMergeTable(spark, tpath, key_col="user_id", num_buckets=8)
    tbl.create(
        spark.createDataFrame([], "user_id long, n_events long, sum_cents long, last_us long")
    )
    stream = sp.read_events_stream(
        spark, sf_dir, events_dir=topic, max_files_per_trigger=1
    ).filter(valid_id("user_id"))
    sp.stream_merge_into(stream, tbl).await_done()
    return tbl.read()


@register(
    "stream_bloom_prefilter_route",
    f"""
    WITH vip AS (
        SELECT user_id,
               CAST(sum({measure_cents_sql('value')}) AS BIGINT)
                   AS spend_cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
        HAVING sum({measure_cents_sql('value')}) >= 75000
    )
    SELECT e.event_id, e.user_id, vip.spend_cents
    FROM events e JOIN vip ON e.user_id = vip.user_id
    WHERE e.event_type = 'click'
    """,
)
def stream_bloom_prefilter_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of the wave-6 Bloom pre-filter with the streaming
    layer: a batch job derives the high-spend user set, builds its
    Bloom bit-set ONCE, and the click stream is cut by broadcast bit
    tests inside every micro-batch BEFORE the exact stream-static
    join — the shape a 100 TB clickstream needs when the dim is too
    large to ship but its Bloom is kilobytes. The oracle is the plain
    batch join; hash equality proves the bloom stage admits a
    superset per micro-batch and the exact join removes the rest,
    independent of batch boundaries."""
    from htmlentityextraction_spark.operators.bloomjoin import (
        bloom_build,
        bloom_prefilter,
    )

    ev = load_table(spark, sf_dir, "events")
    vip = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(measure_cents("value")).alias("spend_cents"))
        .where(F.col("spend_cents") >= 75000)
    )
    # build once, reuse across micro-batches. localCheckpoint, not
    # cache(): a cache held at return is plan-keyed and a rebuilt
    # invocation in the same session would re-hit it (cross-run
    # caching — r13, same standard as table_diff/minhash). Local-mode
    # assumption: localCheckpoint blocks live only on executors and
    # lineage is cut, so on a cluster an executor loss would make this
    # frame unrecoverable mid-stream; a cluster deployment needs a
    # reliable checkpoint() or a persist unpersisted by the caller.
    words = bloom_build(vip, "user_id", num_bits=1 << 14).localCheckpoint()

    stream = sp.read_events_stream(spark, sf_dir)
    clicks = stream.where(F.col("event_type") == "click")
    pruned = bloom_prefilter(clicks, "user_id", words, num_bits=1 << 14)
    joined = pruned.join(F.broadcast(vip), "user_id", "inner")
    out = sp.run_to_memory(spark, joined)
    return out.select("event_id", "user_id", "spend_cents")


@register(
    "stream_dq_quarantine",
    """
    WITH checked AS (
        SELECT event_id,
               -- isnan named explicitly: DuckDB's vectorized column
               -- comparison lets NaN pass a range predicate that the
               -- same literal comparison rejects (NaN-fuzz)
               (NOT isnan(value) AND value >= 0 AND value <= 400) AS ok_value,
               event_type IN ('view','click','purchase','signup','error') AS ok_type,
               user_id IS NOT NULL AS ok_user
        FROM events
    )
    SELECT 'passed' AS sink, CAST(count(*) AS BIGINT) AS n
    FROM checked WHERE ok_value AND ok_type AND ok_user
    UNION ALL
    SELECT 'quarantined', CAST(count(*) AS BIGINT)
    FROM checked WHERE NOT (ok_value AND ok_type AND ok_user)
    UNION ALL
    SELECT 'viol_value', CAST(count(*) AS BIGINT) FROM checked WHERE NOT ok_value
    UNION ALL
    SELECT 'viol_type', CAST(count(*) AS BIGINT) FROM checked WHERE NOT ok_type
    """,
)
def stream_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data contract: every micro-batch applies row-level
    expectations (value range, enum membership, key presence) and
    routes violators to a quarantine sink instead of failing the
    pipeline or silently passing bad rows downstream — the streaming
    face of dq_expectation_report's declared checks, composed with
    the multiplexed-sink machinery (T5/T6). The oracle recomputes
    every sink's cardinality in batch; the hash match proves routing
    is exhaustive and exclusive (passed + quarantined = all) across
    arbitrary batch boundaries."""
    stream = sp.read_events_stream(spark, sf_dir)
    ok_value = ~F.isnan("value") & F.col("value").between(0, 400)
    ok_type = F.col("event_type").isin("view", "click", "purchase", "signup", "error")
    ok_user = F.col("user_id").isNotNull()
    checked = stream.withColumn("__pass", ok_value & ok_type & ok_user).withColumn(
        "__viol_value", ~ok_value
    ).withColumn("__viol_type", ~ok_type)

    out_dir = scratch("dqq_")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            batch.where("__pass").drop("__pass", "__viol_value", "__viol_type").write.mode(
                "append"
            ).parquet(f"{out_dir}/passed")
            batch.where(~F.col("__pass")).drop("__pass").write.mode("append").parquet(
                f"{out_dir}/quarantined"
            )
        finally:
            batch.unpersist()

    sp.start_bounded(checked.writeStream.foreachBatch(write_batch), f"{out_dir}/_checkpoint", []).await_done()
    passed = spark.read.parquet(f"{out_dir}/passed")
    try:
        quarantined = spark.read.parquet(f"{out_dir}/quarantined")
    except Exception:  # no violators -> sink dir never created
        quarantined = spark.createDataFrame([], checked.drop("__pass").schema)
    parts = [
        passed.agg(F.lit("passed").alias("sink"), F.count(F.lit(1)).alias("n")),
        quarantined.agg(F.lit("quarantined").alias("sink"), F.count(F.lit(1)).alias("n")),
        quarantined.where("__viol_value").agg(
            F.lit("viol_value").alias("sink"), F.count(F.lit(1)).alias("n")
        ),
        quarantined.where("__viol_type").agg(
            F.lit("viol_type").alias("sink"), F.count(F.lit(1)).alias("n")
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
