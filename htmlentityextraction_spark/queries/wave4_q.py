"""Wave-4 queries: as-of / interval joins, graph triangles,
stratified sampling, incremental join-view maintenance, and
streaming dedup — the temporal-join and maintenance patterns a
production user of the reference's analytics jobs
(`analytics/UpdateProdMetrics.scala`, `analytics/CalcIndices.scala`)
runs against event history, expressed in their scale-correct Spark
shapes (union+window as-of, grain-bucketed interval equi-join,
degree-oriented triangle join, delta-merge view maintenance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import measure_cents, measure_cents_sql
from htmlentityextraction_spark.functions.temporal import epoch_micros
from htmlentityextraction_spark.operators.asof import asof_join
from htmlentityextraction_spark.operators.incremental import ParquetMergeTable
from htmlentityextraction_spark.operators.interval import interval_join
from htmlentityextraction_spark.functions.temporal import (
    valid_date_axis,
    valid_date_axis_sql,
)
from htmlentityextraction_spark.functions.keys import valid_id
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.runner import scratch
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "asof_last_view_before_purchase",
    """
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS purchase_us,
           epoch_us(r.ts) AS view_us,
           round(r.value + 1e-9, 6) AS view_value,
           r.event_id AS view_event
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_last_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: every purchase attached to the user's
    most recent prior view (left-outer; never-viewed purchasers keep
    nulls). The oracle is DuckDB's native ASOF JOIN, so the hash
    match proves the union+window formulation IS the as-of join —
    with one key shuffle and no nested-loop plan (asof.py)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value")
    out = asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value", "event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_micros("ts").alias("purchase_us"),
        epoch_micros(F.col("asof_ts")).alias("view_us"),
        F.round(F.col("asof_value") + 1e-9, 6).alias("view_value"),
        F.col("asof_event_id").alias("view_event"),
    )


@register(
    "asof_next_error_within_tolerance",
    """
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS click_us,
           CASE WHEN r.ts IS NOT NULL
                 AND epoch_us(r.ts) - epoch_us(l.ts) <= 7200000000
                THEN epoch_us(r.ts) END AS err_us,
           CASE WHEN r.ts IS NOT NULL
                 AND epoch_us(r.ts) - epoch_us(l.ts) <= 7200000000
                THEN r.event_id END AS err_event
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
)
def asof_next_error_within_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with a tolerance: each click matched to the
    user's NEXT error event, nulled when it is more than 2 hours out
    (pandas merge_asof tolerance semantics). Exercises the mirrored
    (descending-ts) window path of the same one-shuffle plan."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    out = asof_join(
        clicks, errors, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["event_id"], direction="forward", tolerance_seconds=7200,
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_micros("ts").alias("click_us"),
        epoch_micros(F.col("asof_ts")).alias("err_us"),
        F.col("asof_event_id").alias("err_event"),
    )


@register(
    "interval_outage_click_attribution",
    """
    SELECT c.event_id AS click_id, o.event_id AS outage_id, c.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'error') o
      ON c.user_id = o.user_id
     AND c.ts >= o.ts AND c.ts < o.ts + INTERVAL 1 HOUR
    """,
)
def interval_outage_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: each error opens a 1-hour outage window; every
    click inside a window of the same user is attributed to it
    (clicks in overlapping windows match each). The oracle is the
    non-equi SQL join; the Spark plan is the grain-bucketed
    EQUI-join (interval.py) — contract-tested to contain no
    BroadcastNestedLoopJoin."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    outages = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
        F.col("event_id").alias("outage_id"),
    )
    out = interval_join(
        clicks, outages, on="user_id", point_ts="ts",
        start_ts="start_ts", end_ts="end_ts",
    )
    return out.select("click_id", "outage_id", "user_id")


@register(
    "stratified_sample_by_lang",
    """
    WITH d AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents)
    SELECT doc_id, lang FROM d WHERE rn <= CAST(ceil(0.1 * n) AS BIGINT)
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified 10% sample per language — the training-data
    subsampling primitive (keep per-language proportions while
    shrinking the corpus). Deterministic and engine-portable: rows
    rank by md5(doc_id) inside each stratum (md5 is identical in
    Spark and DuckDB, unlike each engine's native hash), and the top
    ceil(0.1·n) survive. One window over one shuffle by stratum —
    sampleBy()-shaped but exact, reproducible, and joinable at any
    scale."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    n = Window.partitionBy("lang")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(n))
        .filter(F.col("rn") <= F.ceil(F.lit(0.1) * F.col("n")))
        .select("doc_id", "lang")
    )


@register(
    "triangle_count_copurchase",
    """
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*)
                 FROM e e1
                 JOIN e e2 ON e2.pa = e1.pb
                 JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb) AS BIGINT)
               AS n_triangles
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the co-purchase graph (parts sharing an
    order are connected). The Spark plan uses DEGREE ORIENTATION
    (node-iterator++ / Schank's algorithm): each undirected edge is
    directed from its lower-(degree, id) endpoint, making the graph a
    DAG in which every triangle appears exactly once and — the scale
    property — wedge fan-out is bounded by the SMALLER endpoint
    degree, so hub nodes (every graph has them) cannot create
    quadratic wedge lists. Triangle counts are orientation-invariant,
    so the id-ordered SQL oracle proves correctness."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    deg = (
        edges.select(F.col("pa").alias("p"))
        .unionAll(edges.select(F.col("pb").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("deg"))
    )
    # orient low-(deg, id) -> high-(deg, id)
    e = (
        edges.join(F.broadcast(deg.select(F.col("p").alias("pa"), F.col("deg").alias("da"))), "pa")
        .join(F.broadcast(deg.select(F.col("p").alias("pb"), F.col("deg").alias("db"))), "pb")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))),
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
            )
            .otherwise(F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")))
            .alias("e")
        )
        .select("e.src", "e.dst")
    )
    e1 = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"]).agg(F.count("*").alias("n_triangles"))
    return (
        edges.agg(F.count("*").alias("n_edges"))
        .crossJoin(F.broadcast(tri))
        .select(F.col("n_edges").cast("long"), F.col("n_triangles").cast("long"))
    )


@register(
    "matview_join_incremental",
    """
    WITH j AS (
        SELECT c.c_nationkey AS nk,
               CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT)
                   AS yyyymm,
               {cents} AS cents
        -- c_nationkey IS NOT NULL: a customer without a nation has
        -- no (nation, month) cell — and a NULL merge key would split
        -- base/delta into two unmergeable rows (keyfuzz r12). BIGINT
        -- cast BEFORE the multiply: a dangling int32 sentinel nation
        -- key overflows duck's INT32 multiply otherwise.
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE {vt} AND c.c_nationkey IS NOT NULL)
    SELECT CAST(CAST(nk AS BIGINT) * 1000000 + yyyymm AS BIGINT) AS view_key,
           CAST(nk AS BIGINT) AS c_nationkey, yyyymm,
           count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM j GROUP BY 1, 2, 3
    """.format(cents=measure_cents_sql("o.o_totalprice"),
               vt=valid_date_axis_sql("o.o_orderdate")),
)
def matview_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance: the materialized view
    revenue-per-(nation, month) over orders ⋈ customer is built from
    orders before 1999, then the remaining orders arrive as a DELTA
    and are folded in WITHOUT recomputing the base — delta ⋈ dim,
    partial-aggregated, then MERGE with combine=sum into the view's
    merge table (the ΔA ⋈ B delta-propagation rule; insert-only
    deltas need no retraction handling). The oracle is the full
    recompute, so the hash match proves base + delta converges to
    the one-shot view. At 100 TB the daily maintenance cost is
    O(delta + touched buckets), never O(history)."""
    # an undated order has no (nation, month) cell, and the NULL would
    # otherwise vanish from the base/delta split (NULL < cutoff is
    # NULL) while the oracle's full recompute keeps it — r10 datenull
    orders = load_table(spark, sf_dir, "orders").filter(
        valid_date_axis("o_orderdate")
    ).select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(valid_id("c_nationkey"))
        .select("c_custkey", "c_nationkey")
    )

    def view_rows(o: DataFrame) -> DataFrame:
        j = o.join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        yyyymm = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long")
        return (
            j.select(
                F.col("c_nationkey").cast("long").alias("c_nationkey"),
                yyyymm.alias("yyyymm"),
                measure_cents("o_totalprice").alias("cents"),
            )
            .groupBy("c_nationkey", "yyyymm")
            .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("sum_cents"))
            .select(
                (F.col("c_nationkey") * 1000000 + F.col("yyyymm")).alias("view_key"),
                "c_nationkey", "yyyymm", "n_orders", "sum_cents",
            )
        )

    cutoff = F.lit("1999-01-01").cast("timestamp")
    path = scratch("matview_")
    tbl = ParquetMergeTable(spark, path, key_col="view_key", num_buckets=8)
    tbl.create(view_rows(orders.filter(F.col("o_orderdate") < cutoff)))
    delta = view_rows(orders.filter(F.col("o_orderdate") >= cutoff)).withColumn(
        "op", F.lit("upsert")
    )
    tbl.merge(delta, combine={"n_orders": "sum", "sum_cents": "sum"})
    return tbl.read()


@register(
    "stream_dedup_within_watermark",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           round(value + 1e-9, 6) AS value
    FROM events
    WHERE ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00'
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup (T-family + P5 composed): the
    topic carries every event TWICE (at-least-once delivery), and
    ``dropDuplicatesWithinWatermark`` on the event id restores
    exactly-once — the oracle is the plain batch table, each event
    exactly once. The watermark bounds dedup state: at 100 TB of
    stream history, state holds only ids within the lateness horizon,
    never the full stream (the unbounded-state trap of plain
    dropDuplicates)."""
    from htmlentityextraction_spark.streaming import pipeline as sp

    ev = load_table(spark, sf_dir, "events")
    topic = scratch("dup_topic_")
    ev.unionByName(ev).coalesce(1).write.mode("overwrite").parquet(topic)
    from htmlentityextraction_spark.functions.temporal import valid_event_time

    # sane-clock guard BEFORE the watermark: one far-future corrupt
    # ts advances the watermark past every real event, evicting dedup
    # state early and re-admitting duplicates (time-fuzz aligned)
    stream = sp.read_events_stream(spark, sf_dir, events_dir=topic).filter(
        valid_event_time("ts")
    )
    dedup = stream.withWatermark("ts", "365 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = sp.run_to_memory(spark, dedup)
    return out.select(
        "event_id",
        "user_id",
        epoch_micros("ts").alias("ts_us"),
        F.round(F.col("value") + 1e-9, 6).alias("value"),
    )
