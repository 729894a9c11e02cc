"""Wave-10 queries: per-dimension embedding profiling and PSI
distribution-drift monitoring.

Both are corpus-health operators a 100 TB training pipeline runs
continuously: feature-space statistics per embedding dimension (the
input to whitening / feature-scaling decisions and a NaN/collapse
detector), and the population stability index between a reference and
a current window (the standard drift alarm for a feature feeding a
model)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.operators.similarity import (
    VALID_VEC_SQL,
    valid_vectors,
)
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "embedding_dimension_profile",
    f"""
    WITH x AS (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
        WHERE {VALID_VEC_SQL.format(c='embedding')}
    )
    SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
           round(avg(v) + 1e-9, 6) AS mean,
           round(stddev_pop(v) + 1e-9, 6) AS std,
           round(min(v) + 1e-9, 6) AS vmin,
           round(max(v) + 1e-9, 6) AS vmax
    FROM x GROUP BY dim
    """,
)
def embedding_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension statistics of the embedding space (mean, std,
    min, max over each of the 64 coordinates): the profile behind
    feature scaling, whitening, dead-dimension detection and
    anisotropy checks. One posexplode + one groupBy on the
    64-value dimension domain — the shuffle carries (dim, partial
    moments), not vectors; at 100 TB the combine is map-side and the
    reduce side sees 64 keys.

    Corrupt VECTORS (NULL / NaN / out-of-domain elements) are dropped
    whole at the standard `valid_vectors` boundary before exploding —
    the r10 second-moment class audit: a raw stddev_pop over a
    poisoned element diverges cross-engine (DuckDB var_pop RAISES on
    NaN/1e308 where Spark propagates NaN), and a one-bad-element
    vector is a failed encoder write, not 63 good measurements."""
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings")).select(
        F.posexplode("embedding").alias("pos", "v")
    )
    x = emb.select((F.col("pos") + 1).cast("long").alias("dim"), F.col("v").cast("double").alias("v"))
    return x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v") + F.lit(1e-9), 6).alias("mean"),
        F.round(F.stddev_pop("v") + F.lit(1e-9), 6).alias("std"),
        F.round(F.min("v") + F.lit(1e-9), 6).alias("vmin"),
        F.round(F.max("v") + F.lit(1e-9), 6).alias("vmax"),
    )


@register(
    "psi_value_drift",
    f"""
    WITH b AS (
        SELECT event_type,
               ts < TIMESTAMP '2024-01-16 00:00:00' AS is_ref,
               (CASE WHEN NOT {finite_measure_sql('value')} THEN NULL
                ELSE least(CAST(floor(value / 50) AS BIGINT), 9) END) AS bin
        FROM events
    ), c AS (
        SELECT event_type, is_ref, bin, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY event_type, is_ref, bin
    ), bins AS (
        SELECT DISTINCT event_type, g.g AS bin
        FROM c CROSS JOIN generate_series(0, 9) g(g)
    ), t AS (
        SELECT event_type, is_ref, CAST(sum(cnt) AS BIGINT) AS tot
        FROM c GROUP BY event_type, is_ref
    ), p AS (
        SELECT bins.event_type, bins.bin,
               (coalesce(cr.cnt, 0) + 0.5) / (tr.tot + 5.0) AS p_ref,
               (coalesce(cc.cnt, 0) + 0.5) / (tc.tot + 5.0) AS p_cur
        FROM bins
        LEFT JOIN c cr ON cr.event_type = bins.event_type
                       AND cr.bin = bins.bin AND cr.is_ref
        LEFT JOIN c cc ON cc.event_type = bins.event_type
                       AND cc.bin = bins.bin AND NOT cc.is_ref
        JOIN t tr ON tr.event_type = bins.event_type AND tr.is_ref
        JOIN t tc ON tc.event_type = bins.event_type AND NOT tc.is_ref
    )
    SELECT event_type,
           round(sum((p_cur - p_ref) * ln(p_cur / p_ref)) + 1e-9, 6) AS psi,
           round(sum((p_cur - p_ref) * ln(p_cur / p_ref)) + 1e-9, 6) > 0.1
               AS drifted
    FROM p GROUP BY event_type
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution,
    reference window (first half of the month) vs current (second
    half), per event type: 10 fixed-width value bins, Laplace-
    smoothed proportions (+0.5 per bin — keeps empty bins finite AND
    deterministic), PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref); > 0.1
    is the conventional "investigate" threshold. Fixed-width bins —
    not quantile bins — so the binning itself cannot drift between
    engines or runs. Two aggregates over (type, window, bin): the
    drift monitor costs one scan regardless of scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")).alias("is_ref"),
        F.when(
            finite_measure("value"),
            F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(9)),
        ).alias("bin"),
    )
    c = ev.groupBy("event_type", "is_ref", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    bins = (
        c.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(spark.range(0, 10).select(F.col("id").alias("bin"))))
    )
    t = c.groupBy("event_type", "is_ref").agg(F.sum("cnt").alias("tot"))
    cr = c.where("is_ref").select("event_type", "bin", F.col("cnt").alias("cnt_ref"))
    cc = c.where(~F.col("is_ref")).select("event_type", "bin", F.col("cnt").alias("cnt_cur"))
    tr = t.where("is_ref").select("event_type", F.col("tot").alias("tot_ref"))
    tc = t.where(~F.col("is_ref")).select("event_type", F.col("tot").alias("tot_cur"))
    p = (
        bins.join(cr, ["event_type", "bin"], "left")
        .join(cc, ["event_type", "bin"], "left")
        .join(tr, "event_type")
        .join(tc, "event_type")
        .select(
            "event_type",
            ((F.coalesce("cnt_ref", F.lit(0)) + 0.5) / (F.col("tot_ref") + 5.0)).alias("p_ref"),
            ((F.coalesce("cnt_cur", F.lit(0)) + 0.5) / (F.col("tot_cur") + 5.0)).alias("p_cur"),
        )
    )
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))
    psi = F.round(F.sum(term) + F.lit(1e-9), 6)
    return p.groupBy("event_type").agg(
        psi.alias("psi"), (psi > 0.1).alias("drifted")
    )
