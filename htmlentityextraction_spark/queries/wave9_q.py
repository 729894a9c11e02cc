"""Wave-9 queries: privacy-preserving release (deterministic
pseudonymization + k-anonymity suppression) and sequential path
mining (top user event paths).

Privacy prep is a first-class training-data-pipeline stage: beyond
masking PII inside text (pii_masking), a structured release must
break key linkability (salted-hash pseudonyms) and suppress
quasi-identifier groups too small to hide in (k-anonymity). Path
mining compresses a clickstream into its dominant order-sensitive
journeys — the sequence analogue of the transition matrix
(event_transition_matrix is memoryless; paths are not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "kanonymous_user_value_release",
    f"""
    WITH p AS (
        SELECT substr(md5('s4lt:' || CAST(user_id AS VARCHAR)), 1, 16) AS pseudo_id,
               date_trunc('day', ts) AS day,
               (CASE WHEN NOT {finite_measure_sql('value')} THEN NULL
                ELSE CAST(floor(value / 50) * 50 AS BIGINT) END) AS value_band
        FROM events WHERE event_type = 'purchase'
    ), g AS (
        SELECT day, value_band, CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT pseudo_id) AS BIGINT) AS n_users
        FROM p GROUP BY day, value_band
    )
    SELECT CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', day) AS BIGINT)
               AS day_epoch,
           value_band, n, n_users
    FROM g WHERE n_users >= 5
    """,
)
def kanonymous_user_value_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving aggregate release: user ids become salted
    md5 pseudonyms (deterministic → longitudinally joinable, yet
    unlinkable to the raw id without the salt), purchase values are
    generalized into 50-unit bands, and any (day, band) cell with
    fewer than k=5 distinct users is SUPPRESSED — the k-anonymity
    rule that makes the released table safe against singling-out.
    Pure columnar hash + two aggregates, one shuffle each; the oracle
    replays the identical salt/hash/banding, so the hash match proves
    the release is reproducible cross-engine (the property an audit
    needs)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    p = ev.select(
        F.substring(
            F.md5(F.concat(F.lit("s4lt:"), F.col("user_id").cast("string"))), 1, 16
        ).alias("pseudo_id"),
        F.datediff(F.date_trunc("DAY", F.col("ts")), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_epoch"),
        F.when(
            finite_measure("value"), (F.floor(F.col("value") / 50) * 50).cast("long")
        ).alias("value_band"),
    )
    g = p.groupBy("day_epoch", "value_band").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("pseudo_id").alias("n_users"),
    )
    return g.where(F.col("n_users") >= 5).select(
        "day_epoch", "value_band", "n", "n_users"
    )


@register(
    "top_event_paths",
    """
    WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path HAVING count(*) >= 2
    """,
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant user journeys: each user's first three events (by
    event time, event_id tie-break) concatenated into an ordered path
    string, counted across users, rare paths (<2) dropped. The
    order-SENSITIVE complement to event_transition_matrix: a Markov
    matrix cannot distinguish view>click>purchase from
    click>view>purchase; path counts can. One window + two
    vocabulary-sized aggregates — the window partitions by user, so
    no global sort."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    paths = r.groupBy("user_id").agg(
        F.concat_ws(">", F.array_sort(F.collect_list(F.struct("rn", "event_type"))).getField("event_type")).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .where(F.col("n_users") >= 2)
    )
