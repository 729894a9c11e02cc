"""Skew-mitigation operators for 100 TB runs.

AQE's skew-join splitting handles JOIN skew automatically
(`spark.sql.adaptive.skewJoin.enabled`, on in session.py), but
aggregation skew on low-cardinality hot keys still serializes into a
few reducer tasks. The classic fix is salted two-phase aggregation:
shuffle once on (key, salt) so the hot key spreads over N partial
groups, then merge the N partials per key — algebraic aggregates
(count/sum/min/max, and avg as sum/count) recombine exactly.

This is also how the flagship pipeline should aggregate per-domain
stats at 100 TB when a handful of mega-domains dominate the corpus
(the reference's per-domain coalesce(10) was the same instinct,
hand-rolled — `GBTDomainSuperParSelectCandid.scala:46`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.temporal import (
    SESSION_GAP_MINUTES,
    assert_timestamp_col,
    epoch_seconds,
)

# salted_group_stats' partial groups per key
_SALT_BUCKETS = 16


def salted_group_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    salt_on: Column,
) -> DataFrame:
    """Two-phase (salted) count/sum/avg/min/max per key group.

    Phase 1 groups by (keys, salt) — salt derived from ``salt_on``, a
    high-cardinality column, so a hot key fans out over
    ``_SALT_BUCKETS`` reducers; phase 2 merges partials per key. The
    result is exactly the plain groupBy (asserted by the DuckDB
    oracle of `salted_skew_group_stats`)."""
    salt = F.pmod(salt_on, F.lit(_SALT_BUCKETS))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(
            F.count(value_col).alias("__n"),
            F.sum(value_col).alias("__s"),
            F.min(value_col).alias("__mn"),
            F.max(value_col).alias("__mx"),
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("__n").alias("n"),
        # floor(x*100+0.5)/100, not round(): the total is ~1e9, where
        # Spark's HALF_UP decimal round and DuckDB's binary round pick
        # different nearest doubles; floor at cent precision is exact
        # in both engines (sum*100 is integral and < 2^53)
        # NaN-transparent: Spark's floor(NaN) is 0, DuckDB's is NaN —
        # a NaN sum must stay NaN on both engines
        F.when(F.isnan(F.sum("__s")), F.sum("__s"))
        .otherwise(F.floor(F.sum("__s") * 100 + 0.5) / 100)
        .alias("total"),
        F.round((F.sum("__s") / F.sum("__n")) + 1e-9, 6).alias("mean"),
        F.min("__mn").alias("vmin"),
        F.max("__mx").alias("vmax"),
    )


def sessionize(df: DataFrame) -> DataFrame:
    """Gaps-and-islands sessionization of (user_id, ts) events: a new
    session starts when the gap to the previous event of the same user
    exceeds ``SESSION_GAP_MINUTES``.
    Batch form of the custom stateful operator (the streaming twin is
    streaming/pipeline.sessionize_stream). One window shuffle on
    user; session ids are (user, running count of gap-breaks)."""
    from pyspark.sql import Window

    # ts must be a timestamp type: epoch_seconds' timestamp_ltz
    # cast would silently reinterpret a raw epoch long as seconds
    assert_timestamp_col(df, "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    ep = epoch_seconds("ts")
    gap = ep - F.lag(ep).over(w)
    is_new = (gap.isNull() | (gap > SESSION_GAP_MINUTES * 60)).cast("long")
    with_sess = df.withColumn("__new", is_new).withColumn(
        "session_seq", F.sum("__new").over(w)
    )
    return (
        with_sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .withColumn(
            "duration_sec",
            epoch_seconds("session_end") - epoch_seconds("session_start"),
        )
    )
