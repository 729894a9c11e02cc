"""Interval (range) join — match point events to validity windows
without the nested-loop plan Spark produces for non-equi join
conditions.

A condition like ``p.ts BETWEEN i.start AND i.end`` with only an
equality on the entity key is planned as BroadcastNestedLoopJoin /
CartesianProduct once the inequality dominates — O(|points| ×
|intervals|) per key. The scale-correct shape (used by Flink interval
joins and range-join optimizations in warehouse engines) is GRAIN
BUCKETING: quantize time into fixed-width grains, explode each
interval to the grains it overlaps, map each point to its single
grain, equi-join on (key, grain) — co-partitioned, shuffle-once —
then apply the exact predicate to discard same-grain near-misses.
Each interval lands in ceil(len/grain)+1 buckets, so candidate
fan-out is bounded by construction; the grain sits near the typical
interval length to keep the blow-up ~2x.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the time grain: the one-hour outage windows the query joins
_GRAIN_SECONDS = 3600


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str] | str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
) -> DataFrame:
    """Inner-join each point row to every interval row (same key)
    whose half-open ``[start_ts, end_ts)`` contains ``point_ts``.
    Output: all point columns + all interval columns (caller aliases
    collisions away beforehand).

    Implementation: one equi shuffle on (key, time-grain) + exact
    filter — no non-equi join in the plan (contract-tested)."""
    keys = [on] if isinstance(on, str) else list(on)
    g = _GRAIN_SECONDS * 1_000_000

    def us(col: str):  # NTZ-safe epoch micros under a pinned-UTC session
        return F.unix_micros(F.col(col).cast("timestamp_ltz"))

    p = points.withColumn("__g", (us(point_ts) / g).cast("long"))
    # malformed (end < start) intervals match nothing; dropping them
    # here also guards sequence(), which would otherwise yield a
    # DESCENDING grain range rather than an empty one
    intervals = intervals.filter(F.col(start_ts) <= F.col(end_ts))
    i = intervals.withColumn(
        "__g",
        F.explode(F.sequence((us(start_ts) / g).cast("long"), (us(end_ts) / g).cast("long"))),
    )
    return (
        p.join(i, [*keys, "__g"])
        .filter((F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) < F.col(end_ts)))
        .drop("__g")
    )
