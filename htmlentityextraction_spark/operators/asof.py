"""As-of join — the time-series point-in-time lookup Spark's
DataFrame API lacks as a primitive (pandas has merge_asof; DuckDB has
ASOF JOIN; kdb calls it aj).

The reference joins observations to reference data by exact composite
keys (`emr/AutoMatcher.scala:57-86`) and walks per-key time order with
sorted groupBy (`analytics/UpdateProdMetrics.scala:117-139`); the
as-of join is the general form of that walk: for every left row, the
single most recent right row (per key) at or before its timestamp.

Scale shape — UNION + ONE WINDOW, never a range join: a naive
implementation joins on key with a ts inequality, which Spark plans
as a broadcast-nested-loop or a sort-merge-with-dup-explosion; at
100 TB that is O(|L|·|R|) per key. Instead both sides are unioned
into one stream, shuffled ONCE by key, sorted by (ts, side), and the
right payload is carried forward with last(ignorenulls) over the
running window — O((|L|+|R|) log) per partition, the same cost as a
groupBy, and AQE/salting skew handling applies unchanged. The right
payload travels as ONE struct so all its columns come from the SAME
matched row (per-column last() could mix rows when columns hold
nulls).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the closest right row per key:
    latest ``right_ts <= left_ts`` (backward, default) or earliest
    ``right_ts >= left_ts`` (forward); an exact timestamp match counts.
    Unmatched left rows keep null payload columns (left-outer
    semantics, like pandas merge_asof).

    ``value_cols``: right columns to attach (default: all non-key,
    non-ts right columns), emitted as ``asof_{col}``; the matched
    right timestamp is always emitted as ``asof_{right_ts}``.
    ``tolerance_seconds``: drop matches farther than this from the
    left timestamp (payload nulled, row kept).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in keys and c != right_ts]

    payload = F.struct(
        F.col(right_ts).alias(right_ts), *[F.col(c).alias(c) for c in value_cols]
    )
    # one unioned stream: left rows carry their own columns + null
    # payload; right rows carry only keys + payload
    lcols = list(left.columns)
    l2 = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(
            right.select(payload.alias("p")).schema["p"].dataType
        ).alias("__p"),
    )
    r2 = right.select(
        *[
            F.col(c).alias(c) if c in keys else F.lit(None).cast(t.dataType).alias(c)
            for c, t in zip(lcols, left.schema.fields)
        ],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        payload.alias("__p"),
    )
    u = l2.unionByName(r2)

    # backward: ascending ts, right-before-left at equal ts so exact
    # matches count; forward: the mirror image (descending ts)
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__p", ignorenulls=True).over(w)).filter(
        F.col("__side") == 1
    )

    m: Column = F.col("__m")
    if tolerance_seconds is not None:
        gap = F.abs(
            F.unix_micros(F.col("__ts").cast("timestamp_ltz"))
            - F.unix_micros(m[right_ts].cast("timestamp_ltz"))
        )
        m = F.when(gap <= int(tolerance_seconds) * 1_000_000, F.col("__m"))
    # JOIN-equality NULL semantics (keyfuzz r12): a window PARTITION BY
    # groups NULL keys together, so a NULL-key left row would match a
    # NULL-key right row — but an as-of join is a JOIN, and NULL never
    # equals NULL in one. Null the payload for NULL-key left rows
    # (rows are kept — left-outer semantics, matching merge_asof and
    # DuckDB ASOF JOIN).
    null_key = None
    for k in keys:
        cond = F.col(k).isNull()
        null_key = cond if null_key is None else (null_key | cond)
    m = F.when(~null_key, m)
    return matched.select(
        *lcols,
        m[right_ts].alias(f"asof_{right_ts}"),
        *[m[c].alias(f"asof_{c}") for c in value_cols],
    )
