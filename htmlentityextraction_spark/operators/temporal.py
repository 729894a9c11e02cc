"""Temporal join operators the reference lacks (SURVEY.md §2.4 notes
"No theta/range/as-of joins exist") but that its price-history domain
begs for — implemented Spark-first as custom compositions:

- **as-of join**: for each probe (key, t) the latest build row with
  build_ts <= t. NOT a join at all in the physical plan: tag + union
  both sides, one window per key ordered by (ts, side), and a
  last_value(ignorenulls) carry-forward. ONE shuffle on the key,
  no O(probe x build) pair blow-up, no skew amplification — this is
  the shape that survives 100 TB price histories.
- **range join**: probe value BETWEEN lo AND hi against a small
  interval table — broadcast + non-equi predicate, so the big side
  never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    probe_ts: str,
    build_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Probe rows + `value_cols` from the latest build row at or
    before the probe timestamp (null when no build row precedes).
    Build must be unique per (key, build_ts) — pre-dedup upstream for
    a deterministic as-of semantics (DuckDB's ASOF JOIN has the same
    requirement)."""
    b = build.select(
        F.col(key).alias("__k"),
        F.col(build_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    p = probe.select(
        F.col(key).alias("__k"),
        F.col(probe_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(dict(build.dtypes)[c]).alias(f"__v_{c}") for c in value_cols],
        *[F.col(c) for c in probe.columns],
    )
    # builds sort before probes at equal ts => "at or before" semantics
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = b.unionByName(p, allowMissingColumns=True)
    carried = unioned.select(
        "*",
        *[
            F.last(F.col(f"__v_{c}"), ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in value_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).select(
        *probe.columns,
        *[F.col(f"__asof_{c}").alias(f"asof_{c}") for c in value_cols],
    )


def range_join(
    probe: DataFrame, intervals: DataFrame, value_col: str, lo_col: str, hi_col: str
) -> DataFrame:
    """Probe rows matched to every interval containing `value_col`
    (inclusive). The interval side broadcasts; Catalyst plans
    BroadcastNestedLoopJoin with the band predicate — the probe side
    streams without a shuffle."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) <= F.col(hi_col))
    return probe.join(F.broadcast(intervals), cond, "inner")
