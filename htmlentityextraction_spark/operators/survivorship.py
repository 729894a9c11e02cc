"""Golden-record survivorship: collapse an entity cluster to one
canonical row with per-field merge rules.

After duplicate detection (exact, minhash, or fuzzy-join — see
`operators/dedup.py`, `operators/entity.py`) a master-data pipeline
must MERGE each cluster into a single surviving record, choosing each
field independently: "most recent non-null", "max", "min".
The reference's keep-latest dedup (`emr/RemoveOldVersions.scala`
semantics, SURVEY §2 P7) picks whole rows; survivorship generalizes
to per-field picks.

Scale shape: everything is ONE ``groupBy(cluster)`` — each rule
compiles to a built-in aggregate (``max_by`` for recency picks,
``max``/``min``), so the whole golden
record is a single partial-aggregated shuffle regardless of how many
fields carry rules. No windows, no per-cluster UDFs.

``max_by(col, struct(col IS NOT NULL, ts, tiebreak))`` implements
"latest non-null": the leading NOT-NULL flag makes any non-null value
beat every null even when the null is newer; the trailing tiebreak
keeps the pick deterministic under timestamp ties.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def latest_nonnull(col: str, ts_col: str, tiebreak_col: str) -> Column:
    ordering = F.struct(
        F.col(col).isNotNull().alias("nn"),
        F.col(ts_col).alias("ts"),
        F.col(tiebreak_col).alias("tb"),
    )
    return F.max_by(F.col(col), ordering)


def golden_record(
    df: DataFrame,
    cluster_col: str,
    rules: dict[str, Column],
) -> DataFrame:
    """One row per ``cluster_col`` with each field aggregated by its
    rule (an aggregate Column, e.g. from :func:`latest_nonnull`).
    Single groupBy → single shuffle."""
    aggs = [expr.alias(name) for name, expr in rules.items()]
    return df.groupBy(cluster_col).agg(*aggs)
