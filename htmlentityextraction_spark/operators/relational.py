"""Reusable relational operator builders (SURVEY.md §2.3-§2.7).

Thin, declarative wrappers — Catalyst owns the physical strategy. All
of them take explicit deterministic tie-break orderings: the
reference's RDD equivalents (`reduceByKey((x,y)=>x)`,
`sorted.reverse.head`) were order-nondeterministic under shuffle; the
rebuild makes the choice reproducible, which the DuckDB oracle gate
requires anyway.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_latest(df: DataFrame, keys: Sequence[str], order: Sequence[Column]) -> DataFrame:
    """Keep one row per key group, the first under ``order``.

    Replaces the reference's groupBy+max(ts)+self-join idiom
    (`analysis/BadDomAnalVer4.scala:66,109-119`) and the
    keep-first `reduceByKey((x,y)=>x)` (`emr/SeedsDistinctS3ToKafka.scala:60`)
    with a single window — one shuffle, no join.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k with deterministic ordering — Spark plans this as
    TakeOrderedAndProject (no full sort materialization), the
    distributed replacement for the reference's driver-side
    ``take(count*K/100)`` (`analysis/DomAnalysis.scala:39-44`)."""
    return df.orderBy(*order).limit(k)
