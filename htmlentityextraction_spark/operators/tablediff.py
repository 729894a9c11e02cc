"""Two-phase table reconciliation: per-bucket checksums first, row
drill-down only where the checksums differ.

Why this exists at 100 TB: comparing two copies of a table (a
migration, a replica, yesterday's snapshot) with ``EXCEPT`` or a full
outer join shuffles BOTH tables end to end. But almost-identical
tables differ in almost no buckets, so phase 1 reduces each side to
``n_buckets`` rows (count + order-insensitive XOR of row hashes — one
scan, one tiny shuffle each), and phase 2 full-outer-joins ONLY the
rows living in buckets whose checksums disagree. At a 0.1% change
rate with 4096 buckets, phase 2 touches a few percent of the data
instead of all of it.

The XOR aggregate is order-insensitive and mergeable (a map-side
partial combine), which is exactly what makes it a per-bucket
checksum; a hash collision between a bucket's old and new contents
would mask a change, but that needs the XOR of the changed rows'
64-bit hashes to cancel exactly — negligible, and the drill-down
itself is exact for every flagged bucket.

Reference shape: the closest thing the reference does is re-keying +
delete/re-insert whole tables (`emr/SwapIDs.scala:119-244`); this is
the operator you'd actually run first to find out what changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# phase 1's checksum buckets per side
_N_BUCKETS = 4096


def _bucketed(df: DataFrame, key_cols: list[str], n_buckets: int) -> DataFrame:
    keys = [F.col(c) for c in key_cols]
    value_cols = [c for c in df.columns]
    return df.withColumn("__bkt", F.pmod(F.xxhash64(*keys), F.lit(n_buckets))).withColumn(
        "__rowh", F.xxhash64(*[F.col(c) for c in value_cols])
    )


def bucket_checksums(df: DataFrame, key_cols: list[str], n_buckets: int) -> DataFrame:
    """One row per bucket: row count + XOR of full-row hashes."""
    return (
        _bucketed(df, key_cols, n_buckets)
        .groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("__rowh").alias("xor"))
    )


def checksum_diff(
    left: DataFrame, right: DataFrame, key_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(changed_buckets, row_diff)``.

    ``changed_buckets``: bucket ids whose (count, xor) disagree —
    phase 1, two scans + two ``_N_BUCKETS``-row aggregates.

    ``row_diff``: for rows in those buckets only, a full outer join
    on the keys classifying each key as 'added' (right only),
    'removed' (left only) or 'changed' (both sides, different row
    hash). Identical rows inside a flagged bucket drop out."""
    n_buckets = _N_BUCKETS
    lc = bucket_checksums(left, key_cols, n_buckets).alias("l")
    rc = bucket_checksums(right, key_cols, n_buckets).alias("r")
    changed = (
        lc.join(rc, "__bkt", "full")
        .where(
            F.col("l.n").isNull()
            | F.col("r.n").isNull()
            | (F.col("l.n") != F.col("r.n"))
            | (F.col("l.xor") != F.col("r.xor"))
        )
        .select("__bkt")
    )
    # phase 2: bucket pruning via a broadcast semi-join — at scale
    # this is the point: only flagged buckets' rows are re-read/joined
    lb = _bucketed(left, key_cols, n_buckets).join(
        F.broadcast(changed), "__bkt", "left_semi"
    )
    rb = _bucketed(right, key_cols, n_buckets).join(
        F.broadcast(changed), "__bkt", "left_semi"
    )
    lkeys = lb.select(*key_cols, F.col("__rowh").alias("__lh"))
    rkeys = rb.select(*key_cols, F.col("__rowh").alias("__rh"))
    joined = lkeys.join(rkeys, key_cols, "full")
    row_diff = joined.select(
        *key_cols,
        F.when(F.col("__lh").isNull(), F.lit("added"))
        .when(F.col("__rh").isNull(), F.lit("removed"))
        .when(F.col("__lh") != F.col("__rh"), F.lit("changed"))
        .otherwise(F.lit("same"))
        .alias("change_type"),
    ).where(F.col("change_type") != "same")
    return changed, row_diff
