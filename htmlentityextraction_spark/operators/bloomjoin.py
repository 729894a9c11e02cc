"""Bloom-filter runtime join pruning: build a compact bit-set over a
dimension's join keys, pre-filter the fact side with it, then do the
exact join on the survivors.

Why this exists at 100 TB: a broadcast *semi-join* needs every distinct
dim key on every executor; a Bloom filter needs only ``num_bits / 8``
bytes regardless of key count (1 MiB covers ~1M keys at ~1% FPR with
k=7). Spark's own runtime row-group filtering
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) applies the same
idea inside AQE; this operator makes it an explicit, composable
DataFrame step so it also works across stages the optimizer cannot see
through (e.g. a dim produced by a previous job, or a pre-filter ahead
of an expensive UDF).

Scale shape — nothing leaves the JVM and the fact table never shuffles:

1. build: dim keys → k bit positions each (``xxhash64(key, i)``
   mod m), explode, ``groupBy(word) → bit_or`` into 64-bit words →
   at most ``m/64`` rows (16 KiB of longs for m = 2^20).
2. probe: k broadcast hash joins of the word table against the fact
   (one per hash function), conjunction of bit tests. Broadcast joins
   do not move the fact side; whole-stage codegen fuses the bit math.

False positives are possible (survivors ⊇ true matches); false
negatives are not. ``bloom_semi_join`` therefore composes the
pre-filter with the exact join, so results are exactly the plain
join's — the Bloom stage only cuts the rows that reach it.

The reference's closest shape is the broadcast domain-list filter
(`emr/FilterSeeds.scala:34-40`, join-as-membership); this is that
operator rebuilt for key sets too large to ship exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Bit positions derive from xxhash64(key, seed_i); the salt column
# makes the k hash functions independent.
_NUM_HASHES = 5
# Bit-set size of ``bloom_semi_join`` (8 KiB of bits).
_SEMI_JOIN_BITS = 1 << 16
_WORD_COL = "__bloom_word"
_BITS_COL = "__bloom_bits"


def _positions(key: Column, num_bits: int) -> list[Column]:
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits)).cast("long")
        for i in range(_NUM_HASHES)
    ]


def bloom_build(dim: DataFrame, key_col: str, num_bits: int = 1 << 20) -> DataFrame:
    """Bit-set over ``dim[key_col]`` as a DataFrame of
    ``(__bloom_word: long, __bloom_bits: long)`` — at most
    ``num_bits/64`` rows. One narrow explode + one small shuffle on
    the word index (domain ≤ m/64), independent of dim row count."""
    pos = F.explode(F.array(*_positions(F.col(key_col), num_bits)))
    return (
        dim.select(pos.alias("__pos"))
        .select(
            F.shiftright(F.col("__pos"), 6).alias(_WORD_COL),
            # column-valued shift amounts need expr(): the PySpark
            # shiftleft wrapper only accepts a Python int
            F.expr("shiftleft(1L, CAST(__pos % 64 AS INT))").alias("__bit"),
        )
        .groupBy(_WORD_COL)
        .agg(F.bit_or("__bit").alias(_BITS_COL))
    )


def bloom_prefilter(
    fact: DataFrame,
    key_col: str,
    words: DataFrame,
    num_bits: int = 1 << 20,
) -> DataFrame:
    """Keep fact rows whose key tests positive in the Bloom bit-set.

    k broadcast joins (word table ≤ m/64 rows), zero shuffles of the
    fact side, all bit math in codegen. Survivors are a superset of
    the true matches."""
    out = fact
    for i, pos in enumerate(_positions(F.col(key_col), num_bits)):
        w = words.select(
            F.col(_WORD_COL).alias(f"__w{i}"), F.col(_BITS_COL).alias(f"__b{i}")
        )
        out = out.withColumn(f"__p{i}", pos)
        out = out.join(
            F.broadcast(w),
            F.shiftright(F.col(f"__p{i}"), 6) == F.col(f"__w{i}"),
            "left",
        )
        # bit test: LSB of (bits >> (pos % 64)); arithmetic shift is
        # fine — parity only reads bit `pos % 64`
        hit = F.expr(
            f"shiftright(coalesce(__b{i}, 0L), CAST(__p{i} % 64 AS INT)) % 2 != 0"
        )
        out = out.filter(hit).drop(f"__p{i}", f"__w{i}", f"__b{i}")
    return out


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Exact inner join of fact ⋈ dim on the keys, with a Bloom
    pre-filter cutting the fact rows that reach the shuffle. Result
    is identical to the plain join (false positives are removed by
    the exact join; false negatives cannot occur)."""
    words = bloom_build(dim, dim_key, _SEMI_JOIN_BITS)
    pruned = bloom_prefilter(fact, fact_key, words, _SEMI_JOIN_BITS)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], "inner")
