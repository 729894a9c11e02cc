"""Market-basket pair co-occurrence with support / confidence / lift.

The association-rule primitive over (basket, item) facts: which item
pairs co-occur more than chance. Per-basket pair generation is the
classic quadratic trap — a degenerate basket with 10^5 items emits
10^10 pairs. So, like the trigram blocking guard in
`operators/entity.py` and `dedup.py`'s ``max_block_rows``, baskets
above ``_MAX_BASKET_ITEMS`` FAIL LOUDLY before the self-join; normal retail baskets
are tiny, so per-basket C(n,2) is bounded and the join is an
equi-join on the basket key — one shuffle, map-side combinable
counts.

Lift uses exact item frequencies from the same distinct
(basket, item) set, so lift(a,b) = P(a,b) / (P(a)·P(b)) with P over
baskets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# a pair must co-occur in this many baskets; a basket with more items
# than the cap is refused before the quadratic self-join
_MIN_PAIR_COUNT = 5
_MAX_BASKET_ITEMS = 100


class OversizeBasketError(ValueError):
    pass


def pair_cooccurrence(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """(item_a, item_b, pair_count, count_a, count_b, n_baskets,
    support, confidence_a_to_b, lift) for unordered pairs
    item_a < item_b appearing in >= ``_MIN_PAIR_COUNT`` baskets."""
    facts = (
        df.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .distinct()
        # materialize ONCE (optimization r12, guide §2.4): five
        # consumers (oversize guard, n_baskets, item counts, both
        # sides of the pair self-join) would each replay the caller's
        # join + this distinct otherwise — ABBA A/B on
        # basket_brand_lift: 3.53 s -> 2.53 s (-28%)
        .localCheckpoint()
    )

    sizes = facts.groupBy("__b").agg(F.count("*").alias("__n"))
    # one action yields both the guard verdict and the basket count
    # (sizes has exactly one row per basket)
    stats = sizes.agg(
        F.max("__n").alias("__mx"), F.count(F.lit(1)).alias("__nb")
    ).first()
    if stats["__mx"] is not None and stats["__mx"] > _MAX_BASKET_ITEMS:
        hot = sizes.filter(F.col("__n") > _MAX_BASKET_ITEMS).orderBy(
            F.desc("__n")
        ).limit(1).collect()
        raise OversizeBasketError(
            f"basket {hot[0]['__b']!r} has {hot[0]['__n']} items "
            f"(_MAX_BASKET_ITEMS={_MAX_BASKET_ITEMS}); pair explosion refused — "
            "raise the cap"
        )
    n_baskets = stats["__nb"]
    item_counts = facts.groupBy("__i").agg(F.count("*").alias("__cnt"))

    a = facts.select(F.col("__b"), F.col("__i").alias("item_a"))
    b = facts.select(F.col("__b"), F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("pair_count"))
        .filter(F.col("pair_count") >= _MIN_PAIR_COUNT)
    )
    out = (
        pairs.join(
            item_counts.select(
                F.col("__i").alias("item_a"), F.col("__cnt").alias("count_a")
            ),
            "item_a",
        )
        .join(
            item_counts.select(
                F.col("__i").alias("item_b"), F.col("__cnt").alias("count_b")
            ),
            "item_b",
        )
        .withColumn("n_baskets", F.lit(n_baskets))
        .withColumn("support", F.col("pair_count") / F.col("n_baskets"))
        .withColumn("confidence_a_to_b", F.col("pair_count") / F.col("count_a"))
        .withColumn(
            "lift",
            (F.col("pair_count") * F.col("n_baskets"))
            / (F.col("count_a") * F.col("count_b")),
        )
    )
    return out.select(
        "item_a", "item_b", "pair_count", "count_a", "count_b",
        "n_baskets", "support", "confidence_a_to_b", "lift",
    )
