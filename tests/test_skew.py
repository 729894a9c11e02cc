"""Adversarial skew hardening (VERDICT r4 item 6): a deliberately
skewed fixture — ONE key owning 50% of all rows — must (a) spread
over all salt buckets in the salted two-phase aggregate with a
bounded max-partition size, and (b) trigger AQE's skew-join split on
the join path. Natural-data oracles (salted_skew_group_stats) prove
correctness; these prove the MECHANISM engages when data is hostile.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.skew import _SALT_BUCKETS as SALT_BUCKETS
from htmlentityextraction_spark.operators.skew import salted_group_stats

N_ROWS = 100_000


def _skewed_df(spark):
    """100k rows, key 'hot' = 50% of them, 50 cold keys sharing the rest."""
    return spark.range(N_ROWS).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold_"), (F.col("id") % 50).cast("string")))
        .alias("k"),
        (F.col("id") % 997).cast("double").alias("v"),
        F.col("id"),
    )


def test_salted_agg_spreads_hot_key_and_bounds_partitions(spark):
    df = _skewed_df(spark)

    # correctness: salted two-phase == plain groupBy, exactly
    got = {
        r.k: (r.n, r.total, r.vmin, r.vmax)
        # salt on a HASH of the id: the hot key's ids are all even, so
        # a raw modulo would only ever reach half the salt buckets —
        # the same trap a real pipeline hits salting on a structured id
        for r in salted_group_stats(
            df, ["k"], "v", salt_on=F.xxhash64(F.col("id"))
        ).collect()
    }
    want = {
        r.k: (r.n, r.total, r.vmin, r.vmax)
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("n"),
            (F.floor(F.sum("v") * 100 + 0.5) / 100).alias("total"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .collect()
    }
    assert got == want, "salted aggregate must equal the plain groupBy"
    assert got["hot"][0] == N_ROWS // 2, "fixture must be 50% one key"

    # mechanism: the hot key fans out over ALL salt buckets in phase 1
    salt = F.pmod(F.xxhash64(F.col("id")), F.lit(SALT_BUCKETS))
    partial = df.withColumn("__salt", salt).groupBy("k", "__salt").count()
    hot_groups = partial.filter(F.col("k") == "hot").collect()
    assert len(hot_groups) == SALT_BUCKETS, (
        f"hot key landed in {len(hot_groups)}/{SALT_BUCKETS} salt buckets"
    )
    # ...and near-uniformly: no partial group holds more than 2x its share
    max_partial = max(r["count"] for r in hot_groups)
    assert max_partial <= 2 * (N_ROWS // 2) // SALT_BUCKETS, (
        f"salt spread is lumpy: max partial {max_partial}"
    )

    # partition-size contract: shuffling on (k, salt) bounds the max
    # partition, where shuffling on k alone serializes 50% of rows
    # into one partition — the thing that OOMs a reducer at 100 TB
    n_part = 32
    by_key = (
        df.repartition(n_part, "k")
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    by_key_salt = (
        df.withColumn("__salt", salt)
        .repartition(n_part, "k", "__salt")
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert by_key >= N_ROWS // 2, "unsalted shuffle must concentrate the hot key"
    # hash collisions between (k, salt) combos keep this above the
    # ideal N/n_part, but the hot partition must shrink by >=3x
    assert by_key_salt * 3 <= by_key, (
        f"salted shuffle still concentrated: max partition {by_key_salt} vs {by_key}"
    )


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join splitting (on in session.py) must engage on the
    hot key: with test-sized thresholds, the post-execution plan of a
    skewed sort-merge join shows the skew=true split."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        # scale AQE's skew thresholds down to fixture size (defaults
        # are 256 MB — right for production, unreachable in a test)
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        # force a sort-merge join: a broadcast join has no skewed shuffle
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        fact = _skewed_df(spark).withColumn("pad", F.repeat(F.lit("x"), 64))
        # independent dim frame: deriving it from `fact` reuses the
        # fact-side exchange, which pins the join's partitioning and
        # disables the skew-split rule (it must be free to replicate
        # matching partitions on the small side)
        dim = spark.range(51).select(
            F.when(F.col("id") == 50, F.lit("hot"))
            .otherwise(F.concat(F.lit("cold_"), F.col("id").cast("string")))
            .alias("k"),
            F.upper(
                F.when(F.col("id") == 50, F.lit("hot")).otherwise(
                    F.concat(F.lit("cold_"), F.col("id").cast("string"))
                )
            ).alias("label"),
        )
        joined = fact.join(dim, "k")
        # collect() (not count()) so the inspected query execution is
        # the one that actually ran — count() builds a separate QE and
        # leaves this one's adaptive plan unfinalized
        assert len(joined.collect()) == N_ROWS
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE did not split the skewed join partition:\n" + plan[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
