"""Physical-plan contracts for 100 TB strategies: bucketed co-located
joins (no Exchange), and approximate-distinct accuracy bounds."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_bucketed_join_avoids_shuffle(spark):
    """Writing both join sides bucketed by the key lets Spark plan a
    SortMergeJoin with NO Exchange on either side — the join strategy
    for repeatedly-joined 100 TB fact tables (SURVEY.md §4
    co-partitioning row). Verified against the physical plan."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable("b_lineitem"))
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable("b_orders"))
    # disable auto-broadcast so the join would otherwise shuffle
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle either side"
        # sanity: result matches the plain join
        n_plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert j.count() == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_approx_count_distinct_within_tolerance(spark):
    """approx_count_distinct (HLL++) — the sketch the reference's
    driver-side countByKey becomes at scale. rsd=0.02 must land within
    5% of exact on the fixture."""
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    exact = li.select("l_partkey").distinct().count()
    approx = li.agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("a")).first().a
    assert abs(approx - exact) / exact < 0.05


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Date-partitioned writes + a partition-key filter must prune at
    the source (PartitionFilters, not post-scan Filter) — the layout
    strategy for time-series tables at 100 TB."""
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    d = str(tmp_path)
    (li.withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))
       .write.partitionBy("ship_month").mode("overwrite").parquet(d))
    back = spark.read.parquet(d)
    months = [r.ship_month for r in back.select("ship_month").distinct().collect()]
    target = sorted(months)[0]
    q = back.filter(F.col("ship_month") == target)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ship_month" in plan.split("PartitionFilters: [")[1][:120]
    # pruned scan reads only the one partition
    assert q.count() == li.filter(F.date_format("l_shipdate", "yyyy-MM") == target).count()


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: one hot key holding ~90% of the left side must be
    split into multiple tasks instead of serializing into one reducer.
    Asserted via the executed plan's skew markers."""
    from pyspark.sql import functions as F

    # 200k rows, 90% on key 0; right side 100 distinct keys
    left = spark.range(200_000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        j = left.join(right, "k")
        # collect() executes THIS dataset's QueryExecution (count()
        # would plan a separate query and leave this plan un-finalized)
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skewed" in plan.lower(), (
            "AQE must mark the hot partition as skewed and split it"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def test_hll_sketch_estimates_within_tolerance(spark):
    """hll_sketch_agg estimates must land within 5% of exact per
    group, and sketches must merge across unions (the property that
    makes them shuffle-friendly)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    per = li.groupBy("l_suppkey").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 14))").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()
    assert per
    for r in per:
        assert abs(r.approx - r.exact) / max(r.exact, 1) < 0.05
    # mergeability: union of per-group sketches == global sketch estimate
    merged = li.groupBy("l_suppkey").agg(
        F.expr("hll_sketch_agg(l_partkey, 14)").alias("sk")
    ).agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("e")).first().e
    exact_global = li.select("l_partkey").distinct().count()
    assert abs(merged - exact_global) / exact_global < 0.05
