"""Wave-7 queries: trailing-window distinct counting via mergeable
HLL sketches, largest-remainder budget allocation, SAX time-series
symbolization, FP-Growth frequent itemsets, and rendezvous-hash shard
assignment.

The through-line is 100-TB mechanics: sketches merge across time
buckets instead of re-shuffling raw keys; allocation and
symbolization reduce to group-domain-sized windows; FP-Growth runs
the distributed ml.fpm implementation but is gated against exact SQL
counts; rendezvous hashing is the minimal-remap sharding a
distributed writer needs, built on engine-portable md5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.functions.keys import valid_id
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "rolling_distinct_users_7d",
    """
    WITH dr AS (
        SELECT DISTINCT
            date_diff('day', TIMESTAMP '1970-01-01 00:00:00', date_trunc('day', ts)) AS d,
            user_id
        FROM events
    ), days AS (SELECT DISTINCT d FROM dr),
    x AS (
        SELECT dr.d + g.g AS day_epoch, dr.user_id
        FROM dr CROSS JOIN generate_series(0, 6) g(g)
    ), agg AS (
        SELECT day_epoch, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users_7d
        FROM x GROUP BY day_epoch
    )
    SELECT CAST(agg.day_epoch AS BIGINT) AS day_epoch, agg.exact_users_7d,
           true AS within_5pct
    FROM agg JOIN days ON days.d = agg.day_epoch
    """,
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day, computed the way it
    must be at 100 TB: ONE HLL sketch per (day) partition
    (`hll_sketch_agg`), then a 7-offset explode of the *day-sized*
    sketch table and `hll_union_agg` per target day — the raw
    user×day rows are touched once, and the trailing window merges
    kilobyte sketches instead of re-shuffling keys 7×. DuckDB has no
    compatible HLL, so the gate is the exact count (computed
    alongside) plus the ±5% accuracy contract (within_5pct must hash
    all-true). Mergeability across time buckets is exactly why
    sketches exist."""
    ev = load_table(spark, sf_dir, "events").select(
        F.datediff(F.date_trunc("DAY", F.col("ts")), F.lit("1970-01-01").cast("date")).alias("d"),
        "user_id",
    )
    dr = ev.distinct()
    days = dr.select("d").distinct()
    # exact path (the gated value): explode day-user pairs over the 7 target days
    exact = (
        dr.withColumn("day_epoch", F.explode(F.sequence(F.col("d"), F.col("d") + 6)))
        .groupBy("day_epoch")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    # sketch path: day-sized table of sketches, exploded and unioned
    sk = dr.groupBy("d").agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    est = (
        sk.withColumn("day_epoch", F.explode(F.sequence(F.col("d"), F.col("d") + 6)))
        .groupBy("day_epoch")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
    )
    out = (
        exact.join(est, "day_epoch")
        .join(days.withColumnRenamed("d", "day_epoch"), "day_epoch", "left_semi")
    )
    within = F.abs(F.col("est") - F.col("exact_users_7d")) <= F.col("exact_users_7d") * 0.05
    return out.select(
        F.col("day_epoch").cast("long").alias("day_epoch"),
        "exact_users_7d",
        within.alias("within_5pct"),
    )


@register(
    "largest_remainder_allocation",
    """
    WITH c AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM c),
    s AS (
        SELECT lang, n_docs, n_docs * 1000 / tot AS share,
               CAST(floor(n_docs * 1000 / tot) AS BIGINT) AS base
        FROM c CROSS JOIN t
    ), r AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS rem FROM s),
    rk AS (
        SELECT lang, n_docs, base,
               row_number() OVER (ORDER BY share - base DESC, lang) AS rk
        FROM s
    )
    SELECT lang, n_docs,
           CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT) AS allocated
    FROM rk CROSS JOIN r
    """,
)
def largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional budget allocation by the largest-remainder method
    (Hamilton's method): split a fixed budget of 1000 sampling slots
    across languages proportional to corpus share — floor shares
    first, then distribute the leftover slots by descending
    fractional part. The integer-exactness property (allocations sum
    to exactly 1000) is what a token-budget or sampling-quota planner
    needs; rounding shares independently does NOT have it. One
    group-domain aggregate + one window over ≤|langs| rows."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.agg(F.sum("n_docs").alias("tot"))
    s = c.crossJoin(F.broadcast(t)).select(
        "lang", "n_docs",
        (F.col("n_docs") * 1000 / F.col("tot")).alias("share"),
        F.floor(F.col("n_docs") * 1000 / F.col("tot")).alias("base"),
    )
    rem = s.agg((F.lit(1000) - F.sum("base")).alias("rem"))
    w = Window.orderBy(F.desc(F.col("share") - F.col("base")), F.asc("lang"))
    rk = s.withColumn("rk", F.row_number().over(w))
    return rk.crossJoin(F.broadcast(rem)).select(
        "lang", "n_docs",
        (F.col("base") + F.when(F.col("rk") <= F.col("rem"), 1).otherwise(0))
        .cast("long")
        .alias("allocated"),
    )


@register(
    "sax_symbolization_events",
    f"""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', TIMESTAMP '1970-01-01 00:00:00', date_trunc('day', ts)) AS d,
               avg(value) AS v
        FROM events WHERE {finite_measure_sql('value')}
        GROUP BY 1, 2
    ), rng AS (
        SELECT event_type, min(d) AS dmin, max(d) AS dmax FROM daily GROUP BY 1
    ), seg AS (
        SELECT daily.event_type,
               CAST(floor((d - dmin) * 8 / (dmax - dmin + 1)) AS BIGINT) AS segment, v
        FROM daily JOIN rng USING (event_type)
    ), paa AS (
        SELECT event_type, segment, round(avg(v) + 1e-9, 6) AS paa
        FROM seg GROUP BY 1, 2
    ), q AS (
        SELECT event_type, segment, paa,
               ntile(4) OVER (ORDER BY paa, event_type, segment) AS qt
        FROM paa
    )
    SELECT event_type, segment, paa, chr(CAST(96 + qt AS INTEGER)) AS letter FROM q
    """,
)
def sax_symbolization_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin et al. 2003) of the per-event-type
    daily series: Piecewise Aggregate Approximation into 8
    time-segments per series, then alphabet letters a–d by global
    quartile of the segment means — the dimensionality reduction that
    turns a time series into a string so similarity search becomes
    string matching. All relational: two aggregates and one
    segment-domain window (≤ 8·|types| rows); the quartile window
    orders by the ROUNDED mean so the cut points are reproducible
    across engines."""
    # corrupt measurements (NULL/NaN/|v|>=1e10) drop at ingestion:
    # a 2^53-scale addend makes the PAA mean ulp-order-dependent
    # across engines (sf0.001 extreme-fuzz aligned)
    ev = load_table(spark, sf_dir, "events").filter(finite_measure("value"))
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.date_trunc("DAY", F.col("ts")), F.lit("1970-01-01").cast("date")).alias("d"),
    ).agg(F.avg("value").alias("v"))
    rng = daily.groupBy("event_type").agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    )
    seg = daily.join(rng, "event_type").select(
        "event_type",
        F.floor((F.col("d") - F.col("dmin")) * 8 / (F.col("dmax") - F.col("dmin") + 1))
        .cast("long")
        .alias("segment"),
        "v",
    )
    paa = seg.groupBy("event_type", "segment").agg(
        F.round(F.avg("v") + F.lit(1e-9), 6).alias("paa")
    )
    # paa is NULL for a (type, segment) whose every daily mean is
    # NULL: order NULLS LAST to match DuckDB's ASC default (same
    # class as the round-5 ADVICE ntile items — pre-empted here)
    w = Window.orderBy(F.asc_nulls_last("paa"), "event_type", "segment")
    q = paa.withColumn("qt", F.ntile(4).over(w))
    return q.select(
        "event_type", "segment", "paa", F.char(F.lit(96) + F.col("qt")).alias("letter")
    )


@register(
    "fpgrowth_brand_itemsets",
    """
    WITH b AS (
        -- NULL brand is not an item (Spark's collect_set drops
        -- NULLs); NULL basket id is not a transaction (it would
        -- count toward FP-Growth's support denominator on the Spark
        -- side only — keyfuzz finding, r12)
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand IS NOT NULL AND l_orderkey IS NOT NULL
    ), n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
    s1 AS (
        SELECT p_brand AS items, CAST(count(*) AS BIGINT) AS freq FROM b GROUP BY 1
    ), s2 AS (
        SELECT a.p_brand || ',' || c.p_brand AS items, CAST(count(*) AS BIGINT) AS freq
        FROM b a JOIN b c USING (l_orderkey)
        WHERE a.p_brand < c.p_brand
        GROUP BY 1
    )
    SELECT items, freq
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) u CROSS JOIN n
    WHERE freq >= ceil(0.025 * n_orders)
    """,
)
def fpgrowth_brand_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand itemsets per order basket via distributed
    FP-Growth (`pyspark.ml.fpm.FPGrowth`, the parallel PFP algorithm
    — Li et al. 2008), minSupport 2.5%. The oracle recomputes
    supports exactly in SQL for itemsets of size ≤ 2, and the engine
    output is filtered to the same sizes, so the hash match checks
    the ml.fpm counts against first principles (FP-Growth is exact,
    not approximate — larger itemsets are simply out of the oracle's
    reach, not wrong). Extends basket_brand_lift (pairs, lift) with
    the general itemset miner."""
    from pyspark.ml.fpm import FPGrowth

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(valid_id("l_orderkey"))
        .select("l_orderkey", "l_partkey")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("l_orderkey")
        .agg(F.array_distinct(F.collect_list("p_brand")).alias("items"))
        # materialize ONCE (optimization r12, guide §2.4/§5): FP-Growth
        # makes two full passes over its input during fit, and the
        # model's freqItemsets RDD keeps the WHOLE mining lineage — an
        # uncached input replays the join+groupBy on every one of those
        # passes AND again when freqItemsets is consumed (profiled:
        # consuming freqItemsets cost the same ~3 s as fit itself).
        # ABBA A/B with the itemset cut below: 6.71 s -> 5.05 s (-25%).
        # localCheckpoint, NOT persist(MEMORY_AND_DISK): a persist
        # released before return is legal here (fit() is an in-call
        # action) and was ABBA-measured in r13 — tie-to-worse (median
        # 4.44 vs 3.87 s over 8 balanced rounds; warm tails tied), the
        # persist arm's first pass pays compute+store at once
        # (OPTIMIZATION_r13.md).
        .localCheckpoint()
    )
    # setNumPartitions(min(cores, |brand vocabulary|)) was also
    # ABBA-measured in r13: tie (3.77 vs 3.59 s) — AQE has already
    # coalesced the basket frame below the cap, so the PFP group
    # count is unchanged locally; default kept (OPTIMIZATION_r13.md).
    model = FPGrowth(itemsCol="items", minSupport=0.025, minConfidence=0.5).fit(baskets)
    # the mined itemsets are vocabulary-scale (dozens of rows at any
    # sf): cut the mining lineage so downstream consumption reads the
    # tiny result instead of re-running PFP
    out = model.freqItemsets.where(F.size("items") <= 2).localCheckpoint()
    return out.select(
        F.concat_ws(",", F.array_sort("items")).alias("items"),
        F.col("freq").cast("long").alias("freq"),
    )


@register(
    "rendezvous_shard_assignment",
    """
    WITH h AS (
        SELECT doc_id, g.s AS shard,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(g.s AS VARCHAR)) AS h
        -- shard assignment is per-IDENTITY: distinct non-null ids
        -- (keyfuzz r12 — a duplicated doc row must not emit two
        -- assignment rows)
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
        CROSS JOIN generate_series(0, 7) g(s)
    ), rk AS (
        SELECT doc_id, shard,
               row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, shard DESC) AS rn
        FROM h
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard FROM rk WHERE rn = 1
    """,
)
def rendezvous_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing: each document goes
    to the shard with the max md5(doc_id:shard) — the consistent
    assignment where removing one of 8 shards remaps ONLY that
    shard's documents (tested in tests/test_wave7.py), unlike modulo
    sharding which reshuffles almost everything. The choice is a pure
    per-row 8-struct array max; the only shuffle is the identity
    dedup (DISTINCT doc_id, keyfuzz r12). md5 makes the choice
    portable across engines, so the oracle replays it byte-for-byte."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(valid_id("doc_id"))
        .select("doc_id")
        .distinct()
    )
    choices = F.array(
        *[
            F.struct(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{s}"))).alias("h"),
                F.lit(s).cast("long").alias("s"),
            )
            for s in range(8)
        ]
    )
    return docs.select(
        "doc_id", F.array_max(choices).getField("s").alias("shard")
    )
