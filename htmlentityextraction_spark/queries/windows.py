"""Window-family analytics (SURVEY.md §2.5 A2-A4, §2.6, Hotspots).

The reference does all of these with groupByKey + in-memory list walks
(`analytics/CalcIndices.scala:76-95`, `analytics/DeltaCalc.scala:62-75`,
`analytics/ProdMetricsV6.scala:83-206`, `analytics/Hotspots.scala`).
Windows keep the work streaming inside one sort per partition key —
no group materialization, no OOM on hot keys at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.keys import valid_id, valid_id_sql
from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.functions.temporal import (
    valid_date_axis,
    valid_date_axis_sql,
)
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


def _obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corrupt price observations (NULL/NaN/|v|>=1e10) drop at
    # ingestion: a 2^53-scale price makes every lag-delta's round()
    # ulp-dependent across engines (extreme-fuzz aligned). The TIME
    # axis gets the same boundary (r10 datenull finding): a NULL
    # ship date cannot be placed on the series — Spark windows sort
    # NULLS FIRST on ASC, DuckDB NULLS LAST, so one NULL-dated row
    # shifts every lag in its group — and an out-of-window date is a
    # corrupt producer clock (functions.temporal.valid_event_time).
    # The ID axis gets the same boundary (r12 keyfuzz finding): k1/k2
    # are the deterministic tie-breaks inside every ASC window
    # ordering, and a NULL id diverges exactly like a NULL date
    # (Spark NULLS FIRST vs DuckDB NULLS LAST among same-timestamp
    # ties). Negative/dangling ids order identically on both engines
    # and stay in the population (functions.keys.valid_id).
    return load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
        & valid_date_axis("l_shipdate")
        & valid_id("l_orderkey")
        & valid_id("l_linenumber")
    ).select(
        F.col("l_partkey").alias("prod"),
        F.col("l_suppkey").alias("store"),
        F.col("l_shipdate").alias("tmsp"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
    )


_OBS_SQL = """
    SELECT l_partkey AS prod, l_suppkey AS store, l_shipdate AS tmsp,
           l_extendedprice AS price, l_orderkey AS k1, l_linenumber AS k2
    FROM lineitem
    WHERE {fp}
      AND {vt} AND {k1} AND {k2}
""".format(
    fp=finite_measure_sql("l_extendedprice"),
    vt=valid_date_axis_sql("l_shipdate"),
    k1=valid_id_sql("l_orderkey"),
    k2=valid_id_sql("l_linenumber"),
)


# --- A2: per-observation delta vs previous (lag) ---
@register(
    "lag_delta_per_observation",
    f"""
    WITH obs AS ({_OBS_SQL})
    SELECT prod, store, k1, k2, price,
           round(price - lag(price) OVER w + 1e-9, 2) AS delta,
           round((price - lag(price) OVER w) / lag(price) OVER w + 1e-9, 6) AS rel_change
    FROM obs
    WINDOW w AS (PARTITION BY prod, store ORDER BY tmsp, k1, k2)
    """,
)
def lag_delta_per_observation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: groupByKey→sort→walk delta `analytics/DeltaCalc.scala:62-75`,
    `analytics/UpdateProdMetrics.scala:110-129` → one ``lag`` window."""
    w = Window.partitionBy("prod", "store").orderBy("tmsp", "k1", "k2")
    prev = F.lag("price").over(w)
    return _obs(spark, sf_dir).select(
        "prod",
        "store",
        "k1",
        "k2",
        "price",
        F.round(F.col("price") - prev + 1e-9, 2).alias("delta"),
        F.round(F.try_divide(F.col("price") - prev, prev) + 1e-9, 6).alias("rel_change"),
    )


# --- A4: last actual change walk-back (conditional lag) ---
@register(
    "last_change_walkback",
    f"""
    WITH obs AS ({_OBS_SQL}),
    seq AS (
        SELECT prod, store, tmsp, price, k1, k2,
               lag(price) OVER (PARTITION BY prod, store ORDER BY tmsp, k1, k2) AS prev_price
        FROM obs
    ), changes AS (
        SELECT prod, store, tmsp, price, prev_price, k1, k2,
               row_number() OVER (PARTITION BY prod, store
                                  ORDER BY tmsp DESC, k1 DESC, k2 DESC) AS rn
        FROM seq WHERE prev_price IS NOT NULL AND price <> prev_price
    )
    SELECT prod, store, price AS changed_to, prev_price AS changed_from,
           round(price - prev_price + 1e-9, 2) AS last_change
    FROM changes WHERE rn = 1
    """,
)
def last_change_walkback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: skip-equal-prices walk-back to the last real change
    `analytics/ProdMetricsV6.scala:83-103,139-206` → filter rows where
    price != lag(price), then take the latest of those."""
    w = Window.partitionBy("prod", "store").orderBy("tmsp", "k1", "k2")
    w_desc = Window.partitionBy("prod", "store").orderBy(
        F.desc("tmsp"), F.desc("k1"), F.desc("k2")
    )
    seq = _obs(spark, sf_dir).withColumn("prev_price", F.lag("price").over(w))
    changes = seq.filter(F.col("prev_price").isNotNull() & (F.col("price") != F.col("prev_price")))
    return (
        changes.withColumn("rn", F.row_number().over(w_desc))
        .filter(F.col("rn") == 1)
        .select(
            "prod",
            "store",
            F.col("price").alias("changed_to"),
            F.col("prev_price").alias("changed_from"),
            F.round(F.col("price") - F.col("prev_price") + 1e-9, 2).alias("last_change"),
        )
    )


# --- O-family: rank / dense_rank / percent_rank ladder ---
@register(
    "rank_family_parts",
    """
    SELECT p_partkey, p_brand, p_retailprice,
           rank() OVER w AS price_rank,
           dense_rank() OVER w AS price_dense_rank,
           round(percent_rank() OVER w + 1e-9, 6) AS price_pct_rank
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
    """,
)
def rank_family_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: position rank in sorted price list
    `analytics/UrlPositionAndVar.scala:64-95` — full rank family."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.round(F.percent_rank().over(w) + 1e-9, 6).alias("price_pct_rank"),
    )


# --- Hotspots: change-count buckets + hot level ---
@register(
    "hotspots_change_buckets",
    f"""
    WITH obs AS ({_OBS_SQL}),
    seq AS (
        SELECT prod, store, price,
               lag(price) OVER (PARTITION BY prod, store ORDER BY tmsp, k1, k2) AS prev_price
        FROM obs
    ), per_store AS (
        SELECT prod, store,
               sum(CASE WHEN prev_price IS NOT NULL AND price <> prev_price
                        THEN 1 ELSE 0 END) AS n_changes
        FROM seq GROUP BY prod, store
    ), per_prod AS (
        SELECT prod, CAST(sum(n_changes) AS BIGINT) AS total_changes,
               round(sum(n_changes) / count(*) + 1e-9, 4) AS avg_changes_per_store
        FROM per_store GROUP BY prod
    )
    SELECT prod, total_changes, avg_changes_per_store,
           CASE WHEN avg_changes_per_store >= 6 THEN 4
                WHEN avg_changes_per_store >= 3 THEN 3
                WHEN avg_changes_per_store >= 1 THEN 2
                ELSE 1 END AS hot_level
    FROM per_prod
    """,
)
def hotspots_change_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: price-change-count histogram → hot level
    `analytics/Hotspots.scala:50-54,110-123`. The reference runs four
    filtered passes over the data; here one lag window + one agg +
    one when-chain."""
    w = Window.partitionBy("prod", "store").orderBy("tmsp", "k1", "k2")
    seq = _obs(spark, sf_dir).withColumn("prev_price", F.lag("price").over(w))
    per_store = seq.groupBy("prod", "store").agg(
        F.sum(
            F.when(
                F.col("prev_price").isNotNull() & (F.col("price") != F.col("prev_price")), 1
            ).otherwise(0)
        ).alias("n_changes")
    )
    per_prod = per_store.groupBy("prod").agg(
        F.sum("n_changes").cast("long").alias("total_changes"),
        F.round(F.sum("n_changes") / F.count(F.lit(1)) + 1e-9, 4).alias("avg_changes_per_store"),
    )
    hot = (
        F.when(F.col("avg_changes_per_store") >= 6, 4)
        .when(F.col("avg_changes_per_store") >= 3, 3)
        .when(F.col("avg_changes_per_store") >= 1, 2)
        .otherwise(1)
    )
    return per_prod.select(
        "prod", "total_changes", "avg_changes_per_store", hot.alias("hot_level")
    )


@register(
    "ntile_cume_dist_orders",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(ntile(10) OVER w AS BIGINT) AS price_decile,
           round(cume_dist() OVER w + 1e-9, 6) AS price_cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def ntile_cume_dist_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position window family (O-family complement to
    rank_family_parts): equal-height deciles + cumulative distribution
    per order priority. Unique (price, key) ORDER BY keeps both
    functions deterministic under ties. One hash partition per
    priority — the same single-shuffle shape at any scale.
    asc_nulls_last pins NULL prices to DuckDB's default NULLS LAST
    (Spark's ASC default is nulls-first — null-fuzz aligned)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice"), "o_orderkey"
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(10).over(w).cast("long").alias("price_decile"),
        F.round(F.cume_dist().over(w) + 1e-9, 6).alias("price_cume"),
    )


@register(
    "rolling_median_price",
    """
    SELECT l_partkey AS prodid, l_suppkey AS store,
           l_orderkey AS ok, l_linenumber AS ln,
           round(CAST(quantile_cont(l_extendedprice, 0.5) OVER (
               PARTITION BY l_partkey, l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) + 1e-9, 6)
               AS rolling_median
    FROM lineitem
    WHERE {fp}
      AND {vt} AND {k1} AND {k2}
    """.format(
        fp=finite_measure_sql("l_extendedprice"),
        vt=valid_date_axis_sql("l_shipdate"),
        k1=valid_id_sql("l_orderkey"),
        k2=valid_id_sql("l_linenumber"),
    ),
)
def rolling_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-observation median per price series — the robust
    smoother for spiky price feeds (a windowed PERCENTILE, not a mean:
    one bad scrape cannot drag it). Exact interpolated median over an
    explicit rows frame; one shuffle on the series key, same
    partitioning family as the delta windows. NaN observations are
    dropped before the frame is formed (NaN-fuzz aligned)."""
    w = (
        Window.partitionBy("l_partkey", "l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-4, Window.currentRow)
    )
    # valid_id on the ASC tie-break ids — same boundary as _obs
    # (keyfuzz r12: NULL ids shift the rolling frame between engines)
    return load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
        & valid_date_axis("l_shipdate")
        & valid_id("l_orderkey")
        & valid_id("l_linenumber")
    ).select(
        F.col("l_partkey").alias("prodid"),
        F.col("l_suppkey").alias("store"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)).over(w) + 1e-9, 6).alias(
            "rolling_median"
        ),
    )
