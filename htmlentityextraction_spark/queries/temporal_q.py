"""Temporal-join + multi-dimensional-aggregate queries: as-of join
(DuckDB ASOF JOIN as the oracle), broadcast range join, and
rollup/cube/grouping-sets (SURVEY.md §2.5 notes the reference lacks
them; the rebuild exposes Spark's built-ins with oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.temporal import epoch_seconds
from htmlentityextraction_spark.operators import temporal as tp
from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.functions.temporal import (
    valid_date_axis,
    valid_date_axis_sql,
)
from htmlentityextraction_spark.functions.keys import valid_id, valid_id_sql
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "asof_price_lookup",
    """
    WITH hist AS (
        -- a NULL price is not a KNOWN price: drop it from history so
        -- the as-of carries the latest real observation on both
        -- engines (null-fuzz aligned)
        SELECT l_partkey, l_shipdate, max(l_extendedprice) AS price
        FROM lineitem WHERE l_extendedprice IS NOT NULL AND {vt_ship}
        GROUP BY l_partkey, l_shipdate
    ), probes AS (
        SELECT o_orderkey, o_orderdate, o_orderkey % 2000 AS probe_partkey
        FROM orders WHERE o_orderkey % 7 = 0 AND {vt_ord}
    )
    SELECT p.o_orderkey, p.probe_partkey, p.o_orderdate,
           h.price AS asof_price
    FROM probes p ASOF LEFT JOIN hist h
      ON p.probe_partkey = h.l_partkey AND p.o_orderdate >= h.l_shipdate
    """.format(vt_ship=valid_date_axis_sql("l_shipdate"),
               vt_ord=valid_date_axis_sql("o_orderdate")),
)
def asof_price_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest known price per (part, order date). Spark
    side is the union+window carry-forward (one shuffle, no pair
    blow-up); DuckDB's native ASOF JOIN is the oracle. NULL prices
    are excluded from history (not "known")."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & valid_date_axis("l_shipdate")
    )
    hist = li.groupBy("l_partkey", "l_shipdate").agg(
        F.max("l_extendedprice").alias("price")
    )
    probes = (
        load_table(spark, sf_dir, "orders")
        .filter((F.pmod("o_orderkey", F.lit(7)) == 0) & valid_date_axis("o_orderdate"))
        .select(
            "o_orderkey",
            "o_orderdate",
            F.pmod("o_orderkey", F.lit(2000)).alias("probe_partkey"),
        )
    )
    out = tp.asof_join(
        probes.withColumnRenamed("probe_partkey", "l_partkey"),
        hist, "l_partkey", "o_orderdate", "l_shipdate", ["price"],
    )
    return out.select(
        "o_orderkey",
        F.col("l_partkey").alias("probe_partkey"),
        "o_orderdate",
        F.col("asof_price"),
    )


@register(
    "range_join_value_bands",
    """
    WITH bands AS (
        SELECT r_regionkey AS band_id,
               r_regionkey * 40.0 AS lo,
               r_regionkey * 40.0 + 59.99 AS hi
        FROM region
    )
    SELECT e.event_id, e.value, b.band_id
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi
    """,
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast range join: events matched to overlapping value bands
    (a value can land in two bands — genuine interval semantics, not
    bucketing)."""
    ev = load_table(spark, sf_dir, "events")
    bands = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("band_id"),
        (F.col("r_regionkey") * 40.0).alias("lo"),
        (F.col("r_regionkey") * 40.0 + 59.99).alias("hi"),
    )
    return tp.range_join(ev, bands, "value", "lo", "hi").select(
        "event_id", "value", "band_id"
    )


@register(
    "rollup_flag_status",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity) + 1e-9, 6) AS qty
    FROM lineitem WHERE {fp} GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """.format(fp=finite_measure_sql("l_quantity")),
)
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corrupt quantities drop at ingestion (ulp-order class; the
    # ROLLUP grand-total row is the coarsest sum in the registry)
    li = load_table(spark, sf_dir, "lineitem").filter(finite_measure("l_quantity"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity") + 1e-9, 6).alias("qty")
    )


@register(
    "cube_flag_status",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(avg(l_discount) + 1e-9, 6) AS avg_disc
    FROM lineitem WHERE {fp} GROUP BY CUBE (l_returnflag, l_linestatus)
    """.format(fp=finite_measure_sql("l_discount")),
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corrupt discounts drop at ingestion (avg shares sum's ulp-order
    # hazard; the CUBE grand-total row is the coarsest mean)
    li = load_table(spark, sf_dir, "lineitem").filter(finite_measure("l_discount"))
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.avg("l_discount") + 1e-9, 6).alias("avg_disc")
    )


@register(
    "grouping_sets_mixed",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS n FROM {lineitem} "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))",
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "scd2_price_dimension",
    """
    WITH obs AS (
        SELECT l_partkey AS prodid, l_suppkey AS store,
               l_extendedprice AS price,
               floor(epoch(l_shipdate)) AS ts,
               lag(l_extendedprice) OVER w AS prev_price
        FROM lineitem WHERE {vt} AND {k1} AND {k2}
        WINDOW w AS (PARTITION BY l_partkey, l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber)
    ), changes AS (
        SELECT prodid, store, price, CAST(ts AS BIGINT) AS valid_from
        FROM obs WHERE prev_price IS NULL OR price <> prev_price
    )
    SELECT prodid, store, price, valid_from,
           CAST(lead(valid_from) OVER (PARTITION BY prodid, store
                                       ORDER BY valid_from) AS BIGINT) AS valid_to,
           lead(valid_from) OVER (PARTITION BY prodid, store
                                  ORDER BY valid_from) IS NULL AS is_current
    FROM changes
    """.format(vt=valid_date_axis_sql("l_shipdate"),
               k1=valid_id_sql("l_orderkey"),
               k2=valid_id_sql("l_linenumber")),
)
def scd2_price_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) construction from a change
    log: per price series, only REAL changes survive (equal-price
    observations collapse — the A4 walk-back rule), each carrying
    [valid_from, valid_to) epoch validity and an is_current flag from
    one lead(). The dimension an as-of/range join consumes
    (asof_price_lookup, range_join_value_bands are the read side) —
    two window passes sharing one (prodid, store) partitioning, no
    self-joins."""
    w = Window.partitionBy("prodid", "store").orderBy("__ts", "__ok", "__ln")
    # valid_id on the ASC tie-break ids (keyfuzz r12, same class
    # as windows._obs: a NULL id shifts the change log between engines)
    obs = load_table(spark, sf_dir, "lineitem").filter(
        valid_date_axis("l_shipdate")
        & valid_id("l_orderkey")
        & valid_id("l_linenumber")
    ).select(
        F.col("l_partkey").alias("prodid"),
        F.col("l_suppkey").alias("store"),
        F.col("l_extendedprice").alias("price"),
        epoch_seconds("l_shipdate").alias("__ts"),
        F.col("l_orderkey").alias("__ok"),
        F.col("l_linenumber").alias("__ln"),
    )
    changes = (
        obs.withColumn("__prev", F.lag("price").over(w))
        .filter(F.col("__prev").isNull() | (F.col("price") != F.col("__prev")))
        .select("prodid", "store", "price", F.col("__ts").alias("valid_from"))
    )
    w2 = Window.partitionBy("prodid", "store").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w2)
    return changes.select(
        "prodid", "store", "price", "valid_from",
        nxt.alias("valid_to"), nxt.isNull().alias("is_current"),
    )
