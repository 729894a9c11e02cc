"""ProdMetrics V6/V7 family completion (SURVEY.md §2.5 A3/A14) +
corrupt-record handling (P4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.keys import valid_id, valid_id_sql
from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.functions.temporal import (
    epoch_seconds,
    valid_date_axis,
    valid_date_axis_sql,
)
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "prod_metrics_delta_extremes",
    """
    WITH deltas AS (
        SELECT l_partkey AS prodid, l_suppkey AS store_id,
               l_extendedprice AS price,
               l_extendedprice - lag(l_extendedprice) OVER (
                   PARTITION BY l_partkey, l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber) AS delta
        FROM lineitem
        WHERE {fp} AND {vt} AND {k1} AND {k2}
    ), valid AS (SELECT * FROM deltas WHERE delta IS NOT NULL),
    ranked AS (
        SELECT prodid, store_id, price, delta,
               row_number() OVER (PARTITION BY prodid
                                  ORDER BY delta DESC, store_id, price) AS rn_inc,
               row_number() OVER (PARTITION BY prodid
                                  ORDER BY delta ASC, store_id, price) AS rn_dec
        FROM valid
    )
    SELECT prodid,
           max(CASE WHEN rn_inc = 1 THEN store_id END) AS max_inc_store,
           round(max(CASE WHEN rn_inc = 1 THEN delta END) + 1e-9, 6) AS max_inc_delta,
           round(max(CASE WHEN rn_inc = 1 THEN price END) + 1e-9, 6) AS max_inc_price,
           max(CASE WHEN rn_dec = 1 THEN store_id END) AS max_dec_store,
           round(max(CASE WHEN rn_dec = 1 THEN delta END) + 1e-9, 6) AS max_dec_delta
    FROM ranked GROUP BY prodid
    """.format(fp=finite_measure_sql("l_extendedprice"),
               vt=valid_date_axis_sql("l_shipdate"),
               k1=valid_id_sql("l_orderkey"),
               k2=valid_id_sql("l_linenumber")),
)
def prod_metrics_delta_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProdMetricsV7 extremes (`analytics/ProdMetricsV7.scala:116-151`):
    per product, the store and endpoints of the largest price increase
    AND the largest decrease — two deterministic rank-1 picks over the
    same delta window, one pass."""
    w = Window.partitionBy("l_partkey", "l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    deltas = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
        & valid_date_axis("l_shipdate")
        & valid_id("l_orderkey")
        & valid_id("l_linenumber")
    ).select(
        F.col("l_partkey").alias("prodid"),
        F.col("l_suppkey").alias("store_id"),
        F.col("l_extendedprice").alias("price"),
        (F.col("l_extendedprice") - F.lag("l_extendedprice").over(w)).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    wi = Window.partitionBy("prodid").orderBy(F.desc("delta"), "store_id", "price")
    wd = Window.partitionBy("prodid").orderBy(F.asc("delta"), "store_id", "price")
    ranked = deltas.withColumn("rn_inc", F.row_number().over(wi)).withColumn(
        "rn_dec", F.row_number().over(wd)
    )
    inc = F.when(F.col("rn_inc") == 1, F.col("store_id"))
    return ranked.groupBy("prodid").agg(
        F.max(inc).alias("max_inc_store"),
        F.round(F.max(F.when(F.col("rn_inc") == 1, F.col("delta"))) + 1e-9, 6).alias(
            "max_inc_delta"
        ),
        F.round(F.max(F.when(F.col("rn_inc") == 1, F.col("price"))) + 1e-9, 6).alias(
            "max_inc_price"
        ),
        F.max(F.when(F.col("rn_dec") == 1, F.col("store_id"))).alias("max_dec_store"),
        F.round(F.max(F.when(F.col("rn_dec") == 1, F.col("delta"))) + 1e-9, 6).alias(
            "max_dec_delta"
        ),
    )


@register(
    "prod_metrics_top2_extremes",
    """
    WITH deltas AS (
        SELECT l_partkey AS prodid, l_suppkey AS store_id,
               l_extendedprice AS price,
               lag(l_extendedprice) OVER w AS prev_price,
               l_extendedprice - lag(l_extendedprice) OVER w AS delta
        FROM lineitem
        WHERE {fp} AND {vt} AND {k1} AND {k2}
        WINDOW w AS (PARTITION BY l_partkey, l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber)
    ), valid AS (SELECT * FROM deltas WHERE delta IS NOT NULL),
    ranked AS (
        SELECT prodid, store_id, price, prev_price, delta,
               row_number() OVER (PARTITION BY prodid
                   ORDER BY delta DESC, store_id, price, prev_price) AS rn_inc,
               row_number() OVER (PARTITION BY prodid
                   ORDER BY delta ASC, store_id, price, prev_price) AS rn_dec
        FROM valid
    )
    SELECT prodid, 'inc' AS kind, CAST(rn_inc AS BIGINT) AS rank, store_id,
           round(delta + 1e-9, 6) AS delta,
           round(prev_price + 1e-9, 6) AS price_from,
           round(price + 1e-9, 6) AS price_to
    FROM ranked WHERE rn_inc <= 2
    UNION ALL
    SELECT prodid, 'dec' AS kind, CAST(rn_dec AS BIGINT) AS rank, store_id,
           round(delta + 1e-9, 6) AS delta,
           round(prev_price + 1e-9, 6) AS price_from,
           round(price + 1e-9, 6) AS price_to
    FROM ranked WHERE rn_dec <= 2
    """.format(fp=finite_measure_sql("l_extendedprice"),
               vt=valid_date_axis_sql("l_shipdate"),
               k1=valid_id_sql("l_orderkey"),
               k2=valid_id_sql("l_linenumber")),
)
def prod_metrics_top2_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProdMetricsV6 top-2 variant (`analytics/ProdMetricsV6.scala:
    106-137`): per product, the TWO largest price increases and TWO
    largest decreases with their endpoints (previous price → new
    price) and store. Emitted as (prodid, kind, rank) rows — products
    with a single delta yield only rank 1. Same single delta-window
    pass as the top-1 variant; both rank families share the prodid
    partitioning so no extra shuffle."""
    w = Window.partitionBy("l_partkey", "l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    deltas = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            finite_measure("l_extendedprice")
            & valid_date_axis("l_shipdate")
            & valid_id("l_orderkey")
            & valid_id("l_linenumber")
        )
        .select(
            F.col("l_partkey").alias("prodid"),
            F.col("l_suppkey").alias("store_id"),
            F.col("l_extendedprice").alias("price"),
            F.lag("l_extendedprice").over(w).alias("prev_price"),
            (F.col("l_extendedprice") - F.lag("l_extendedprice").over(w)).alias("delta"),
        )
        .filter(F.col("delta").isNotNull())
    )
    wi = Window.partitionBy("prodid").orderBy(
        F.desc("delta"), "store_id", "price", "prev_price"
    )
    wd = Window.partitionBy("prodid").orderBy(
        F.asc("delta"), "store_id", "price", "prev_price"
    )
    ranked = deltas.withColumn("rn_inc", F.row_number().over(wi)).withColumn(
        "rn_dec", F.row_number().over(wd)
    )

    def emit(kind: str, rn: str) -> DataFrame:
        return ranked.filter(F.col(rn) <= 2).select(
            "prodid",
            F.lit(kind).alias("kind"),
            F.col(rn).cast("bigint").alias("rank"),
            "store_id",
            F.round(F.col("delta") + 1e-9, 6).alias("delta"),
            F.round(F.col("prev_price") + 1e-9, 6).alias("price_from"),
            F.round(F.col("price") + 1e-9, 6).alias("price_to"),
        )

    return emit("inc", "rn_inc").unionByName(emit("dec", "rn_dec"))


@register(
    "pivot_store_price_matrix",
    """
    WITH latest AS (
        SELECT l_partkey AS prodid, ((((l_suppkey) % 4) + 4) % 4) AS store_grp, l_extendedprice AS price,
               row_number() OVER (PARTITION BY l_partkey, ((((l_suppkey) % 4) + 4) % 4)
                   ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
        FROM lineitem
    )
    SELECT prodid,
           coalesce(CAST(round(max(CASE WHEN store_grp = 0 AND rn = 1 AND {fp} THEN price END) + 1e-9, 6) AS VARCHAR), 'NA') AS store_0,
           coalesce(CAST(round(max(CASE WHEN store_grp = 1 AND rn = 1 AND {fp} THEN price END) + 1e-9, 6) AS VARCHAR), 'NA') AS store_1,
           coalesce(CAST(round(max(CASE WHEN store_grp = 2 AND rn = 1 AND {fp} THEN price END) + 1e-9, 6) AS VARCHAR), 'NA') AS store_2,
           coalesce(CAST(round(max(CASE WHEN store_grp = 3 AND rn = 1 AND {fp} THEN price END) + 1e-9, 6) AS VARCHAR), 'NA') AS store_3
    FROM latest GROUP BY prodid
    """.format(fp=finite_measure_sql("price")),
)
def pivot_store_price_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka2ProdXStoreReport (`analytics/Kafka2ProdXStoreReport.scala:
    103-122`): product x store price matrix with the reference's
    getOrElse("NA") fill — pivot on a bounded store-group key with
    explicit values so the plan is a single agg (no pivot-value
    discovery pass)."""
    w = Window.partitionBy("l_partkey", F.pmod("l_suppkey", F.lit(4))).orderBy(
        F.desc("l_shipdate"), F.desc("l_orderkey"), F.desc("l_linenumber")
    )
    latest = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("prodid"),
        F.pmod("l_suppkey", F.lit(4)).alias("store_grp"),
        # non-finite/out-of-range latest price renders as 'NA'
        # (NaN-fuzz: duck casts NaN to 'nan', Spark to 'NaN'; extreme
        # fuzz: 'inf' vs 'Infinity' — none of them are prices)
        F.when(finite_measure("l_extendedprice"), F.col("l_extendedprice")).alias("price"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1)
    pivoted = (
        latest.groupBy("prodid")
        .pivot("store_grp", [0, 1, 2, 3])
        .agg(F.round(F.max("price") + 1e-9, 6))
    )
    return pivoted.select(
        "prodid",
        *[
            F.coalesce(F.col(str(g)).cast("string"), F.lit("NA")).alias(f"store_{g}")
            for g in range(4)
        ],
    )


@register(
    "corrupt_json_handling",
    """
    WITH raw AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 11 = 0
                    THEN '{bad json' || o_orderkey
                    ELSE '{"qty": ' || (o_orderkey % 50) || '}' END AS payload
        FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN NULL
                ELSE o_orderkey % 50 END AS qty,
           o_orderkey % 11 = 0 AS is_corrupt
    FROM raw
    """,
)
def corrupt_json_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 error-row handling (`emr/SeedsDistinctS3ToKafka.scala:50-59`
    try/catch parse → filter): from_json yields NULL on corrupt
    payloads; the corrupt flag routes rows to the error side output
    instead of silently dropping them."""
    o = load_table(spark, sf_dir, "orders")
    payload = F.when(
        F.pmod("o_orderkey", F.lit(11)) == 0,
        F.concat(F.lit("{bad json"), F.col("o_orderkey").cast("string")),
    ).otherwise(
        F.concat(F.lit('{"qty": '), F.pmod("o_orderkey", F.lit(50)).cast("string"), F.lit("}"))
    )
    parsed = o.select(
        "o_orderkey",
        F.from_json(payload, "qty long").alias("j"),
        payload.alias("payload"),
    )
    return parsed.select(
        "o_orderkey",
        F.col("j.qty").alias("qty"),
        F.col("j.qty").isNull().alias("is_corrupt"),
    )


@register(
    "delta_day_windows",
    """
    WITH obs AS (
        SELECT l_partkey AS prodid, l_suppkey AS store_id,
               l_extendedprice AS price,
               floor(epoch(l_shipdate)) AS ts,
               row_number() OVER (PARTITION BY l_partkey, l_suppkey
                   ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
        FROM lineitem
        WHERE {fp} AND {vt}
    ), latest AS (SELECT * FROM obs WHERE rn = 1),
    back AS (
        SELECT l.prodid, l.store_id, l.price, l.ts,
               max(CASE WHEN o.ts <= l.ts - 86400 THEN o.ts END) AS ts_1d,
               max(CASE WHEN o.ts <= l.ts - 172800 THEN o.ts END) AS ts_2d,
               max(CASE WHEN o.ts <= l.ts - 518400 THEN o.ts END) AS ts_6d
        FROM latest l JOIN obs o
          ON l.prodid = o.prodid AND l.store_id = o.store_id
        GROUP BY l.prodid, l.store_id, l.price, l.ts
    )
    SELECT b.prodid, b.store_id, b.price,
           round(b.price - max(CASE WHEN o1.ts = b.ts_1d THEN o1.price END) + 1e-9, 6) AS delta_1d,
           round(b.price - max(CASE WHEN o2.ts = b.ts_2d THEN o2.price END) + 1e-9, 6) AS delta_2d,
           round(b.price - max(CASE WHEN o6.ts = b.ts_6d THEN o6.price END) + 1e-9, 6) AS delta_6d
    FROM back b
    LEFT JOIN obs o1 ON o1.prodid = b.prodid AND o1.store_id = b.store_id AND o1.ts = b.ts_1d
    LEFT JOIN obs o2 ON o2.prodid = b.prodid AND o2.store_id = b.store_id AND o2.ts = b.ts_2d
    LEFT JOIN obs o6 ON o6.prodid = b.prodid AND o6.store_id = b.store_id AND o6.ts = b.ts_6d
    GROUP BY b.prodid, b.store_id, b.price
    """.format(fp=finite_measure_sql("l_extendedprice"),
               vt=valid_date_axis_sql("l_shipdate")),
)
def delta_day_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeltaCalc day-back windows (`analytics/DeltaCalc.scala:46`,
    `analytics/CalcIndices.scala:58-64`): latest price vs the newest
    observation at least 1/2/6 days older — range-frame windows over
    epoch seconds, one shuffle, no self-joins (the oracle does it the
    slow SQL way with joins; Spark uses rangeBetween)."""
    from pyspark.sql import Window

    obs = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
        & valid_date_axis("l_shipdate")
    ).select(
        F.col("l_partkey").alias("prodid"),
        F.col("l_suppkey").alias("store_id"),
        F.col("l_extendedprice").alias("price"),
        epoch_seconds("l_shipdate").alias("ts"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    # one row per (prod, store, ts): last() over a range frame with ts
    # ties would pick an arbitrary row — pre-aggregating makes the
    # back-reference deterministic (max price at that ts, matching the
    # oracle's pick)
    agg_ts = obs.groupBy("prodid", "store_id", "ts").agg(F.max("price").alias("p_ts"))
    day = 86400
    back_cols = []
    for n, name in ((1, "delta_1d"), (2, "delta_2d"), (6, "delta_6d")):
        w = (
            Window.partitionBy("prodid", "store_id")
            .orderBy("ts")
            .rangeBetween(Window.unboundedPreceding, -n * day)
        )
        back_cols.append(F.last("p_ts").over(w).alias(f"__b_{name}"))
    backs = agg_ts.select("prodid", "store_id", "ts", *back_cols)

    wlatest = Window.partitionBy("prodid", "store_id").orderBy(
        F.desc("ts"), F.desc("ok"), F.desc("ln")
    )
    latest = (
        obs.withColumn("__rn", F.row_number().over(wlatest))
        .filter(F.col("__rn") == 1)
        .select("prodid", "store_id", "price", "ts")
    )
    joined = latest.join(backs, ["prodid", "store_id", "ts"])
    return joined.select(
        "prodid",
        "store_id",
        "price",
        *[
            F.round(F.col("price") - F.col(f"__b_{name}") + 1e-9, 6).alias(name)
            for name in ("delta_1d", "delta_2d", "delta_6d")
        ],
    )


@register(
    "ema_price_per_product",
    """
    WITH g AS (
        SELECT l_partkey AS prodid, l_suppkey AS store,
               list_transform(
                   list_sort(list({{'ts': floor(epoch(l_shipdate)), 'ok': l_orderkey,
                                   'ln': l_linenumber, 'p': l_extendedprice}})),
                   s -> s.p) AS ps
        FROM lineitem WHERE {fp} AND {vt} AND {k1} AND {k2} GROUP BY 1, 2
    )
    SELECT prodid, store, len(ps)::BIGINT AS n_obs,
           round(list_reduce(ps, (acc, x) -> acc * 0.5 + x * 0.5) + 1e-9, 6) AS ema
    FROM g
    """.format(fp=finite_measure_sql("l_extendedprice"),
               vt=valid_date_axis_sql("l_shipdate"),
               k1=valid_id_sql("l_orderkey"),
               k2=valid_id_sql("l_linenumber")),
)
def ema_price_per_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average (alpha=0.5) of each (product,
    store) price series — a SEQUENTIAL-dependency aggregate, the
    shape Spark windows cannot express directly. Technique: collect
    the series as a sorted array (unique (ts, orderkey, linenumber)
    sort key) and LEFT-FOLD with `aggregate()` — both engines fold in
    identical order, so the float op sequence is bitwise-reproducible
    (no cross-partition accumulation drift). One shuffle on the group
    key; per-group state is the series itself, bounded by the
    per-product observation count — the same contract as the
    reference's per-product delta walks (`analytics/DeltaCalc.scala:
    62-75`).

    Corrupt measurements drop at ingestion (finite_measure, both
    engines): identical fold ORDER is not identical fold ROUNDING —
    one engine fuses acc*0.5 + x*0.5 (FMA, single rounding) where the
    other rounds twice, a difference only representable when operands
    exceed 2^52 (ulp ≥ 0.5). A fresh-seed-317 extreme fuzz landed
    2^53+1 in one series and the two folds split by half an ulp at
    3.4e15; no real price reaches the 1e10 domain bound."""
    # valid_id on the sort-struct tie-breaks (keyfuzz r12): same
    # class as cusum_price_shift_per_product
    # fan_out (opt-in scan floor, r12): struct-build + map-side
    # collect_list partials; ABBA measured 2.56 s -> 1.96 s (-23%)
    li = load_table(spark, sf_dir, "lineitem", fan_out=True).filter(
        finite_measure("l_extendedprice")
        & valid_date_axis("l_shipdate")
        & valid_id("l_orderkey")
        & valid_id("l_linenumber")
    )
    g = (
        li.groupBy(
            F.col("l_partkey").alias("prodid"), F.col("l_suppkey").alias("store")
        ).agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            epoch_seconds("l_shipdate").alias("ts"),
                            F.col("l_orderkey").alias("ok"),
                            F.col("l_linenumber").alias("ln"),
                            F.col("l_extendedprice").alias("p"),
                        )
                    )
                ),
                lambda s: s.p,
            ).alias("ps")
        )
    )
    arr = F.col("ps")
    ema = F.aggregate(
        F.slice(arr, 2, F.size(arr) - 1),
        F.element_at(arr, 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return g.select(
        "prodid",
        "store",
        F.size(arr).cast("long").alias("n_obs"),
        F.round(ema + 1e-9, 6).alias("ema"),
    )
