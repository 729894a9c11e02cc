"""Wave-12 queries: two-sample Kolmogorov–Smirnov drift testing and
Theil–Sen robust trend estimation.

KS is the distribution-free complement to PSI (wave 10): PSI needs a
binning choice; KS compares full empirical CDFs and its statistic is
the max gap — the standard "did this feed change shape?" test.
Theil–Sen is the robust complement to OLS (ols_trend_qty_price): the
median of pairwise slopes shrugs off the outliers that pull a
least-squares line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "ks_two_sample_value_drift",
    """
    WITH s AS (
        SELECT event_type, value,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS in_a,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS in_b
        FROM events WHERE value IS NOT NULL
    ), n AS (
        SELECT event_type, CAST(sum(in_a) AS BIGINT) AS na,
               CAST(sum(in_b) AS BIGINT) AS nb
        FROM s GROUP BY event_type
    ), c AS (
        SELECT event_type, value, sum(in_a) AS ca, sum(in_b) AS cb
        FROM s GROUP BY event_type, value
    ), cdf AS (
        SELECT event_type, value,
               sum(ca) OVER (PARTITION BY event_type ORDER BY value) AS cum_a,
               sum(cb) OVER (PARTITION BY event_type ORDER BY value) AS cum_b
        FROM c
    )
    SELECT cdf.event_type,
           round(max(abs(CAST(cum_a AS DOUBLE) / n.na
                         - CAST(cum_b AS DOUBLE) / n.nb)) + 1e-9, 6) AS ks_stat,
           n.na AS n_ref, n.nb AS n_cur
    FROM cdf JOIN n ON n.event_type = cdf.event_type
    WHERE n.na > 0 AND n.nb > 0
    GROUP BY cdf.event_type, n.na, n.nb
    """,
)
def ks_two_sample_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per event type,
    reference window (first half-month) vs current: D = max over all
    values of |F̂_ref(v) − F̂_cur(v)|, computed from one grouped count
    per distinct value and one ordered window per type (the empirical
    CDFs as running sums). Distribution-free — no binning decision,
    unlike PSI — and the max-gap evaluation only needs the DISTINCT
    value domain, so the window input is value-domain-sized, not
    corpus-sized. NULL values are missing data and excluded (scipy
    parity; they would also sort to opposite ends of the two engines'
    CDF windows — null-fuzz aligned)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ref = F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")
    s = ev.select(
        "event_type", "value",
        ref.cast("int").alias("in_a"), (~ref).cast("int").alias("in_b"),
    )
    n = s.groupBy("event_type").agg(
        F.sum("in_a").alias("n_ref"), F.sum("in_b").alias("n_cur")
    )
    c = s.groupBy("event_type", "value").agg(
        F.sum("in_a").alias("ca"), F.sum("in_b").alias("cb")
    )
    w = Window.partitionBy("event_type").orderBy("value").rangeBetween(
        Window.unboundedPreceding, 0
    )
    cdf = c.select(
        "event_type", "value",
        F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b"),
    )
    gap = F.abs(
        F.col("cum_a").cast("double") / F.col("n_ref")
        - F.col("cum_b").cast("double") / F.col("n_cur")
    )
    return (
        cdf.join(n, "event_type")
        # KS is undefined when either sample is empty (an event type
        # seen only before/only after the split): emitting it would
        # divide by zero — scipy errors there too (text-fuzz aligned)
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(F.round(F.max(gap) + F.lit(1e-9), 6).alias("ks_stat"))
        .select("event_type", "ks_stat", "n_ref", "n_cur")
    )


@register(
    "theil_sen_price_trend",
    f"""
    WITH obs AS (
        SELECT l_partkey AS prodid,
               date_diff('day', TIMESTAMP '1970-01-01 00:00:00', l_shipdate) AS d,
               l_extendedprice AS p,
               l_orderkey, l_linenumber
        FROM lineitem WHERE l_partkey % 20 = 3
          AND {finite_measure_sql('l_extendedprice')}
    ), pairs AS (
        SELECT a.prodid, (b.p - a.p) / (b.d - a.d) AS slope
        FROM obs a JOIN obs b
          ON b.prodid = a.prodid
         AND (a.d < b.d OR (a.d = b.d AND (a.l_orderkey, a.l_linenumber)
                                        < (b.l_orderkey, b.l_linenumber)))
        WHERE b.d <> a.d
    )
    SELECT prodid, CAST(count(*) AS BIGINT) AS n_pairs,
           round(median(slope) + 1e-9, 6) AS sen_slope
    FROM pairs GROUP BY prodid
    """,
)
def theil_sen_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per product (1/20th sample of parts):
    the MEDIAN of all pairwise (Δprice/Δday) slopes — a 29%-breakdown
    estimator where one spiked observation drags an OLS line
    (ols_trend_qty_price is the L2 counterpart). Pairs are generated
    per product key, so the join is blocked by prodid and the pair
    budget is C(obs_per_product, 2) — bounded by the per-group
    history depth, never corpus-quadratic; the median runs on the
    pair set per group. Equal-day pairs are excluded on BOTH sides
    (no slope), with a deterministic tiebreak so each unordered pair
    counts once."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.pmod(F.col("l_partkey"), F.lit(20)) == 3)
        # finite only: NULL/NaN/out-of-range prices have no slope
        & finite_measure("l_extendedprice")
    )
    obs = li.select(
        F.col("l_partkey").alias("prodid"),
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date")).alias("d"),
        F.col("l_extendedprice").alias("p"),
        "l_orderkey", "l_linenumber",
    )
    a = obs.select(
        F.col("prodid"), F.col("d").alias("ad"), F.col("p").alias("ap"),
        F.col("l_orderkey").alias("ak"), F.col("l_linenumber").alias("al"),
    )
    b = obs.select(
        F.col("prodid").alias("b_prodid"), F.col("d").alias("bd"),
        F.col("p").alias("bp"), F.col("l_orderkey").alias("bk"),
        F.col("l_linenumber").alias("bl"),
    )
    ordered = (F.col("ad") < F.col("bd")) | (
        (F.col("ad") == F.col("bd"))
        & (
            (F.col("ak") < F.col("bk"))
            | ((F.col("ak") == F.col("bk")) & (F.col("al") < F.col("bl")))
        )
    )
    pairs = (
        a.join(b, (F.col("b_prodid") == F.col("prodid")) & ordered)
        .where(F.col("bd") != F.col("ad"))
        .select(
            "prodid",
            ((F.col("bp") - F.col("ap")) / (F.col("bd") - F.col("ad"))).alias("slope"),
        )
    )
    return pairs.groupBy("prodid").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.median("slope") + F.lit(1e-9), 6).alias("sen_slope"),
    )
