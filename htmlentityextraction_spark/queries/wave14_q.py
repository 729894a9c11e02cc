"""Wave-14: Mann–Whitney U rank test — the rank-based two-sample
location test completing the drift-testing family (PSI = binned
divergence, KS = max CDF gap, MW = rank-sum shift; each detects a
different alternative)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.keys import pmod_sql, valid_id
from htmlentityextraction_spark.functions.pricing import (
    finite_measure,
    finite_measure_sql,
    measure_cents,
    measure_cents_sql,
)
from htmlentityextraction_spark.functions.temporal import valid_date_axis
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "mann_whitney_value_shift",
    """
    WITH s AS (
        SELECT event_type, value,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS in_a
        FROM events WHERE value IS NOT NULL
    ), c AS (
        SELECT event_type, value,
               CAST(sum(in_a) AS BIGINT) AS ca,
               CAST(count(*) AS BIGINT) AS cnt
        FROM s GROUP BY event_type, value
    ), r AS (
        SELECT event_type, value, ca, cnt,
               CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY value
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_before
        FROM c
    ), n AS (
        SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cnt) - sum(ca) AS BIGINT) AS nb
        FROM c GROUP BY event_type
    ), ranks AS (
        SELECT r.event_type,
               sum(r.ca * (r.cum_before + (r.cnt + 1) / 2.0)) AS ra
        FROM r GROUP BY r.event_type
    )
    SELECT n.event_type, n.na, n.nb,
           round(ranks.ra - n.na * (n.na + 1) / 2.0 + 1e-9, 6) AS u_stat,
           round(((ranks.ra - n.na * (n.na + 1) / 2.0) - n.na * n.nb / 2.0)
                 / sqrt(n.na * n.nb * (n.na + n.nb + 1) / 12.0) + 1e-9, 6) AS z_approx
    FROM ranks JOIN n ON n.event_type = ranks.event_type
    WHERE n.na > 0 AND n.nb > 0
    """,
)
def mann_whitney_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) per event type, reference
    half-month vs current: ranks come from grouped value counts with
    midrank tie handling (avg rank = count-before + (ties+1)/2), so
    the ranking costs one grouped count and one ordered window over
    the DISTINCT value domain — never a global sort of raw rows. The
    normal approximation z is reported without tie correction (ties
    are fixture-rare; the U statistic itself is exact). Completes the
    drift suite: PSI (binned), KS (shape), MW (location). NULL
    values are missing data and excluded (rank of NULL is undefined;
    null-fuzz aligned)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ref = (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")).cast("int")
    s = ev.select("event_type", "value", ref.alias("in_a"))
    c = s.groupBy("event_type", "value").agg(
        F.sum("in_a").alias("ca"), F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("value").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = c.withColumn("cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    n = c.groupBy("event_type").agg(
        F.sum("ca").alias("na"), (F.sum("cnt") - F.sum("ca")).alias("nb")
    )
    ranks = r.groupBy("event_type").agg(
        F.sum(F.col("ca") * (F.col("cum_before") + (F.col("cnt") + 1) / 2.0)).alias("ra")
    )
    u = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2.0
    z = (u - F.col("na") * F.col("nb") / 2.0) / F.sqrt(
        F.col("na") * F.col("nb") * (F.col("na") + F.col("nb") + 1) / 12.0
    )
    # U is undefined when either sample is empty (event type seen only
    # on one side of the split): z's denominator is 0 (text-fuzz aligned)
    return (
        ranks.join(n, "event_type")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "event_type", "na", "nb",
            F.round(u + F.lit(1e-9), 6).alias("u_stat"),
            F.round(z + F.lit(1e-9), 6).alias("z_approx"),
        )
    )


@register(
    "match_recognize_lite_funnel",
    """
    WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), seq AS (
        SELECT user_id,
               string_agg(CASE event_type
                          WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                          WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                          ELSE 'e' END, '' ORDER BY rn) AS s
        FROM r GROUP BY user_id
    )
    SELECT user_id,
           regexp_matches(s, 'v[^p]*c[^p]*p') AS strict_funnel,
           regexp_matches(s, 'vc*p') AS adjacent_funnel,
           CAST((length(s) - length(regexp_replace(s, 'vc', '', 'g'))) // 2 AS BIGINT)
               AS n_view_click_adjacent
    FROM seq
    """,
)
def match_recognize_lite_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: per-user event sequences compiled to a
    symbol string (one ordered window + string_agg), then SQL
    row-pattern semantics expressed as regular expressions over it —
    view→click→purchase with no intervening purchase (the SQL:2016
    PATTERN (V X*? C Y*? P) shape), strictly-adjacent variants, and
    adjacent-pair counts. Spark has no MATCH_RECOGNIZE; this is the
    scale-correct encoding: the pattern engine runs per user on a
    bounded string, and the only shuffle is the per-user window.
    Symbols are single chars so regex positions = event positions."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    r = ev.withColumn("rn", F.row_number().over(w)).withColumn("sym", sym)
    seq = r.groupBy("user_id").agg(
        F.concat_ws(
            "", F.array_sort(F.collect_list(F.struct("rn", "sym"))).getField("sym")
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.col("s").rlike("v[^p]*c[^p]*p").alias("strict_funnel"),
        F.col("s").rlike("vc*p").alias("adjacent_funnel"),
        (
            (F.length("s") - F.length(F.regexp_replace("s", "vc", ""))) / 2
        ).cast("long").alias("n_view_click_adjacent"),
    )


@register(
    "ewma_control_chart",
    f"""
    WITH obs AS (
        SELECT l_partkey AS prodid, l_suppkey AS store, l_extendedprice AS p,
               row_number() OVER (PARTITION BY l_partkey, l_suppkey
                                  ORDER BY l_shipdate, l_orderkey, l_linenumber) AS t
        FROM lineitem
        WHERE l_partkey % 25 = 7 AND {finite_measure_sql('l_extendedprice')}
          AND l_shipdate >= TIMESTAMP '1990-01-01' AND l_shipdate < TIMESTAMP '2100-01-01'
    ), stats AS (
        SELECT prodid, store, stddev_pop(p) AS sigma
        FROM obs GROUP BY prodid, store
    ), ewma AS (
        SELECT a.prodid, a.store, a.t,
               sum(CASE WHEN b.t = 1 THEN power(0.7, a.t - 1) * b.p
                        ELSE 0.3 * power(0.7, a.t - b.t) * b.p END) AS e
        FROM obs a JOIN obs b
          ON b.prodid = a.prodid AND b.store = a.store AND b.t <= a.t
        GROUP BY a.prodid, a.store, a.t
    )
    SELECT o.prodid, o.store, CAST(o.t AS BIGINT) AS t,
           round(o.p + 1e-9, 6) AS price,
           round(prev.e + 1e-9, 6) AS ewma_prev,
           CASE WHEN s.sigma = 0 THEN false
                ELSE abs(o.p - prev.e)
                     > 3 * s.sigma * sqrt(0.3 / 1.7) END AS flagged
    FROM obs o
    JOIN ewma prev ON prev.prodid = o.prodid AND prev.store = o.store
                  AND prev.t = o.t - 1
    JOIN stats s ON s.prodid = o.prodid AND s.store = o.store
    """,
)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (λ=0.3) per (product, store) price series —
    the SPC anomaly monitor complementing CUSUM (mean-shift memory)
    and z-score (memoryless): each observation is compared against
    the EWMA of its PREDECESSORS with ±3σ√(λ/(2−λ)) asymptotic
    limits. The recursion is expanded in closed form
    (e_t = (1−λ)^{t−1}x₁ + λΣ(1−λ)^{t−j}x_j), so the per-group cost
    is C(depth,2) weighted terms — bounded by the series depth like
    the reference's per-product delta walks, never corpus-quadratic
    (a 1/25th part sample keeps the gate fast). First observations
    have no predecessor and are excluded (they seed the chart).
    NULL-price rows carry no measurement and are dropped before the
    series is numbered (null-fuzz aligned)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.pmod(F.col("l_partkey"), F.lit(25)) == 7)
        & finite_measure("l_extendedprice")
        & valid_date_axis("l_shipdate")
    )
    w = Window.partitionBy("l_partkey", "l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    obs = li.select(
        F.col("l_partkey").alias("prodid"), F.col("l_suppkey").alias("store"),
        F.col("l_extendedprice").alias("p"), F.row_number().over(w).alias("t"),
    )
    stats = obs.groupBy("prodid", "store").agg(F.stddev_pop("p").alias("sigma"))
    b = obs.select(
        F.col("prodid").alias("bp"), F.col("store").alias("bs"),
        F.col("t").alias("bt"), F.col("p").alias("bv"),
    )
    lam = 0.3
    wgt = F.when(
        F.col("bt") == 1, F.pow(F.lit(1 - lam), F.col("t") - 1)
    ).otherwise(F.lit(lam) * F.pow(F.lit(1 - lam), F.col("t") - F.col("bt")))
    ewma = (
        obs.join(
            b,
            (F.col("bp") == F.col("prodid"))
            & (F.col("bs") == F.col("store"))
            & (F.col("bt") <= F.col("t")),
        )
        .groupBy("prodid", "store", "t")
        .agg(F.sum(wgt * F.col("bv")).alias("e"))
    )
    prev = ewma.select(
        F.col("prodid").alias("pp"), F.col("store").alias("ps"),
        (F.col("t") + 1).alias("pt"), F.col("e").alias("e_prev"),
    )
    out = (
        obs.join(
            prev,
            (F.col("pp") == F.col("prodid"))
            & (F.col("ps") == F.col("store"))
            & (F.col("pt") == F.col("t")),
        )
        .join(stats, ["prodid", "store"])
    )
    limit = 3 * F.col("sigma") * F.sqrt(F.lit(lam / (2 - lam)))
    return out.select(
        "prodid", "store", F.col("t").cast("long").alias("t"),
        F.round(F.col("p") + F.lit(1e-9), 6).alias("price"),
        F.round(F.col("e_prev") + F.lit(1e-9), 6).alias("ewma_prev"),
        F.when(F.col("sigma") == 0, F.lit(False))
        .otherwise(F.abs(F.col("p") - F.col("e_prev")) > limit)
        .alias("flagged"),
    )


@register(
    "weighted_median_price_per_flag",
    f"""
    WITH c AS (
        SELECT l_returnflag AS flag, l_extendedprice AS p,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
        FROM lineitem
        WHERE {finite_measure_sql('l_extendedprice')}
          AND (l_quantity IS NULL OR {finite_measure_sql('l_quantity')})
        GROUP BY l_returnflag, l_extendedprice
    ), t AS (
        SELECT flag, CAST(sum(wt) AS BIGINT) AS tot FROM c GROUP BY flag
    ), r AS (
        SELECT c.flag, c.p, c.wt,
               CAST(sum(c.wt) OVER (PARTITION BY c.flag ORDER BY c.p) AS BIGINT) AS cum
        FROM c
    )
    SELECT r.flag, t.tot AS total_weight,
           round(min(r.p) + 1e-9, 6) AS weighted_median
    FROM r JOIN t ON t.flag = r.flag
    WHERE r.cum * 2 >= t.tot
    GROUP BY r.flag, t.tot
    """,
)
def weighted_median_price_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative quantity weight reaches half the total —
    the inventory-weighted central price a plain median misstates
    when cheap items ship in bulk. Weights are grouped per distinct
    price FIRST, so the ordered window runs over the (flag, price)
    domain, not raw line items; integer cum×2 ≥ tot avoids any
    float threshold. One grouped count + one window + one min.
    NULL prices have no position in the cumulative-weight order and
    are dropped (null-fuzz aligned)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
        # an out-of-domain weight cannot cast to long under ANSI;
        # NULL weight just drops out of the sum on both engines
        & (F.col("l_quantity").isNull() | finite_measure("l_quantity"))
    )
    c = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("p")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("wt"))
    t = c.groupBy("flag").agg(F.sum("wt").alias("tot"))
    w = Window.partitionBy("flag").orderBy("p").rangeBetween(
        Window.unboundedPreceding, 0
    )
    r = c.withColumn("cum", F.sum("wt").over(w))
    return (
        r.join(t, "flag")
        .where(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("flag", F.col("tot").alias("total_weight"))
        .agg(F.round(F.min("p") + F.lit(1e-9), 6).alias("weighted_median"))
        .select("flag", "total_weight", "weighted_median")
    )


@register(
    "gini_coefficient_revenue",
    f"""
    WITH r AS (
        SELECT o_custkey, CAST(sum({measure_cents_sql('o_totalprice')}) AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), rk AS (
        SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS i FROM r
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS tot,
               CAST(sum(i * cents) AS BIGINT) AS iws
        FROM rk
    )
    SELECT n AS n_customers,
           round(2.0 * iws / (n * CAST(tot AS DOUBLE)) - (n + 1.0) / n + 1e-9, 6)
               AS gini
    FROM agg
    """,
)
def gini_coefficient_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the inequality summary
    behind the Pareto curve (pareto_revenue_concentration picks a
    point on it; Gini integrates it): G = 2Σi·xᵢ/(nΣx) − (n+1)/n over
    ascending-sorted revenues, computed exactly from integer cents
    and one ranked window over the CUSTOMER domain (already an
    aggregate — at 100 TB the raw orders never sort, only the
    customer rollup does)."""
    orders = load_table(spark, sf_dir, "orders")
    r = orders.groupBy("o_custkey").agg(
        F.sum(measure_cents("o_totalprice")).alias("cents")
    )
    rk = r.select(
        "cents",
        F.row_number()
        .over(Window.orderBy(F.asc_nulls_last("cents"), "o_custkey"))
        .alias("i"),
    )
    agg = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(F.col("i") * F.col("cents")).alias("iws"),
    )
    gini = (
        2.0 * F.col("iws") / (F.col("n") * F.col("tot").cast("double"))
        - (F.col("n") + 1.0) / F.col("n")
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(gini + F.lit(1e-9), 6).alias("gini"),
    )


@register(
    "herfindahl_supplier_concentration",
    f"""
    WITH s AS (
        SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
               CAST(sum({measure_cents_sql('l.l_extendedprice')}) AS BIGINT) AS cents
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY s.s_nationkey, l.l_suppkey
    ), t AS (
        SELECT nation, CAST(sum(cents) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS n_suppliers
        FROM s GROUP BY nation
    )
    SELECT t.nation, t.n_suppliers,
           round(sum(power(CAST(s.cents AS DOUBLE) / t.tot, 2)) + 1e-9, 6) AS hhi
    FROM s JOIN t ON t.nation = s.nation
    GROUP BY t.nation, t.n_suppliers
    """,
)
def herfindahl_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue concentration
    per nation: Σ (market share)² — the antitrust-style concentration
    screen (1/n_suppliers when even, →1 when monopolized). Two
    grouped aggregates (supplier rollup, nation totals) and a
    broadcast-sized join — the raw lineitem rows are touched once."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    s = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nation"), F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(measure_cents("l_extendedprice")).alias("cents")
        )
    )
    t = s.groupBy("nation").agg(
        F.sum("cents").alias("tot"), F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        s.join(t, "nation")
        .groupBy("nation", "n_suppliers")
        .agg(
            F.round(
                F.sum(F.pow(F.col("cents").cast("double") / F.col("tot"), 2)) + F.lit(1e-9), 6
            ).alias("hhi")
        )
        .select("nation", "n_suppliers", "hhi")
    )


@register(
    "cohort_ltv_curve",
    f"""
    WITH su AS (
        SELECT user_id,
               date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                         date_trunc('day', min(ts))) AS cohort_d
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), pu AS (
        SELECT e.user_id,
               date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                         date_trunc('day', e.ts)) - su.cohort_d AS age_d,
               {measure_cents_sql('e.value')} AS cents
        FROM events e JOIN su ON su.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                        date_trunc('day', e.ts)) >= su.cohort_d
    ), sz AS (
        SELECT cohort_d, CAST(count(*) AS BIGINT) AS cohort_users FROM su GROUP BY cohort_d
    ), rev AS (
        SELECT su.user_id, su.cohort_d, pu2.age_d,
               CAST(sum(pu2.cents) AS BIGINT) AS cents
        FROM su JOIN pu pu2 ON pu2.user_id = su.user_id
        GROUP BY su.user_id, su.cohort_d, pu2.age_d
    ), byage AS (
        SELECT cohort_d, age_d, CAST(sum(cents) AS BIGINT) AS cents
        FROM rev GROUP BY cohort_d, age_d
    )
    SELECT b.cohort_d AS cohort_epoch_day, CAST(b.age_d AS BIGINT) AS age_days,
           sz.cohort_users,
           CAST(sum(b.cents) OVER (PARTITION BY b.cohort_d ORDER BY b.age_d)
                AS BIGINT) AS cum_cents,
           round(CAST(sum(b.cents) OVER (PARTITION BY b.cohort_d ORDER BY b.age_d)
                      AS DOUBLE) / sz.cohort_users + 1e-9, 6) AS ltv_per_user
    FROM byage b JOIN sz ON sz.cohort_d = b.cohort_d
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: per signup-day cohort, cumulative
    purchase cents by account age, normalized per cohort user — the
    payback-curve companion to retention_cohort_matrix (activity) and
    kaplan_meier (time-to-first). Exact integer cents; the cumulative
    window runs over the (cohort × age) domain, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    day = lambda c: F.datediff(F.date_trunc("DAY", c), F.lit("1970-01-01").cast("date"))  # noqa: E731
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .select("user_id", day(F.col("s_ts")).alias("cohort_d"))
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .where(day(F.col("ts")) >= F.col("cohort_d"))
        .select(
            "user_id", "cohort_d",
            (day(F.col("ts")) - F.col("cohort_d")).alias("age_d"),
            measure_cents("value").alias("cents"),
        )
    )
    sz = su.groupBy("cohort_d").agg(F.count(F.lit(1)).alias("cohort_users"))
    byage = pu.groupBy("cohort_d", "age_d").agg(F.sum("cents").alias("cents"))
    w = Window.partitionBy("cohort_d").orderBy("age_d").rangeBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.sum("cents").over(w)
    return (
        byage.join(sz, "cohort_d")
        .select(
            F.col("cohort_d").alias("cohort_epoch_day"),
            F.col("age_d").cast("long").alias("age_days"),
            "cohort_users",
            cum.cast("long").alias("cum_cents"),
            F.round(cum.cast("double") / F.col("cohort_users") + F.lit(1e-9), 6).alias(
                "ltv_per_user"
            ),
        )
    )


@register(
    "forecast_backtest_daily",
    f"""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', TIMESTAMP '1970-01-01 00:00:00', date_trunc('day', ts)) AS d,
               avg(value) AS v
        FROM events WHERE {finite_measure_sql('value')}
        GROUP BY 1, 2
    ), preds AS (
        SELECT a.event_type, a.d, a.v,
               n1.v AS naive_pred, n7.v AS snaive_pred
        FROM daily a
        JOIN daily n1 ON n1.event_type = a.event_type AND n1.d = a.d - 1
        JOIN daily n7 ON n7.event_type = a.event_type AND n7.d = a.d - 7
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           round(avg(abs(v - naive_pred)) + 1e-9, 6) AS mae_naive,
           round(avg(abs(v - snaive_pred)) + 1e-9, 6) AS mae_seasonal_naive,
           coalesce(avg(abs(v - snaive_pred)) < avg(abs(v - naive_pred)), false)
               AS seasonal_wins
    FROM preds GROUP BY event_type
    """,
)
def forecast_backtest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest on the daily series: one-step-ahead MAE of
    the naive (yesterday) vs seasonal-naive (same weekday last week)
    baselines — the sanity floor every forecasting deployment must
    beat, and the check that tells you whether the series has weekly
    structure worth modeling (pairs with daily_value_autocorrelation's
    ACF(7)). Equi self-joins on (type, day−k) over the day-domain
    aggregate; only days with both predecessors score, so both models
    are compared on the identical test set."""
    # corrupt measurements (NULL/NaN/|v|>=1e10) drop at ingestion:
    # a 2^53-scale addend makes the daily avg ulp-order-dependent
    # across engines (mixed-fuzz aligned)
    ev = load_table(spark, sf_dir, "events").filter(finite_measure("value"))
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.date_trunc("DAY", F.col("ts")), F.lit("1970-01-01").cast("date")).alias("d"),
    ).agg(F.avg("value").alias("v"))
    n1 = daily.select(
        F.col("event_type").alias("e1"), (F.col("d") + 1).alias("d1"), F.col("v").alias("naive_pred")
    )
    n7 = daily.select(
        F.col("event_type").alias("e7"), (F.col("d") + 7).alias("d7"), F.col("v").alias("snaive_pred")
    )
    preds = (
        daily.join(n1, (F.col("e1") == F.col("event_type")) & (F.col("d1") == F.col("d")))
        .join(n7, (F.col("e7") == F.col("event_type")) & (F.col("d7") == F.col("d")))
    )
    mae_n = F.avg(F.abs(F.col("v") - F.col("naive_pred")))
    mae_s = F.avg(F.abs(F.col("v") - F.col("snaive_pred")))
    return preds.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(mae_n + F.lit(1e-9), 6).alias("mae_naive"),
        F.round(mae_s + F.lit(1e-9), 6).alias("mae_seasonal_naive"),
        # a type whose MAEs are NULL (all-NULL series) has no winner:
        # coalesce to false — NULL booleans canonicalize asymmetrically
        # through the two engines' pandas paths (None vs NaN)
        F.coalesce(mae_s < mae_n, F.lit(False)).alias("seasonal_wins"),
    )


@register(
    "markov_next_event_accuracy",
    """
    WITH seqd AS (
        SELECT user_id, ts, event_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type,
               ts < TIMESTAMP '2024-01-16 00:00:00' AS is_train
        FROM events
    ), trans AS (
        SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS c
        FROM seqd WHERE next_type IS NOT NULL AND is_train
        GROUP BY event_type, next_type
    ), pred AS (
        SELECT event_type, next_type AS predicted,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c DESC, next_type) AS rk
        FROM trans
    )
    SELECT s.event_type,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN s.next_type = p.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN s.next_type = p.predicted THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) + 1e-9, 6) AS accuracy
    FROM seqd s
    JOIN pred p ON p.event_type = s.event_type AND p.rk = 1
    WHERE s.next_type IS NOT NULL AND NOT s.is_train
    GROUP BY s.event_type
    """,
)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtested next-event prediction: a first-order Markov model
    (argmax transition from the TRAIN half-month, deterministic
    tie-break) scored on the TEST half's actual transitions — the
    evaluation loop event_transition_matrix feeds, as one query.
    Temporal split avoids leakage; the model table is |types|² and
    broadcasts; the only corpus-scale work is the per-user lead()
    window both halves share."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = ev.select(
        "user_id", "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")).alias("is_train"),
    ).where(F.col("next_type").isNotNull())
    trans = (
        seqd.where("is_train")
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pred = (
        trans.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(F.desc("c"), F.asc("next_type"))
            ),
        )
        .where(F.col("rk") == 1)
        .select("event_type", F.col("next_type").alias("predicted"))
    )
    test = seqd.where(~F.col("is_train"))
    hit = (F.col("next_type") == F.col("predicted")).cast("long")
    return (
        test.join(F.broadcast(pred), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(hit).alias("n_correct"),
            F.round(F.sum(hit).cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 6).alias(
                "accuracy"
            ),
        )
    )


@register(
    "user_behavior_entropy",
    """
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, event_type
    ), t AS (
        SELECT user_id, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY user_id
    )
    SELECT c.user_id, t.tot AS n_events,
           round(-sum((CAST(c.n AS DOUBLE) / t.tot)
                      * ln(CAST(c.n AS DOUBLE) / t.tot)) + 1e-9, 6) AS entropy,
           -sum((CAST(c.n AS DOUBLE) / t.tot) * ln(CAST(c.n AS DOUBLE) / t.tot))
               < 0.5 AS low_diversity
    FROM c JOIN t ON t.user_id = c.user_id
    GROUP BY c.user_id, t.tot
    """,
)
def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral
    diversity score that separates organic users (high entropy) from
    single-action bots and scrapers (entropy → 0), a standard abuse /
    data-quality signal over clickstreams. Two grouped aggregates
    over (user, type); the flag threshold rides the unrounded value
    identically on both engines."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    ent = -F.sum(p * F.log(p))
    return (
        c.join(t, "user_id")
        .groupBy("user_id", F.col("tot").alias("n_events"))
        .agg(
            F.round(ent + F.lit(1e-9), 6).alias("entropy"),
            (ent < 0.5).alias("low_diversity"),
        )
        .select("user_id", "n_events", "entropy", "low_diversity")
    )


@register(
    "analyze_catalog_column_stats",
    """
    WITH o AS (
        SELECT 'orders' AS tbl, 'o_custkey' AS col,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_exact,
               round(CAST(count(*) - count(o_custkey) AS DOUBLE) / count(*) + 1e-9, 6)
                   AS null_frac
        FROM orders
        UNION ALL
        SELECT 'orders', 'o_orderstatus', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT),
               round(CAST(count(*) - count(o_orderstatus) AS DOUBLE) / count(*) + 1e-9, 6)
        FROM orders
        UNION ALL
        SELECT 'lineitem', 'l_partkey', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT l_partkey) AS BIGINT),
               round(CAST(count(*) - count(l_partkey) AS DOUBLE) / count(*) + 1e-9, 6)
        FROM lineitem
        UNION ALL
        SELECT 'customer', 'c_mktsegment', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT c_mktsegment) AS BIGINT),
               round(CAST(count(*) - count(c_mktsegment) AS DOUBLE) / count(*) + 1e-9, 6)
        FROM customer
    )
    SELECT tbl, col, n_rows, ndv_exact, null_frac, true AS ndv_within_5pct FROM o
    """,
)
def analyze_catalog_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style optimizer statistics collection across the
    catalog: per (table, column) — row count, distinct-value count,
    null fraction — computed in ONE pass per table with the NDV done
    BOTH exactly (the gated value) and as an HLL sketch whose ±5%
    accuracy contract is the flag column. At 100 TB the sketch is the
    only collectible form (mergeable map-side, no distinct shuffle),
    which is exactly how Spark's own ANALYZE TABLE ... COMPUTE
    STATISTICS gathers NDV; here the contract is machine-checked
    against the exact answer per column."""
    specs = [
        ("orders", "o_custkey"), ("orders", "o_orderstatus"),
        ("lineitem", "l_partkey"), ("customer", "c_mktsegment"),
    ]
    parts = []
    for tbl, col in specs:
        df = load_table(spark, sf_dir, tbl)
        parts.append(
            df.agg(
                F.lit(tbl).alias("tbl"),
                F.lit(col).alias("col"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(col).alias("ndv_exact"),
                F.round(
                    (F.count(F.lit(1)) - F.count(col)).cast("double") / F.count(F.lit(1))
                    + F.lit(1e-9),
                    6,
                ).alias("null_frac"),
                F.expr(f"hll_sketch_estimate(hll_sketch_agg({col}, 14))").alias("__est"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    # tolerance floor of 2: a single 64-bit hash collision already
    # shifts a tiny-NDV estimate by 1, which ±5% of e.g. 17 cannot
    # absorb (text-fuzz found a real 2-string collision under BOTH
    # engines' sketches); the relative bound still governs real NDVs
    within = F.abs(F.col("__est") - F.col("ndv_exact")) <= F.greatest(
        F.col("ndv_exact") * 0.05, F.lit(2.0)
    )
    return out.select(
        "tbl", "col", "n_rows", "ndv_exact", "null_frac", within.alias("ndv_within_5pct")
    )


@register(
    "fulfillment_lead_time_sla",
    """
    WITH lt AS (
        SELECT o.o_orderpriority AS priority,
               date_diff('day', o.o_orderdate, l.l_shipdate) AS lead_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    )
    SELECT priority, CAST(count(*) AS BIGINT) AS n_lines,
           round(avg(lead_days) + 1e-9, 6) AS avg_days,
           round(quantile_cont(lead_days, 0.5) + 1e-9, 6) AS p50_days,
           round(quantile_cont(lead_days, 0.9) + 1e-9, 6) AS p90_days,
           round(CAST(sum(CASE WHEN lead_days <= 60 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) + 1e-9, 6) AS within_60d
    FROM lt GROUP BY priority
    """,
)
def fulfillment_lead_time_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA report: order-to-ship lead time per order
    priority — count, mean, exact p50/p90 (Spark's `percentile` and
    DuckDB's `quantile_cont` share the linear-interpolation
    definition), and the share meeting a 60-day SLA. The operational
    report every order pipeline publishes; one join + one grouped
    aggregate, with exact percentiles per priority bucket (at 100 TB
    swap `percentile` for the mergeable `approx_percentile`, the
    contract approx_percentile_accuracy already gates)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lt = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lead_days"),
        )
    )
    return lt.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.avg("lead_days") + F.lit(1e-9), 6).alias("avg_days"),
        F.round(F.expr("percentile(lead_days, 0.5)") + F.lit(1e-9), 6).alias("p50_days"),
        F.round(F.expr("percentile(lead_days, 0.9)") + F.lit(1e-9), 6).alias("p90_days"),
        F.round(
            F.sum((F.col("lead_days") <= 60).cast("long")).cast("double")
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("within_60d"),
    )


@register(
    "seasonal_decomposition_daily",
    f"""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', TIMESTAMP '1970-01-01 00:00:00', date_trunc('day', ts)) AS d,
               avg(value) AS v
        FROM events WHERE {finite_measure_sql('value')}
        GROUP BY 1, 2
    ), tr AS (
        SELECT event_type, d, v,
               avg(v) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
               count(*) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
        FROM daily
    ), det AS (
        SELECT event_type, d, v, trend, v - trend AS detrended,
               (d + 4) % 7 AS dow
        FROM tr WHERE wn = 7
    ), seas AS (
        SELECT event_type, dow, avg(detrended) AS seasonal
        FROM det GROUP BY event_type, dow
    )
    SELECT det.event_type, CAST(det.d AS BIGINT) AS epoch_day,
           round(det.v + 1e-9, 6) AS value,
           round(det.trend + 1e-9, 6) AS trend,
           round(seas.seasonal + 1e-9, 6) AS seasonal,
           round(det.detrended - seas.seasonal + 1e-9, 6) AS residual
    FROM det JOIN seas ON seas.event_type = det.event_type AND seas.dow = det.dow
    """,
)
def seasonal_decomposition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (STL-lite) of each event
    type's daily series: trend = centered 7-day moving average (full
    windows only), seasonal = day-of-week mean of the detrended
    series (true DOW — epoch day + 4 mod 7), residual = the rest.
    The decomposition a forecasting or anomaly pipeline runs before
    modeling (the residual is what CUSUM/EWMA should monitor, not
    the raw series). All windows and aggregates run on the
    day-domain table; the seasonal profile is a 7×|types| broadcast."""
    # corrupt measurements (NULL/NaN/|v|>=1e10) drop at ingestion:
    # a 2^53-scale addend makes the daily avg ulp-order-dependent
    # across engines (mixed-fuzz aligned)
    ev = load_table(spark, sf_dir, "events").filter(finite_measure("value"))
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.date_trunc("DAY", F.col("ts")), F.lit("1970-01-01").cast("date")).alias("d"),
    ).agg(F.avg("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "event_type", "d", "v",
        F.avg("v").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    det = tr.where(F.col("wn") == 7).select(
        "event_type", "d", "v", "trend",
        (F.col("v") - F.col("trend")).alias("detrended"),
        F.pmod(F.col("d") + 4, F.lit(7)).alias("dow"),
    )
    seas = det.groupBy("event_type", "dow").agg(F.avg("detrended").alias("seasonal"))
    return det.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        F.col("d").cast("long").alias("epoch_day"),
        F.round(F.col("v") + F.lit(1e-9), 6).alias("value"),
        F.round(F.col("trend") + F.lit(1e-9), 6).alias("trend"),
        F.round(F.col("seasonal") + F.lit(1e-9), 6).alias("seasonal"),
        F.round(F.col("detrended") - F.col("seasonal") + F.lit(1e-9), 6).alias("residual"),
    )


@register(
    "rfm_customer_segments",
    f"""
    WITH mx AS (
        SELECT max(date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                             date_trunc('day', ts))) AS horizon
        FROM events
    ), base AS (
        SELECT user_id,
               CAST(mx.horizon - max(date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                                               date_trunc('day', ts))) AS BIGINT) AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum({measure_cents_sql('value')}) AS BIGINT) AS monetary_cents
        FROM events CROSS JOIN mx
        -- valid_id: RFM is per-customer; a NULL id is not a customer,
        -- and as an ntile tie-break it orders NULLS FIRST in Spark vs
        -- NULLS LAST in duck (keyfuzz finding, r12)
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
        GROUP BY user_id, mx.horizon
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
           ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
           ntile(5) OVER (ORDER BY monetary_cents, user_id) AS m_score
    FROM base
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per purchasing user, recency (days since
    last purchase at the data horizon), frequency, exact monetary
    cents, each quintile-scored 1–5 (higher = better — recency ranks
    DESC so the most recent buyers score 5) with deterministic
    user_id tie-breaks. THE classic customer-value segmentation;
    one grouped aggregate over purchases plus three user-domain
    ntile windows."""
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.date_trunc("DAY", F.col("ts")), F.lit("1970-01-01").cast("date"))
    mx = ev.agg(F.max(day).alias("horizon"))
    base = (
        ev.where((F.col("event_type") == "purchase") & valid_id("user_id"))
        .crossJoin(F.broadcast(mx))
        .groupBy("user_id", "horizon")
        .agg(
            F.max(day).alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(measure_cents("value")).alias("monetary_cents"),
        )
        .select(
            "user_id",
            (F.col("horizon") - F.col("last_d")).cast("long").alias("recency_days"),
            "frequency", "monetary_cents",
        )
    )
    return base.select(
        "user_id", "recency_days", "frequency", "monetary_cents",
        F.ntile(5).over(Window.orderBy(F.desc("recency_days"), F.asc("user_id"))).alias("r_score"),
        F.ntile(5).over(Window.orderBy(F.asc("frequency"), F.asc("user_id"))).alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc_nulls_last("monetary_cents"), F.asc("user_id")))
        .alias("m_score"),
    )


@register(
    "did_aa_experiment_check",
    """
    WITH cells AS (
        SELECT {p2} = 1 AS treated,
               ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
               value
        FROM events WHERE event_type = 'purchase'
          AND user_id IS NOT NULL
          AND {fv}
    ), m AS (
        SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
               avg(value) AS mean_value
        FROM cells GROUP BY treated, post
    )
    SELECT m.treated, m.post, m.n, round(m.mean_value + 1e-9, 6) AS mean_value,
           round((SELECT (tp.mean_value - tb.mean_value) - (cp.mean_value - cb.mean_value)
                  FROM m tp, m tb, m cp, m cb
                  WHERE tp.treated AND tp.post AND tb.treated AND NOT tb.post
                    AND NOT cp.treated AND cp.post AND NOT cb.treated AND NOT cb.post)
                 + 1e-9, 6) AS did_estimate
    FROM m
    """.format(p2=pmod_sql("user_id", 2), fv=finite_measure_sql("value")),
)
def did_aa_experiment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences machinery validated as an A/A test:
    a hash-split pseudo-treatment (user parity) across pre/post
    half-months — DiD = (T_post − T_pre) − (C_post − C_pre). With a
    random split the estimate must hover near zero; a deterministic
    near-zero result is the NULL CHECK an experimentation platform
    runs before trusting the same pipeline on a real rollout. One
    grouped aggregate over four cells, the estimate broadcast back
    onto each cell row."""
    # finite_measure at ingestion: avg(value) is an order-sensitive
    # fold — a ±5e307 pair in one cell makes Spark's partial-agg and
    # DuckDB's sequential sums cancel differently (r10 fold-shape
    # audit; same class as daily_value_autocorrelation).
    # valid_id: a NULL user id has no experiment arm — and a NULL
    # BOOLEAN output cell would canonicalize differently per engine
    # through pandas (None vs NaN; keyfuzz finding, r12)
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase")
        & valid_id("user_id")
        & finite_measure("value")
    )
    cells = ev.select(
        (F.pmod(F.col("user_id"), F.lit(2)) == 1).alias("treated"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias("post"),
        "value",
    )
    m = cells.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean_value")
    )
    pick = lambda t, p: F.max(F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mean_value")))  # noqa: E731
    did = m.agg(
        ((pick(True, True) - pick(True, False)) - (pick(False, True) - pick(False, False))).alias("did")
    )
    return m.crossJoin(F.broadcast(did)).select(
        "treated", "post", "n",
        F.round(F.col("mean_value") + F.lit(1e-9), 6).alias("mean_value"),
        F.round(F.col("did") + F.lit(1e-9), 6).alias("did_estimate"),
    )


@register(
    "jackknife_se_daily_mean",
    f"""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', TIMESTAMP '1970-01-01 00:00:00', date_trunc('day', ts)) AS d,
               avg(value) AS v
        FROM events WHERE {finite_measure_sql('value')}
        GROUP BY 1, 2
    ), s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               sum(v) AS sv, avg(v) AS theta
        FROM daily GROUP BY event_type
    ), loo AS (
        SELECT daily.event_type,
               (s.sv - daily.v) / (s.n - 1) AS theta_i,
               s.n, s.theta
        FROM daily JOIN s ON s.event_type = daily.event_type
        WHERE s.n > 1
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
           round(max(theta) + 1e-9, 6) AS mean_daily_value,
           round(sqrt((max(n) - 1.0) / max(n)
                      * sum((theta_i - theta) * (theta_i - theta))) + 1e-9, 6)
               AS jackknife_se
    FROM loo GROUP BY event_type
    """,
)
def jackknife_se_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife standard error of each event type's mean daily
    value, with DAYS as the leave-one-out blocks (block resampling
    respects within-day correlation): every leave-one-out estimate
    has the closed form (S − vᵢ)/(n−1), so the whole resampling
    procedure collapses to one grouped aggregate and one join —
    deterministic, no RNG, no replicate loop. The uncertainty
    quantification a metrics platform attaches to its headline
    numbers."""
    # corrupt measurements (NULL/NaN/|v|>=1e10) drop at ingestion:
    # a 2^53-scale addend makes the daily avg ulp-order-dependent
    # across engines (mixed-fuzz aligned)
    ev = load_table(spark, sf_dir, "events").filter(finite_measure("value"))
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.date_trunc("DAY", F.col("ts")), F.lit("1970-01-01").cast("date")).alias("d"),
    ).agg(F.avg("value").alias("v"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"), F.avg("v").alias("theta")
    )
    # leave-one-out needs n ≥ 2 days: an event type seen on a single
    # day has (n − 1) = 0 in the closed form (text-fuzz aligned)
    loo = daily.join(F.broadcast(s), "event_type").filter(F.col("n") > 1).select(
        "event_type", "n", "theta",
        ((F.col("sv") - F.col("v")) / (F.col("n") - 1)).alias("theta_i"),
    )
    dev = (F.col("theta_i") - F.col("theta")) * (F.col("theta_i") - F.col("theta"))
    return loo.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.round(F.max("theta") + F.lit(1e-9), 6).alias("mean_daily_value"),
        F.round(
            F.sqrt((F.max("n") - 1.0) / F.max("n") * F.sum(dev)) + F.lit(1e-9), 6
        ).alias("jackknife_se"),
    )
