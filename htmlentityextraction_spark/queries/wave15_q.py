"""Wave-15: the experimentation platform suite — CUPED variance
reduction, sample-ratio-mismatch guardrails, clustered Poisson
bootstrap confidence intervals, Holt linear-trend forecasting, and a
differentially-private counts release.

Completes the experiment-analysis family started by
``did_aa_experiment_check`` / ``jackknife_se_daily_mean`` (wave-14):
DiD gives the estimator, SRM gates the randomization, CUPED shrinks
the variance, the bootstrap prices the uncertainty, and the DP
release publishes the result. Every query is closed-form SQL on both
engines; randomness is the repo's cross-engine md5 hash family
(`operators/dedup.py:240-252`), so oracle hashes are exact.

Arm assignment (`cuped_adjusted_experiment`,
`srm_sample_ratio_mismatch`) uses Spark ``F.pmod``; the oracles spell
the pmod twin via ``functions.keys.pmod_sql`` so signed ids bucket
identically on both engines, and NULL ids are excluded by the
``valid_id`` gate (no arm, and a NULL boolean cell canonicalizes
divergently through pandas) — the r12 keyfuzz class closures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.keys import pmod_sql, valid_id, valid_id_sql
from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table

_CUT = "2024-01-16 00:00:00"


def _u01(key: Column) -> Column:
    """Deterministic uniform in [0,1): first 8 md5 hex chars / 2^32.

    Mirrors DuckDB `CAST('0x'||substring(md5(k),1,8) AS UBIGINT) /
    4294967296.0` bit-for-bit — both engines hash identical bytes and
    divide the same 32-bit integer, so downstream branches (Poisson
    inverse CDF, Laplace sign) can never disagree across engines.
    """
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double") / F.lit(
        4294967296.0
    )


# Poisson(1) inverse CDF: cumulative P(X <= k) for k = 0..5; u past the
# last threshold maps to 6. Literal doubles, identical in both engines.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _poisson_weight(u: Column) -> Column:
    w: Column = F.lit(6)
    for k in reversed(range(len(_POIS_CDF))):
        w = F.when(u < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    return w


def _sql_u01(key_sql: str) -> str:
    return (
        f"(CAST('0x' || substring(md5({key_sql}), 1, 8) AS UBIGINT)"
        " / 4294967296.0)"
    )


def _sql_poisson(u_sql: str) -> str:
    expr = "6"
    for k in reversed(range(len(_POIS_CDF))):
        expr = f"CASE WHEN {u_sql} < {_POIS_CDF[k]!r} THEN {k} ELSE {expr} END"
    return expr


# Spark buckets by pmod; raw % takes the dividend sign on both
# engines, so the oracle must spell the pmod twin (keyfuzz class)
_UID_PARITY = pmod_sql("user_id", 2)


@register(
    "cuped_adjusted_experiment",
    f"""
    WITH per_user AS (
        SELECT user_id,
               {_UID_PARITY} = 1 AS treated,
               avg(CASE WHEN ts <  TIMESTAMP '{_CUT}' THEN value END) AS x,
               avg(CASE WHEN ts >= TIMESTAMP '{_CUT}' THEN value END) AS y
        FROM events WHERE user_id IS NOT NULL
          AND {finite_measure_sql('value')} GROUP BY user_id
    ), both_periods AS (
        SELECT * FROM per_user WHERE x IS NOT NULL AND y IS NOT NULL
    ), pooled AS (
        SELECT covar_pop(x, y) / NULLIF(var_pop(x), 0) AS theta, avg(x) AS mx
        FROM both_periods
    ), adj AS (
        SELECT b.treated, b.y,
               b.y - p.theta * (b.x - p.mx) AS y_cuped
        FROM both_periods b, pooled p
    )
    SELECT treated, CAST(count(*) AS BIGINT) AS n,
           round(avg(y) + 1e-9, 6) AS mean_raw,
           round(avg(y_cuped) + 1e-9, 6) AS mean_cuped,
           round(var_pop(y) + 1e-9, 3) AS var_raw,
           round(var_pop(y_cuped) + 1e-9, 3) AS var_cuped,
           round((1.0 - var_pop(y_cuped) / NULLIF(var_pop(y), 0)) * 100.0 + 1e-9, 2)
               AS var_reduction_pct
    FROM adj GROUP BY treated
    """,
)
def cuped_adjusted_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): shrink
    the post-period metric's variance with the pre-period covariate,
    y_cuped = y − θ·(x − E[x]) with θ = cov(x,y)/var(x) pooled across
    arms — the standard production trick that cuts experiment runtime
    ~k× at zero bias. Pseudo-arms come from user parity (A/A), so the
    adjusted means must stay ≈equal while both arms' variance drops.
    Plan: one grouped agg per user, a 1-row pooled-θ broadcast back
    onto user rows, one final 2-group agg — two shuffles total, no
    driver state; at 100 TB the user-level table is the only shuffled
    payload."""
    # non-finite metric values are excluded on both engines (duck
    # var_pop over NaN/1e308 raises out-of-range; Spark avg would
    # propagate NaN into theta)
    # valid_id: a NULL user id has no experiment arm (and a NULL
    # boolean `treated` cell canonicalizes divergently via pandas —
    # same keyfuzz class as did_aa_experiment_check)
    ev = load_table(spark, sf_dir, "events").filter(
        valid_id("user_id") & finite_measure("value")
    )
    cut = F.lit(_CUT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.avg(F.when(F.col("ts") < cut, F.col("value"))).alias("x"),
        F.avg(F.when(F.col("ts") >= cut, F.col("value"))).alias("y"),
    )
    both = per_user.where(F.col("x").isNotNull() & F.col("y").isNotNull()).select(
        (F.pmod(F.col("user_id"), F.lit(2)) == 1).alias("treated"), "x", "y"
    )
    # try_divide: a degenerate population (one distinct x — e.g. all
    # purchases collapsed onto one sentinel user by id poison) has
    # var_pop 0; ANSI `/` would kill the job where the oracle's
    # NULLIF quietly yields NULL (keyfuzz crash finding, r12)
    pooled = both.agg(
        F.try_divide(F.covar_pop("x", "y"), F.var_pop("x")).alias("theta"),
        F.avg("x").alias("mx"),
    )
    adj = both.crossJoin(F.broadcast(pooled)).select(
        "treated",
        "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("mx"))).alias("y_cuped"),
    )
    return adj.groupBy("treated").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("y") + F.lit(1e-9), 6).alias("mean_raw"),
        F.round(F.avg("y_cuped") + F.lit(1e-9), 6).alias("mean_cuped"),
        F.round(F.var_pop("y") + F.lit(1e-9), 3).alias("var_raw"),
        F.round(F.var_pop("y_cuped") + F.lit(1e-9), 3).alias("var_cuped"),
        F.round(
            (F.lit(1.0) - F.try_divide(F.var_pop("y_cuped"), F.var_pop("y"))) * 100.0
            + F.lit(1e-9),
            2,
        ).alias("var_reduction_pct"),
    )


@register(
    "srm_sample_ratio_mismatch",
    f"""
    WITH users AS (
        -- a NULL id is not a randomization unit (valid_id gate); the
        -- 90_10 split needs the pmod twin: -1 % 10 = -1 < 9 would
        -- assign negative ids to A here while Spark's pmod says B
        SELECT DISTINCT user_id FROM events WHERE {valid_id_sql('user_id')}
    ), assigned AS (
        SELECT s.split_name, s.p_a,
               CAST(sum(CASE WHEN s.in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN s.in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        FROM (
            SELECT '50_50' AS split_name, 0.5 AS p_a, user_id % 2 = 0 AS in_a
            FROM users
            UNION ALL
            SELECT '90_10' AS split_name, 0.9 AS p_a,
                   {pmod_sql('user_id', 10)} < 9 AS in_a
            FROM users
        ) s GROUP BY s.split_name, s.p_a
    )
    SELECT split_name, n_a, n_b,
           round(power(n_a - (n_a + n_b) * p_a, 2) / ((n_a + n_b) * p_a)
                 + power(n_b - (n_a + n_b) * (1 - p_a), 2)
                   / ((n_a + n_b) * (1 - p_a)) + 1e-9, 6) AS chi2,
           (power(n_a - (n_a + n_b) * p_a, 2) / ((n_a + n_b) * p_a)
            + power(n_b - (n_a + n_b) * (1 - p_a), 2)
              / ((n_a + n_b) * (1 - p_a))) > 3.841 AS srm_flag
    FROM assigned
    """,
)
def srm_sample_ratio_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: 1-df chi-square of observed
    vs designed arm counts over DISTINCT randomization units (users),
    for a 50/50 and a 90/10 design. χ² > 3.841 (α=0.05) flags a
    broken randomizer — the first gate any experiment readout must
    pass. One distinct-user shuffle; the two designs are evaluated
    from the same scan via a 2-way literal fan-out, then a 2-group
    agg. At 100 TB the distinct is the only real cost and it is the
    minimal one."""
    users = (
        load_table(spark, sf_dir, "events")
        .filter(valid_id("user_id"))
        .select("user_id")
        .distinct()
    )
    splits = users.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("50_50").alias("split_name"),
                    F.lit(0.5).alias("p_a"),
                    (F.pmod(F.col("user_id"), F.lit(2)) == 0).alias("in_a"),
                ),
                F.struct(
                    F.lit("90_10").alias("split_name"),
                    F.lit(0.9).alias("p_a"),
                    (F.pmod(F.col("user_id"), F.lit(10)) < 9).alias("in_a"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    agg = splits.groupBy("split_name", "p_a").agg(
        F.sum(F.col("in_a").cast("long")).alias("n_a"),
        F.sum((~F.col("in_a")).cast("long")).alias("n_b"),
    )
    n = F.col("n_a") + F.col("n_b")
    ea = n * F.col("p_a")
    eb = n * (F.lit(1.0) - F.col("p_a"))
    chi2 = F.pow(F.col("n_a") - ea, 2) / ea + F.pow(F.col("n_b") - eb, 2) / eb
    return agg.select(
        "split_name",
        "n_a",
        "n_b",
        F.round(chi2 + F.lit(1e-9), 6).alias("chi2"),
        (chi2 > F.lit(3.841)).alias("srm_flag"),
    )


_N_BOOT = 200


@register(
    "poisson_bootstrap_ci",
    f"""
    WITH per_user AS (
        SELECT event_type, user_id,
               sum(value) AS su, CAST(count(*) AS BIGINT) AS cu
        FROM events WHERE {finite_measure_sql('value')}
        GROUP BY event_type, user_id
    ), reps AS (
        SELECT p.event_type, r.r,
               ({_sql_poisson(_sql_u01(
                   "coalesce(p.event_type, '') || ':' || "
                   "coalesce(CAST(p.user_id AS VARCHAR), '') || ':' || r.r"
               ))})
                   AS w,
               p.su, p.cu
        FROM per_user p, generate_series(0, {_N_BOOT - 1}) AS r(r)
    ), boot AS (
        SELECT event_type, r,
               sum(w * su) / nullif(sum(w * cu), 0) AS mean_r
        FROM reps GROUP BY event_type, r
    )
    SELECT b.event_type,
           CAST(count(b.mean_r) AS BIGINT) AS n_boot,
           round(quantile_cont(b.mean_r, 0.025) + 1e-9, 6) AS ci_lo,
           round(quantile_cont(b.mean_r, 0.975) + 1e-9, 6) AS ci_hi,
           round(max(pt.point_est) + 1e-9, 6) AS point_est
    FROM boot b JOIN (
        SELECT event_type, sum(su) / sum(cu) AS point_est
        FROM per_user GROUP BY event_type
    ) pt ON pt.event_type = b.event_type
    GROUP BY b.event_type
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered (per-user) Poisson bootstrap 95% CI of the mean event
    value per event type. Each of the {_N_BOOT} replicates reweights
    every USER (the randomization unit — resampling rows would fake
    independence) by a deterministic Poisson(1) draw from the md5
    uniform, the streaming-friendly bootstrap of Chamandy et al. —
    no replicate ever materializes a resampled dataset. Plan: user
    pre-agg (one shuffle) → 200× literal explode on the SMALL user
    table → equi groupBy (event_type, rep) → exact percentile per
    event type. The fan-out multiplies the user aggregate, never the
    raw events, so cost at 100 TB is O(users × 200), not O(rows)."""
    ev = load_table(spark, sf_dir, "events").filter(finite_measure("value"))
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum("value").alias("su"), F.count(F.lit(1)).alias("cu")
    )
    # Re-establish compute parallelism BEFORE the 200x replicate
    # fan-out (optimization r12, guide §2.5/§8): AQE coalesces the
    # pre-agg exchange by its own output size (7500 rows -> 1
    # partition locally), blind to the generator above it, so the
    # explode + md5 + weight chain ran on ONE core. Repartitioning on
    # the SUBSET key user_id forces a real exchange (a same-key
    # repartition is elided as already-satisfied, then coalesced); it
    # moves only the user-scale pre-agg — the guide §8 shape: fan out
    # the small decision table, never the raw events. ABBA A/B:
    # median 6.63 s -> 4.55 s, B faster in every adjacent pair.
    per_user = per_user.repartition(
        spark.sparkContext.defaultParallelism, "user_id"
    )
    reps = per_user.select(
        "event_type",
        "user_id",
        "su",
        "cu",
        F.explode(F.sequence(F.lit(0), F.lit(_N_BOOT - 1))).alias("r"),
    )
    # coalesce each component: concat_ws SKIPS null segments (with
    # their separator) while the oracle's || nullifies the whole key,
    # so both sides pin null components to '' to agree on the hash
    key = F.concat_ws(
        ":",
        F.coalesce(F.col("event_type"), F.lit("")),
        F.coalesce(F.col("user_id").cast("string"), F.lit("")),
        F.col("r"),
    )
    w = _poisson_weight(_u01(key)).cast("double")
    boot = (
        reps.withColumn("w", w)
        .groupBy("event_type", "r")
        .agg(
            (
                F.sum(F.col("w") * F.col("su"))
                / F.nullif(F.sum(F.col("w") * F.col("cu")), F.lit(0.0))
            ).alias("mean_r")
        )
    )
    point = per_user.groupBy("event_type").agg(
        (F.sum("su") / F.sum("cu")).alias("point_est")
    )
    return (
        boot.join(point, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("mean_r").alias("n_boot"),
            F.round(F.percentile("mean_r", F.lit(0.025)) + F.lit(1e-9), 6).alias(
                "ci_lo"
            ),
            F.round(F.percentile("mean_r", F.lit(0.975)) + F.lit(1e-9), 6).alias(
                "ci_hi"
            ),
            F.round(F.max("point_est") + F.lit(1e-9), 6).alias("point_est"),
        )
    )


@register(
    "holt_linear_forecast_backtest",
    f"""
    WITH RECURSIVE daily AS (
        -- a day whose every value is NULL is a MISSING observation,
        -- not a zero: it must not enter the fold (one NULL level
        -- poisons every subsequent Holt step) nor the scoring join
        SELECT event_type, date_trunc('day', ts) AS d, avg(value) AS v
        FROM events WHERE {finite_measure_sql('value')}
        GROUP BY 1, 2
        HAVING avg(value) IS NOT NULL
    ), bounds AS (
        SELECT event_type, max(d) AS dmax FROM daily GROUP BY event_type
    ), train AS (
        SELECT daily.event_type, daily.v, bounds.dmax,
               row_number() OVER (PARTITION BY daily.event_type
                                  ORDER BY daily.d) AS rn
        FROM daily JOIN bounds ON bounds.event_type = daily.event_type
        WHERE daily.d < bounds.dmax - INTERVAL 6 DAY
    ), n AS (
        SELECT event_type, CAST(max(rn) AS BIGINT) AS n_train,
               max(dmax) AS dmax
        FROM train GROUP BY event_type
    ), rec AS (
        -- NOTE: a list_reduce() fold would be the natural oracle, but
        -- DuckDB 1.0 evaluates accumulator-struct fields sequentially
        -- IN PLACE (later fields read already-updated earlier fields),
        -- which silently corrupts cross-referencing folds — so the
        -- recursion is a recursive CTE with the identical float
        -- expression tree instead.
        SELECT a.event_type, 2 AS i, a.v AS l, b.v - a.v AS b
        FROM train a JOIN train b
          ON b.event_type = a.event_type AND a.rn = 1 AND b.rn = 2
        UNION ALL
        SELECT r.event_type, r.i + 1,
               0.5 * t.v + 0.5 * (r.l + r.b),
               0.3 * ((0.5 * t.v + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b
        FROM rec r JOIN train t
          ON t.event_type = r.event_type AND t.rn = r.i + 1
    ), fitted AS (
        SELECT n.event_type, n.n_train, n.dmax, rec.l, rec.b
        FROM rec JOIN n
          ON n.event_type = rec.event_type AND rec.i = n.n_train
    ), fc AS (
        SELECT f.event_type, f.n_train, f.l, f.b, h.h,
               f.dmax - to_days(CAST(7 - h.h AS INTEGER)) AS d,
               f.l + h.h * f.b AS yhat
        FROM fitted f, generate_series(1, 7) AS h(h)
    )
    SELECT fc.event_type, max(fc.n_train) AS n_train,
           round(max(fc.l) + 1e-9, 6) AS level,
           round(max(fc.b) + 1e-9, 6) AS trend,
           round(avg(abs(fc.yhat - daily.v)) + 1e-9, 6) AS mae_holt,
           round(avg(abs(fc.l - daily.v)) + 1e-9, 6) AS mae_level_only
    FROM fc JOIN daily
      ON daily.event_type = fc.event_type AND daily.d = fc.d
    GROUP BY fc.event_type
    """,
)
def holt_linear_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (α=0.5, β=0.3) of the daily
    mean-value series per event type, backtested on a 7-day holdout:
    fit level+trend on all but the last 7 days, forecast ŷ(h)=l+h·b,
    report holdout MAE vs the level-only (trend-free) forecast. The
    recursion is a SEQUENTIAL fold — inexpressible as a window — so
    it reuses the `ema_price_per_product` shape: collect the BOUNDED
    daily series per group, left-fold a (level, trend) struct with
    `F.aggregate`; both engines fold in identical order so the float
    sequence is bitwise-reproducible. Per-group state is O(days),
    the only shuffles are the daily rollup and the tiny forecast-vs-
    actual equi-join; raw events are never refolded."""
    ev = load_table(spark, sf_dir, "events").filter(finite_measure("value"))
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.avg("value").alias("v"))
        # all-NULL day = missing observation: excluded from fold and
        # scoring on both engines (one NULL poisons the Holt fold)
        .filter(F.col("v").isNotNull())
    )
    bounds = daily.groupBy("event_type").agg(F.max("d").alias("dmax"))
    train = daily.join(bounds, "event_type").where(
        F.col("d") < F.col("dmax") - F.expr("INTERVAL 6 DAY")
    )
    series = train.groupBy("event_type").agg(
        F.max("dmax").alias("dmax"),
        F.count(F.lit(1)).alias("n_train"),
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("d"), F.col("v")))),
            lambda s: s.v,
        ).alias("ps"),
    )
    arr = F.transform(
        F.col("ps"),
        lambda p: F.struct(
            p.cast("double").alias("l"),
            F.lit(0.0).alias("b"),
            F.lit(1).alias("i"),
        ),
    )
    step_l = lambda acc, x: F.lit(0.5) * x.l + F.lit(0.5) * (acc.l + acc.b)  # noqa: E731
    fold = F.aggregate(
        F.slice(arr, 2, F.size(arr) - 1),
        F.element_at(arr, 1),
        lambda acc, x: F.when(
            acc.i == 1,
            F.struct(acc.l.alias("l"), (x.l - acc.l).alias("b"), F.lit(2).alias("i")),
        ).otherwise(
            F.struct(
                step_l(acc, x).alias("l"),
                (
                    F.lit(0.3) * (step_l(acc, x) - acc.l) + F.lit(0.7) * acc.b
                ).alias("b"),
                (acc.i + 1).alias("i"),
            )
        ),
    )
    # n_train >= 2: the oracle's recursive-CTE seed requires rn=2, so
    # a single-training-day series drops there; match it here instead
    # of emitting a degenerate (l=v1, b=0) forecast
    fitted = series.where(F.col("n_train") >= 2).select(
        "event_type", "dmax", "n_train", fold.alias("st")
    )
    fc = fitted.select(
        "event_type",
        "dmax",
        "n_train",
        "st",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("h"),
    ).withColumn(
        "d", F.col("dmax") - (F.lit(7) - F.col("h")) * F.expr("INTERVAL 1 DAY")
    ).withColumn("yhat", F.col("st.l") + F.col("h") * F.col("st.b"))
    joined = fc.join(daily, ["event_type", "d"])
    return joined.groupBy("event_type").agg(
        F.max("n_train").alias("n_train"),
        F.round(F.max("st.l") + F.lit(1e-9), 6).alias("level"),
        F.round(F.max("st.b") + F.lit(1e-9), 6).alias("trend"),
        F.round(F.avg(F.abs(F.col("yhat") - F.col("v"))) + F.lit(1e-9), 6).alias(
            "mae_holt"
        ),
        F.round(F.avg(F.abs(F.col("st.l") - F.col("v"))) + F.lit(1e-9), 6).alias(
            "mae_level_only"
        ),
    )


_DP_EPS = 0.5


@register(
    "dp_noisy_counts_release",
    f"""
    WITH c AS (
        SELECT event_type,
               CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
               CAST(count(DISTINCT user_id) AS BIGINT) AS true_users
        FROM events GROUP BY 1, 2
    ), n AS (
        SELECT event_type, dow, true_users,
               {_sql_u01(
                   "'dp:' || coalesce(event_type, '') || ':' || "
                   "coalesce(CAST(dow AS VARCHAR), '')"
               )} AS u
        FROM c
    )
    SELECT event_type, dow,
           CAST(greatest(0, CAST(round(
               true_users
               + round(-(1.0 / {_DP_EPS}) * sign(u - 0.5)
                       * ln(1.0 - 2.0 * abs(u - 0.5)) + 1e-9, 6)
           ) AS BIGINT)) AS BIGINT) AS released_users,
           {_DP_EPS} AS epsilon
    FROM n
    """,
)
def dp_noisy_counts_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private release of distinct-user counts per
    (event_type, day-of-week): Laplace(1/ε) noise via inverse-CDF on
    the deterministic md5 uniform (sensitivity 1 per cell for a
    user's single membership), negatives clamped, noise rounded to
    6dp BEFORE adding so both engines add the identical perturbation.
    Complements `kanonymous_user_value_release` (suppression-based)
    with the additive-noise side of the privacy toolbox. One
    distinct-count shuffle; the release table is tiny."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type",
        # Spark dayofweek is 1=Sunday..7=Saturday; DuckDB dow is
        # 0=Sunday..6=Saturday — align by subtracting 1.
        (F.dayofweek("ts") - F.lit(1)).cast("long").alias("dow"),
    ).agg(F.countDistinct("user_id").alias("true_users"))
    # coalesce key components (see poisson_bootstrap_ci): concat_ws
    # and || must agree on NULL event_type/dow cells
    u = _u01(
        F.concat_ws(
            ":",
            F.lit("dp"),
            F.coalesce(F.col("event_type"), F.lit("")),
            F.coalesce(F.col("dow").cast("string"), F.lit("")),
        )
    )
    noise = F.round(
        -(F.lit(1.0) / F.lit(_DP_EPS))
        * F.signum(u - F.lit(0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
        + F.lit(1e-9),
        6,
    )
    return c.select(
        "event_type",
        "dow",
        F.greatest(F.lit(0), F.round(F.col("true_users") + noise).cast("long")).alias(
            "released_users"
        ),
        F.lit(_DP_EPS).alias("epsilon"),
    )
