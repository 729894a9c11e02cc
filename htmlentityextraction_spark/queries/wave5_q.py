"""Wave-5 queries: Pareto frontier, data-quality expectation suite,
golden-record survivorship, time-series gap fill, weighted sampling,
market-basket lift, robust (MAD) outliers, fixed-iteration PageRank,
conversion-lag quantiles, sorted-neighborhood blocking.

These extend the engine the way a production user of the reference's
report jobs (`analytics/UpdateProdMetrics.scala`,
`analytics/Rt2ReportIndx.scala` shapes) grows them: dominance
frontiers instead of single extremes, declared admission checks
instead of ad-hoc accumulators, per-field survivorship instead of
whole-row keep-latest, dense calendars, association rules, robust
stats, and graph centrality — each in its scale-correct Spark shape
(two-level reductions, one-pass aggregates, bounded windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.temporal import epoch_micros, valid_event_time
from htmlentityextraction_spark.operators.basket import pair_cooccurrence
from htmlentityextraction_spark.operators.components import pagerank
from htmlentityextraction_spark.operators.dataquality import (
    check_suite,
    completeness,
    in_set_rate,
    pattern_rate,
    uniqueness,
)
from htmlentityextraction_spark.operators.dedup import sorted_neighborhood_pairs
from htmlentityextraction_spark.operators.frontier import skyline_2d
from htmlentityextraction_spark.operators.sampling import weighted_sample
from htmlentityextraction_spark.operators.survivorship import (
    golden_record,
    latest_nonnull,
)
from htmlentityextraction_spark.operators.timeseries import gap_fill_forward
from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.functions.temporal import valid_date_axis
from htmlentityextraction_spark.functions.text import WS_CLASS
from htmlentityextraction_spark.functions.keys import valid_id
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "skyline_size_price_frontier",
    f"""
    WITH m AS (
        SELECT p_size, max(p_retailprice) AS best_price
        FROM part
        WHERE p_size IS NOT NULL AND {finite_measure_sql('p_retailprice')}
        GROUP BY p_size)
    SELECT p_size, best_price FROM m a
    WHERE NOT EXISTS (
        SELECT 1 FROM m b
        WHERE b.p_size < a.p_size AND b.best_price >= a.best_price)
    """,
)
def skyline_size_price_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (minimize size, maximize price): the parts
    no strictly-smaller size beats on price. The oracle is the
    textbook quadratic NOT EXISTS; the Spark plan is the two-level
    reduction in `operators/frontier.py` — a parallel groupBy down to
    one row per distinct size, then one window over that
    domain-bounded set. Hash equality proves the O(n) frontier IS the
    skyline. A part with unknown size or corrupt price has no place
    on the frontier: a NULL size would sort FIRST in the running-max
    window (poisoning every real size's dominance check) while the
    oracle's NULL comparisons keep it mutually non-dominating —
    dropped at ingestion on both engines (null/extreme-fuzz
    aligned)."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isNotNull() & finite_measure("p_retailprice")
    ).select("p_size", "p_retailprice")
    out = skyline_2d(part, "p_size", "p_retailprice")
    return out.select("p_size", F.col("p_retailprice").alias("best_price"))


@register(
    "dq_expectation_report",
    """
    WITH t AS (SELECT * FROM orders)
    SELECT 'custkey_complete' AS check, 'o_custkey' AS col_name,
           CAST(count(o_custkey) AS DOUBLE) / count(*) AS metric,
           1.0 AS threshold,
           (CAST(count(o_custkey) AS DOUBLE) / count(*)) >= 1.0 AS passed
    FROM t
    UNION ALL
    SELECT 'orderkey_unique', 'o_orderkey',
           CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*),
           1.0,
           (CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*)) >= 1.0
    FROM t
    UNION ALL
    SELECT 'status_in_set', 'o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*),
           1.0,
           (CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*)) >= 1.0
    FROM t
    UNION ALL
    SELECT 'priority_pattern', 'o_orderpriority',
           CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*),
           0.99,
           (CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) >= 0.99
    FROM t
    UNION ALL
    SELECT 'price_positive', 'o_totalprice',
           CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*),
           1.0,
           (CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*)) >= 1.0
    FROM t
    """,
)
def dq_expectation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over the orders feed: five
    constraints (completeness, key uniqueness, enum membership,
    pattern conformance, positivity) computed in ONE aggregation scan
    (`operators/dataquality.py`) and unpivoted into a report. The
    reference tracks run health with Spark accumulators
    (`analytics/UpdateProdMetrics.scala:41-55`); this is that idea as
    a first-class relational artifact a pipeline can gate on."""
    orders = load_table(spark, sf_dir, "orders")
    checks = [
        ("custkey_complete", "o_custkey", completeness("o_custkey"), 1.0),
        ("orderkey_unique", "o_orderkey", uniqueness("o_orderkey"), 1.0),
        (
            "status_in_set",
            "o_orderstatus",
            in_set_rate("o_orderstatus", ("O", "F", "P")),
            1.0,
        ),
        (
            "priority_pattern",
            "o_orderpriority",
            pattern_rate("o_orderpriority", "^[1-5]-"),
            0.99,
        ),
        (
            "price_positive",
            "o_totalprice",
            F.sum((F.col("o_totalprice") > 0).cast("long")) / F.count(F.lit(1)),
            1.0,
        ),
    ]
    return check_suite(orders, checks)


@register(
    "golden_user_record",
    """
    WITH ranked AS (
        -- valid_id: survivorship is per-identity; a NULL id has no
        -- golden record (and the aggs-to-ranked join would drop the
        -- NULL group here while Spark's single groupBy keeps it —
        -- keyfuzz finding, r12)
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY (event_type IS NOT NULL) DESC, ts DESC,
                            event_id DESC) AS rn
        FROM events WHERE user_id IS NOT NULL),
    aggs AS (
        SELECT user_id,
               round(max(value) + 1e-9, 6) AS max_value,
               CAST(count(*) AS BIGINT) AS n_events,
               epoch_us(min(ts)) AS first_us
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
    SELECT a.user_id, r.event_type AS last_event_type,
           a.max_value, a.n_events, a.first_us
    FROM aggs a JOIN ranked r ON r.user_id = a.user_id AND r.rn = 1
    """,
)
def golden_user_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship per user: each field survives by
    its own rule — latest-non-null for the categorical, max / count /
    min-epoch for the numerics — all in a SINGLE groupBy
    (`operators/survivorship.py`): ``max_by`` over a
    (not-null, ts, tiebreak) struct replaces the oracle's
    window-plus-join. One shuffle for any number of field rules."""
    ev = load_table(spark, sf_dir, "events").filter(valid_id("user_id"))
    out = golden_record(
        ev,
        "user_id",
        {
            "last_event_type": latest_nonnull("event_type", "ts", "event_id"),
            "max_value": F.round(F.max("value") + F.lit(1e-9), 6),
            "n_events": F.count(F.lit(1)),
            "first_us": F.min(epoch_micros("ts")),
        },
    )
    return out.select(
        "user_id", "last_event_type", "max_value", "n_events", "first_us"
    )


@register(
    "gap_fill_user_purchase_value",
    f"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               sum(value) AS day_value
        FROM events WHERE event_type = 'purchase'
          AND ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00'
          AND {finite_measure_sql('value')}
        GROUP BY user_id, CAST(ts AS DATE)),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(day), max(day),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id),
    dense AS (
        SELECT s.user_id, s.day, d.day_value,
               d.day_value IS NULL AS filled
        FROM spine s LEFT JOIN daily d
          ON d.user_id = s.user_id AND d.day = s.day)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           round(last_value(day_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9,
               6) AS value,
           filled
    FROM dense
    """,
)
def gap_fill_user_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily purchase series: calendar spine generated
    DISTRIBUTEDLY (sequence+explode inside the per-key bounds
    aggregate — no driver calendar, no date-dimension cross join),
    then forward fill via last(ignorenulls) over one keyed window
    (`operators/timeseries.py`). The oracle rebuilds the spine with
    generate_series and IGNORE NULLS last_value."""
    # sane-clock guard: one corrupt 1900-era event would widen the
    # per-user calendar spine to ~45k days (time-fuzz aligned).
    # finite_measure on value: the daily sum is an order-sensitive
    # double fold — r11 fold-SHAPE audit (same class as the r10
    # daily_value_autocorrelation finding).
    ev = load_table(spark, sf_dir, "events").filter(valid_event_time("ts"))
    daily = (
        ev.filter((F.col("event_type") == "purchase") & finite_measure("value"))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("day_value"))
    )
    out = gap_fill_forward(daily, "user_id", "day", "day_value")
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("day_value") + F.lit(1e-9), 6).alias("value"),
        "filled",
    )


@register(
    "weighted_doc_sample",
    """
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 1.0) / 4294967296.0) / n_chars AS k
        FROM documents WHERE n_chars > 0
        ORDER BY k DESC, doc_id LIMIT 100)
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement, 100 docs
    with probability ∝ n_chars (Efraimidis–Spirakis A-Res,
    `operators/sampling.py`): md5-derived uniform, log(u)/w key,
    global top-k via TakeOrderedAndProject — per-partition heaps, no
    global sort. The oracle replays the identical md5 arithmetic, so
    the hash match proves cross-engine reproducibility of the
    sample — the property a training-data pipeline needs to rerun a
    mix deterministically."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = weighted_sample(docs, "doc_id", "n_chars", 100)
    return out.select("doc_id", "lang")


@register(
    "basket_brand_lift",
    """
    WITH f AS (
        -- valid_id: a NULL basket id is not a basket — Spark's
        -- distinct-count of baskets counts a NULL row where duck's
        -- count(DISTINCT) skips it, and the pair self-join drops
        -- NULL keys asymmetrically (keyfuzz finding, r12)
        SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_orderkey IS NOT NULL),
    c AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY i),
    nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM f),
    pr AS (
        SELECT a.i AS item_a, b.i AS item_b,
               CAST(count(*) AS BIGINT) AS pair_count
        FROM f a JOIN f b ON a.b = b.b AND a.i < b.i
        GROUP BY a.i, b.i
        HAVING count(*) >= 5)
    SELECT pr.item_a, pr.item_b, pr.pair_count,
           ca.cnt AS count_a, cb.cnt AS count_b, nb.n AS n_baskets,
           CAST(pr.pair_count AS DOUBLE) / nb.n AS support,
           CAST(pr.pair_count AS DOUBLE) / ca.cnt AS confidence_a_to_b,
           CAST(pr.pair_count * nb.n AS DOUBLE) / (ca.cnt * cb.cnt) AS lift
    FROM pr
    CROSS JOIN nb
    JOIN c ca ON ca.i = pr.item_a
    JOIN c cb ON cb.i = pr.item_b
    """,
)
def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets at brand grain: support,
    confidence, lift for co-ordered brand pairs seen >= 5 times.
    Candidate pairs come from an equi-join on the basket key with the
    oversize-basket guard armed (`operators/basket.py` — the same
    loud-failure pattern as dedup's ``max_block_rows``), so the
    quadratic per-basket blowup is structurally impossible."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(valid_id("l_orderkey"))
        .select("l_orderkey", "l_partkey")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    facts = li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    out = pair_cooccurrence(facts, "basket", "item")
    return out.select(
        "item_a", "item_b",
        F.col("pair_count").cast("long").alias("pair_count"),
        F.col("count_a").cast("long").alias("count_a"),
        F.col("count_b").cast("long").alias("count_b"),
        F.col("n_baskets").cast("long").alias("n_baskets"),
        (F.col("pair_count").cast("double") / F.col("n_baskets")).alias("support"),
        (F.col("pair_count").cast("double") / F.col("count_a")).alias(
            "confidence_a_to_b"
        ),
        (
            (F.col("pair_count") * F.col("n_baskets")).cast("double")
            / (F.col("count_a") * F.col("count_b"))
        ).alias("lift"),
    )


@register(
    "mad_price_outliers_per_brand",
    f"""
    WITH pp AS (
        SELECT p_brand, p_retailprice FROM part
        WHERE {finite_measure_sql('p_retailprice')}),
    med AS (
        SELECT p_brand,
               quantile_cont(CAST(p_retailprice AS DOUBLE), 0.5) AS med
        FROM pp GROUP BY p_brand),
    dev AS (
        SELECT p.p_brand, m.med,
               abs(p.p_retailprice - m.med) AS adev,
               p.p_retailprice
        FROM pp p JOIN med m ON m.p_brand = p.p_brand),
    mad AS (
        SELECT p_brand, any_value(med) AS med,
               quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY p_brand)
    SELECT d.p_brand,
           round(any_value(d.med) + 1e-9, 6) AS med,
           round(any_value(m.mad) + 1e-9, 6) AS mad,
           CAST(sum(CASE WHEN round(d.adev + 1e-9, 6) >
                              round(3 * 1.4826 * m.mad + 1e-9, 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON m.p_brand = d.p_brand
    GROUP BY d.p_brand
    """,
)
def mad_price_outliers_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per brand via median absolute deviation —
    the resistant sibling of `price_zscore_outliers` (mean/stddev
    break under the very outliers being hunted). Two exact-percentile
    groupBys + two broadcast-friendly joins; comparisons happen on
    6-dp-rounded quantities on BOTH sides so the IEEE tails of each
    engine's interpolation cannot flip a boundary row."""
    part = load_table(spark, sf_dir, "part").select("p_brand", "p_retailprice").filter(
        finite_measure("p_retailprice")
    )
    med = part.groupBy("p_brand").agg(
        F.percentile(F.col("p_retailprice").cast("double"), F.lit(0.5)).alias("med")
    )
    dev = part.join(F.broadcast(med), "p_brand").withColumn(
        "adev", F.abs(F.col("p_retailprice") - F.col("med"))
    )
    mad = dev.groupBy("p_brand").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    out = (
        dev.join(F.broadcast(mad), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.round(F.any_value(F.col("med")) + F.lit(1e-9), 6).alias("med"),
            F.round(F.any_value(F.col("mad")) + F.lit(1e-9), 6).alias("mad"),
            F.sum(
                (
                    F.round(F.col("adev") + F.lit(1e-9), 6)
                    > F.round(F.lit(3 * 1.4826) * F.col("mad") + F.lit(1e-9), 6)
                ).cast("long")
            ).alias("n_outliers"),
        )
    )
    return out


@register(
    "pagerank_copurchase_parts",
    """
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    v AS (SELECT DISTINCT src AS node FROM e),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM n) AS rank FROM v),
    c1 AS (SELECT e.dst AS node, sum(r0.rank / od.outdeg) AS s
           FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src
           GROUP BY e.dst),
    r1 AS (SELECT v.node,
                  0.15 / (SELECT n FROM n)
                  + 0.85 * (coalesce(c1.s, 0) + 0.0 / (SELECT n FROM n)) AS rank
           FROM v LEFT JOIN c1 ON c1.node = v.node),
    c2 AS (SELECT e.dst AS node, sum(r1.rank / od.outdeg) AS s
           FROM e JOIN r1 ON r1.node = e.src JOIN od ON od.src = e.src
           GROUP BY e.dst),
    r2 AS (SELECT v.node,
                  0.15 / (SELECT n FROM n)
                  + 0.85 * (coalesce(c2.s, 0) + 0.0 / (SELECT n FROM n)) AS rank
           FROM v LEFT JOIN c2 ON c2.node = v.node),
    c3 AS (SELECT e.dst AS node, sum(r2.rank / od.outdeg) AS s
           FROM e JOIN r2 ON r2.node = e.src JOIN od ON od.src = e.src
           GROUP BY e.dst),
    r3 AS (SELECT v.node,
                  0.15 / (SELECT n FROM n)
                  + 0.85 * (coalesce(c3.s, 0) + 0.0 / (SELECT n FROM n)) AS rank
           FROM v LEFT JOIN c3 ON c3.node = v.node)
    SELECT node AS l_partkey, round(rank + 1e-9, 6) AS rank FROM r3
    """,
)
def pagerank_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three power iterations of PageRank over the symmetric
    co-purchase part graph (`operators/components.py:pagerank`) —
    two shuffles per round (edges⋈ranks on src, groupBy dst), lineage
    cut per round. The oracle unrolls the identical recurrence as
    three CTE stages; 6-dp rounding with the repo's +1e-9 nudge
    absorbs cross-engine float-summation-order tails. The graph is
    symmetric, so the dangling-mass term is exercised as exactly
    zero on both sides."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    # the graph is symmetric: generate each undirected edge ONCE
    # (src < dst), dedup half the pair volume, then mirror — the
    # distinct is the expensive shuffle and this halves its input
    half = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges)
    return ranks.select(
        F.col("node").alias("l_partkey"),
        F.round(F.col("rank") + F.lit(1e-9), 6).alias("rank"),
    )


@register(
    "conversion_lag_quantiles",
    """
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
        FROM events
        WHERE ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00'
        GROUP BY user_id),
    lags AS (
        SELECT (epoch_us(first_buy) - epoch_us(first_view)) / 1e6 AS lag_s
        FROM per_user
        WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
          AND first_buy >= first_view)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(quantile_cont(lag_s, 0.5) + 1e-9, 6) AS p50_lag_s,
           round(quantile_cont(lag_s, 0.9) + 1e-9, 6) AS p90_lag_s
    FROM lags
    """,
)
def conversion_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, first view → first
    purchase lag in seconds, summarized as exact p50/p90. One
    conditional-min groupBy (no self-join: both "first X" aggregates
    ride the same shuffle) and one scalar percentile aggregate —
    the funnel-latency companion to `funnel_stage_per_user`. Corrupt
    clocks are rejected at ingestion: a 1900-era first_view makes the
    lag a 124-year artifact whose quantile interpolation diverges in
    the last ulp across engines (time-fuzz aligned)."""
    ev = load_table(spark, sf_dir, "events").filter(valid_event_time("ts"))
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_buy"),
    )
    lags = per_user.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(
        (
            (epoch_micros("first_buy") - epoch_micros("first_view")) / F.lit(1e6)
        ).alias("lag_s")
    )
    return lags.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.percentile(F.col("lag_s"), F.lit(0.5)) + F.lit(1e-9), 6).alias(
            "p50_lag_s"
        ),
        F.round(F.percentile(F.col("lag_s"), F.lit(0.9)) + F.lit(1e-9), 6).alias(
            "p90_lag_s"
        ),
    )


@register(
    "sorted_neighborhood_doc_pairs",
    """
    WITH keyed AS (
        SELECT doc_id,
               -- explicit ws class ([ \\t\\n\\x0B\\f\\r], Java's \\s incl.
               -- VT which RE2's \\s lacks) + java_lower İ pre-expansion:
               -- textuni-fuzz aligned (see functions.text)
               lower(replace(
                   substr(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), 1, 30),
                   'İ', 'i' || chr(775)))
                   AS key
        FROM documents WHERE text IS NOT NULL),
    ranked AS (
        SELECT doc_id, key, substr(key, 1, 2) AS blk,
               row_number() OVER (
                   PARTITION BY substr(key, 1, 2)
                   ORDER BY key, doc_id) AS rn
        FROM keyed)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.key AS key_a, b.key AS key_b
    FROM ranked a JOIN ranked b
      ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3
    """,
)
def sorted_neighborhood_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs (window w=4) over a
    normalized 30-char document key — the merge/purge blocker that
    catches shared-prefix near-keys at a GUARANTEED O(w·n) pair
    budget (`operators/dedup.py:sorted_neighborhood_pairs`). The sort
    is blocked by the key's 2-char prefix so no global single-
    partition window exists; lead() columns exploded into pairs, one
    shuffle total. Oracle: row_number + bounded-offset self-join."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(
            F.substring(F.regexp_replace(F.col("text"), WS_CLASS + "+", " "), 1, 30)
        ).alias("key"),
    )
    return sorted_neighborhood_pairs(docs, "doc_id", "key")


_TOKS = (
    "list_filter(string_split_regex(trim(regexp_replace(regexp_replace(text,"
    "'[^A-Za-z]+',' ','g'),' +',' ','g')), ' '), t -> t <> '')"
)


@register(
    "event_transition_matrix",
    """
    WITH nxt AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events)
    SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE)
               / sum(count(*)) OVER (PARTITION BY cur) AS p
    FROM nxt WHERE nxt IS NOT NULL
    GROUP BY cur, nxt
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: P(next event type | current), the behavior-modeling
    companion to `funnel_stage_per_user`. One keyed window (lead) +
    one groupBy; the row-normalizing denominator rides a window over
    the |event_types|^2-bounded count matrix, so nothing re-shuffles
    the event log."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    counts = nxt.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("cur")
    return counts.select(
        "cur", "nxt", "n",
        (F.col("n").cast("double") / F.sum("n").over(wp)).alias("p"),
    )


@register(
    "source_vocab_divergence",
    f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
    sc AS (SELECT source, token, count(*) AS n FROM tok GROUP BY source, token),
    st AS (SELECT source, sum(n) AS tot FROM sc GROUP BY source),
    g AS (SELECT token, sum(n) AS gn FROM sc GROUP BY token),
    gt AS (SELECT sum(gn) AS gtot FROM g)
    SELECT sc.source,
           round(sum((sc.n / st.tot)
                     * ln((sc.n / st.tot) / (g.gn / gt.gtot))) + 1e-9,
                 6) AS kl_vs_global,
           CAST(any_value(st.tot) AS BIGINT) AS n_tokens
    FROM sc
    JOIN st USING (source)
    JOIN g USING (token)
    CROSS JOIN gt
    GROUP BY sc.source
    """,
)
def source_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    global corpus distribution — the domain-shift detector a
    training-data mix needs (a source whose KL spikes is drifting or
    contaminated). Shapes: one (source, token) count shuffle; the
    per-source totals are a tiny broadcast join; the global totals a
    broadcast scalar. KL(P_s || P_g) is exact (same support by
    construction: every source token exists globally)."""
    from htmlentityextraction_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize(F.col("text")), lambda t: t != "")
    sc = (
        docs.select("source", F.explode(toks).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    st = sc.groupBy("source").agg(F.sum("n").alias("tot"))
    g = sc.groupBy("token").agg(F.sum("n").alias("gn"))
    gtot = g.agg(F.sum("gn").alias("gtot"))
    ps = F.col("n") / F.col("tot")
    pg = F.col("gn") / F.col("gtot")
    return (
        sc.join(F.broadcast(st), "source")
        .join(g, "token")
        .crossJoin(F.broadcast(gtot))
        .groupBy("source")
        .agg(
            F.round(F.sum(ps * F.log(ps / pg)) + F.lit(1e-9), 6).alias(
                "kl_vs_global"
            ),
            F.any_value(F.col("tot")).alias("n_tokens"),
        )
    )


@register(
    "item_item_similarity_brands",
    """
    WITH f AS (
        SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    c AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY i),
    pr AS (
        SELECT a.i AS item_a, b.i AS item_b,
               CAST(count(*) AS BIGINT) AS co
        FROM f a JOIN f b ON a.b = b.b AND a.i < b.i
        GROUP BY a.i, b.i
        HAVING count(*) >= 10)
    SELECT pr.item_a, pr.item_b, pr.co,
           round(pr.co / sqrt(ca.cnt * cb.cnt) + 1e-9, 6) AS cosine,
           round(CAST(pr.co AS DOUBLE) / (ca.cnt + cb.cnt - pr.co) + 1e-9,
                 6) AS jaccard
    FROM pr
    JOIN c ca ON ca.i = pr.item_a
    JOIN c cb ON cb.i = pr.item_b
    """,
)
def item_item_similarity_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity over basket
    co-occurrence: cosine (co / sqrt(na·nb)) and Jaccard
    (co / (na + nb − co)) per co-ordered brand pair — the
    set-similarity view of the same basket-key equi-join as
    `basket_brand_lift` (one pair-generation shuffle, broadcast item
    counts), feeding related-item recommendations without any
    all-pairs scan."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    facts = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("b"), F.col("p_brand").alias("i"))
        .distinct()
    )
    counts = facts.groupBy("i").agg(F.count(F.lit(1)).alias("cnt"))
    a = facts.select(F.col("b"), F.col("i").alias("item_a"))
    bb = facts.select(F.col("b"), F.col("i").alias("item_b"))
    pairs = (
        a.join(bb, "b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 10)
    )
    return (
        pairs.join(
            F.broadcast(
                counts.select(F.col("i").alias("item_a"), F.col("cnt").alias("ca"))
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                counts.select(F.col("i").alias("item_b"), F.col("cnt").alias("cb"))
            ),
            "item_b",
        )
        .select(
            "item_a", "item_b", "co",
            F.round(
                F.col("co") / F.sqrt(F.col("ca") * F.col("cb")) + F.lit(1e-9), 6
            ).alias("cosine"),
            F.round(
                F.col("co").cast("double")
                / (F.col("ca") + F.col("cb") - F.col("co"))
                + F.lit(1e-9),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "linear_interp_user_value",
    f"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               -- corrupt values drop at ingestion: a 2^53-scale
               -- addend makes the daily sum ulp-order-dependent
               -- across engines (mixed-fuzz seed-11 aligned)
               sum(value) AS v
        FROM events WHERE event_type = 'purchase'
          AND {finite_measure_sql('value')}
          AND ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00'
        GROUP BY user_id, CAST(ts AS DATE)),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(day), max(day),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id),
    dense AS (
        SELECT s.user_id, s.day, d.v, d.v IS NULL AS filled
        FROM spine s LEFT JOIN daily d
          ON d.user_id = s.user_id AND d.day = s.day),
    anch AS (
        SELECT user_id, day, v, filled,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN filled THEN NULL ELSE day END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
               first_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN filled THEN NULL ELSE day END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM dense)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           round(CASE WHEN NOT filled THEN v
                      ELSE pv + (nv - pv) * (CAST(day - pd AS DOUBLE)
                                             / CAST(nd - pd AS DOUBLE))
                 END + 1e-9, 6) AS value,
           filled
    FROM anch
    """,
)
def linear_interp_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of interior gaps in each user's daily
    purchase series (`operators/timeseries.py:gap_fill_linear`) —
    forward fill's continuous-signal sibling: missing days take the
    straight line between the surrounding observations. Same
    one-shuffle spine join, then ONE window pass carrying both
    anchors (last-at-or-before via the preceding frame, first-at-or-
    after via the following frame); no self-joins."""
    from htmlentityextraction_spark.operators.timeseries import gap_fill_linear

    # sane-clock guard: one corrupt 1900-era event would widen the
    # per-user calendar spine to ~45k days (time-fuzz aligned)
    ev = load_table(spark, sf_dir, "events").filter(valid_event_time("ts"))
    daily = (
        ev.filter((F.col("event_type") == "purchase") & finite_measure("value"))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("v"))
    )
    out = gap_fill_linear(daily, "user_id", "day", "v")
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("v") + F.lit(1e-9), 6).alias("value"),
        "filled",
    )


@register(
    "max_drawdown_per_product",
    f"""
    WITH g AS (
        SELECT l_partkey AS prodid,
               list_transform(
                   list_sort(list({{'ts': floor(epoch(l_shipdate)), 'ok': l_orderkey,
                                   'ln': l_linenumber,
                                   'p': CAST(l_extendedprice AS DOUBLE)}})),
                   s -> s.p) AS ps
        FROM lineitem
        WHERE {finite_measure_sql('l_extendedprice')}
          AND l_shipdate >= TIMESTAMP '1990-01-01' AND l_shipdate < TIMESTAMP '2100-01-01'
          -- valid_id on the sort-struct tie-breaks (keyfuzz r12):
          -- same class as cusum_price_shift_per_product
          AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        GROUP BY 1),
    e AS (SELECT prodid, len(ps) AS n, ps,
                 unnest(generate_series(1, len(ps))) AS i
          FROM g),
    w AS (SELECT prodid, n,
                 max(ps[i]) OVER (
                     PARTITION BY prodid ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - ps[i] AS dd
          FROM e)
    SELECT prodid, CAST(any_value(n) AS BIGINT) AS n_obs,
           round(max(dd) + 1e-9, 6) AS max_drawdown
    FROM w GROUP BY prodid
    """,
)
def max_drawdown_per_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum peak-to-trough decline of each product's price series
    — a STRUCT-accumulator sequential fold (running peak + running
    max drawdown in one pass), the second member of the ordered-fold
    family after the scalar-state EMA. Same scale contract: one
    shuffle on the group key, per-group state bounded by the series
    length, and a reproducible op sequence over the identically-
    sorted array. (The oracle expresses the same recurrence as
    running-max-minus-current over unnested positions: DuckDB
    1.0.0's list_reduce mis-evaluates struct accumulators when run
    across many rows, so the fold form is Spark-side only; drawdown
    is subtraction-then-max, so the window form is exactly
    equivalent, float-op for float-op.)"""
    from htmlentityextraction_spark.functions.temporal import epoch_seconds

    li = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
        & valid_date_axis("l_shipdate")
        & valid_id("l_orderkey")
        & valid_id("l_linenumber")
    )
    g = li.groupBy(F.col("l_partkey").alias("prodid")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        epoch_seconds("l_shipdate").alias("ts"),
                        F.col("l_orderkey").alias("ok"),
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_extendedprice").cast("double").alias("p"),
                    )
                )
            ),
            lambda s: s.p,
        ).alias("ps")
    )
    arr = F.col("ps")
    dd = F.aggregate(
        arr,
        F.struct(
            F.lit(float("-inf")).alias("peak"), F.lit(0.0).alias("dd")
        ),
        lambda acc, x: F.struct(
            F.greatest(acc.peak, x).alias("peak"),
            F.greatest(acc.dd, F.greatest(acc.peak, x) - x).alias("dd"),
        ),
        lambda acc: acc.dd,
    )
    # a product whose EVERY price is NULL has no drawdown: the fold's
    # greatest() skips NULLs so dd would surface as a fabricated 0.0,
    # while the oracle's running-max window stays NULL throughout —
    # emit NULL (nullgroup-fuzz aligned)
    n_priced = F.size(F.filter(arr, lambda x: x.isNotNull()))
    return g.select(
        "prodid",
        F.size(arr).cast("long").alias("n_obs"),
        F.when(n_priced == 0, F.lit(None).cast("double"))
        .otherwise(F.round(dd + F.lit(1e-9), 6))
        .alias("max_drawdown"),
    )


@register(
    "gopher_repetition_filters",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    words AS (SELECT doc_id, unnest(toks) AS w FROM t),
    wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
    topw AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM wc GROUP BY doc_id),
    bi AS (SELECT doc_id,
                  CASE WHEN len(toks) > 1
                       THEN list_transform(generate_series(1, len(toks) - 1),
                                           i -> toks[i] || ' ' || toks[i + 1])
                       ELSE [] END AS bgs
           FROM t)
    SELECT topw.doc_id,
           round(CAST(topw.mx AS DOUBLE) / topw.tot + 1e-9, 6)
               AS top_word_ratio,
           round(CASE WHEN len(bgs) > 0
                      THEN 1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE)
                                 / len(bgs)
                      ELSE 0.0 END + 1e-9, 6) AS dup_bigram_frac,
           (CAST(topw.mx AS DOUBLE) / topw.tot) <= 0.1 AND
           (CASE WHEN len(bgs) > 0
                 THEN 1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / len(bgs)
                 ELSE 0.0 END) <= 0.5 AS passes
    FROM topw JOIN bi ON bi.doc_id = topw.doc_id
    """,
)
def gopher_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules per document: the
    most-frequent-word mass ratio and the duplicate-bigram fraction,
    plus the combined admission verdict — the repetition half of the
    quality-filter battery (`hard_quality_filters` covers the
    length/ratio half). Shapes: one (doc, token) count shuffle for
    the top-word mass; the bigram stats are ARRAY-LOCAL (transform +
    array_distinct on the already-tokenized row — no explode, no
    shuffle)."""
    from htmlentityextraction_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.filter(tokenize(F.col("text")), lambda t: t != "").alias("toks")
    )
    wc = (
        docs.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topw = wc.groupBy("doc_id").agg(
        F.max("c").alias("mx"), F.sum("c").alias("tot")
    )
    bgs = F.when(
        F.size("toks") > 1,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat(
                F.element_at(F.col("toks"), i),
                F.lit(" "),
                F.element_at(F.col("toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = docs.select("doc_id", bgs.alias("bgs"))
    top_ratio = F.col("mx").cast("double") / F.col("tot")
    dup_frac = F.when(
        F.size("bgs") > 0,
        F.lit(1.0)
        - F.size(F.array_distinct("bgs")).cast("double") / F.size("bgs"),
    ).otherwise(F.lit(0.0))
    return (
        topw.join(bi, "doc_id")
        .select(
            "doc_id",
            F.round(top_ratio + F.lit(1e-9), 6).alias("top_word_ratio"),
            F.round(dup_frac + F.lit(1e-9), 6).alias("dup_bigram_frac"),
            ((top_ratio <= 0.1) & (dup_frac <= 0.5)).alias("passes"),
        )
    )


@register(
    "stream_windowed_topk",
    """
    WITH agg AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2),
    r AS (SELECT window_start, event_type, n_events,
                 row_number() OVER (
                     PARTITION BY window_start
                     ORDER BY n_events DESC, event_type) AS rk
          FROM agg)
    SELECT window_start, event_type, n_events, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 2
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: tumbling 1h watermarked counts (the T7
    streaming aggregate) with the per-window top-2 event types ranked
    at the serving edge — the standard split, since rank-over-
    aggregate is not an incremental streaming operator: the stream
    maintains the additive state, the consumer ranks the (tiny)
    window x type matrix."""
    from htmlentityextraction_spark.streaming import pipeline as sp

    enriched = sp.enrich_events(sp.read_events_stream(spark, sf_dir))
    counts = sp.run_to_memory(spark, sp.windowed_counts(enriched), complete=True)
    # asc_nulls_last: the NULL-type bucket tie-breaks at DuckDB's
    # default NULLS LAST position (null-fuzz aligned)
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc_nulls_last("event_type")
    )
    return (
        counts.select("window_start", "event_type", "n_events")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 2)
    )


@register(
    "cusum_price_shift_per_product",
    f"""
    WITH g AS (
        SELECT l_partkey AS prodid,
               list_transform(
                   list_sort(list({{'ts': floor(epoch(l_shipdate)), 'ok': l_orderkey,
                                   'ln': l_linenumber,
                                   'p': CAST(l_extendedprice AS DOUBLE)}})),
                   s -> s.p) AS ps
        FROM lineitem
        WHERE {finite_measure_sql('l_extendedprice')}
          AND l_shipdate >= TIMESTAMP '1990-01-01' AND l_shipdate < TIMESTAMP '2100-01-01'
          -- valid_id on the sort-struct tie-breaks: a NULL id field
          -- orders differently inside the two engines' struct sorts,
          -- shifting the CUSUM fold order (keyfuzz r12, seed 5009)
          AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        GROUP BY 1),
    m AS (
        SELECT prodid, ps, len(ps) AS n,
               list_reduce(ps, (a, x) -> a + x) / len(ps) AS mean
        FROM g)
    SELECT prodid, CAST(n AS BIGINT) AS n_obs,
           round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE), ps),
               (a, x) -> greatest(CAST(0.0 AS DOUBLE), a + x - mean))
               + 1e-9, 6) AS cusum_pos,
           round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE), ps),
               (a, x) -> greatest(CAST(0.0 AS DOUBLE), a + mean - x))
               + 1e-9, 6) AS cusum_neg
    FROM m
    """,
)
def cusum_price_shift_per_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM statistics (upward and downward) of each
    product's price series against its own mean — the sequential
    change-point signal (Page's test) that windows cannot express.
    Third member of the ordered-fold family: the MEAN itself is
    computed by folding the sorted array (not avg()), so every float
    op on both engines runs in the identical order — the
    at-1000-executors reproducibility contract the EMA established.
    list_reduce seeds from the first element, so a 0.0 is prepended
    to make s_0 = 0 explicit on both sides."""
    from htmlentityextraction_spark.functions.temporal import epoch_seconds

    # valid_id on the sort-struct tie-breaks (keyfuzz r12, seed 5009):
    # a NULL id field orders differently inside the two engines'
    # struct sorts, shifting the CUSUM fold order
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
        & valid_date_axis("l_shipdate")
        & valid_id("l_orderkey")
        & valid_id("l_linenumber")
    )
    g = li.groupBy(F.col("l_partkey").alias("prodid")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        epoch_seconds("l_shipdate").alias("ts"),
                        F.col("l_orderkey").alias("ok"),
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_extendedprice").cast("double").alias("p"),
                    )
                )
            ),
            lambda s: s.p,
        ).alias("ps")
    )
    arr = F.col("ps")
    mean = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / F.size(arr)
    withm = g.select("prodid", arr.alias("ps"), mean.alias("mean"))
    pos = F.aggregate(
        F.col("ps"),
        F.lit(0.0),
        lambda a, x: F.greatest(F.lit(0.0), a + x - F.col("mean")),
    )
    neg = F.aggregate(
        F.col("ps"),
        F.lit(0.0),
        lambda a, x: F.greatest(F.lit(0.0), a + F.col("mean") - x),
    )
    return withm.select(
        "prodid",
        F.size("ps").cast("long").alias("n_obs"),
        F.round(pos + F.lit(1e-9), 6).alias("cusum_pos"),
        F.round(neg + F.lit(1e-9), 6).alias("cusum_neg"),
    )


@register(
    "weighted_sample_per_lang",
    """
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                                     1, 8)) AS BIGINT) + 1.0)
                               / 4294967296.0) / n_chars DESC,
                            doc_id) AS rn
        FROM documents WHERE n_chars > 0)
    WHERE rn <= 20
    """,
)
def weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sampling: 20 docs per language with
    probability ∝ n_chars (`operators/sampling.py:
    weighted_sample_per_stratum`) — the A-Res key ranked INSIDE each
    stratum by one window over one shuffle, composing the exact
    stratified sampler with the weighted one. Same md5-derived
    uniforms, so the per-language mix is reproducible across engines
    and reruns."""
    from htmlentityextraction_spark.operators.sampling import (
        weighted_sample_per_stratum,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = weighted_sample_per_stratum(docs, "doc_id", "n_chars", "lang", 20)
    return out.select("doc_id", "lang")
