"""Second scalar/relational odds-and-ends batch: deterministic
sampling (P8), top-k% (O3), exact percentiles (A9's modern form),
XML field extraction (S11/F23), and the polling-scheduler due-product
selection (T8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import (
    finite_measure,
    finite_measure_sql,
    measure_cents,
    measure_cents_sql,
)
from htmlentityextraction_spark.functions.text import (
    json_escape_free_text,
    json_escape_free_text_sql,
    strip_c0_controls_sql,
    xml_escape_free_text,
    xml_escape_free_text_sql,
)
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.runner import scratch
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "sample_mod_10pct",
    """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 3
    """,
)
def sample_mod_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 sampling, made reproducible: key-modulo sampling instead of
    RNG (`sample(false, 0.1, seed)` is engine-specific; modulo-on-key
    is stable across engines AND across reruns at 100 TB — the
    property production samplers actually need). RNG sampling is
    covered by a statistical pytest."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.pmod("o_orderkey", F.lit(10)) == 3).select("o_orderkey", "o_totalprice")


@register(
    "topk_percent_suppliers",
    """
    WITH counts AS (
        SELECT l_suppkey AS domain, count(*) AS n FROM lineitem GROUP BY l_suppkey
    ), ranked AS (
        SELECT domain, n, percent_rank() OVER (ORDER BY n DESC, domain) AS pr
        FROM counts
    )
    SELECT domain, n FROM ranked WHERE pr <= 0.1
    """,
)
def topk_percent_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 top-K%: the reference sorted counts and took
    count*K/100 on the DRIVER (`analysis/DomAnalysis.scala:39-44`);
    a percent_rank window keeps it distributed."""
    counts = load_table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_suppkey").alias("domain")
    ).agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("domain"))
    return (
        counts.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= 0.1)
        .select("domain", "n")
    )


@register(
    "exact_price_percentiles",
    f"""
    SELECT l_returnflag,
           round(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE) + 1e-9, 6) AS p25,
           round(CAST(quantile_cont(l_extendedprice, 0.50) AS DOUBLE) + 1e-9, 6) AS p50,
           round(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE) + 1e-9, 6) AS p95
    FROM lineitem
    WHERE {finite_measure_sql('l_extendedprice')}
    GROUP BY l_returnflag
    """,
)
def exact_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9's modern form: exact interpolated percentiles per group
    (Spark `percentile`; the reference collected counts to the driver
    for its percentile cut). For 100 TB use approx_percentile with a
    bounded error instead — same plan shape, sketch-mergeable."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)) + 1e-9, 6).alias("p25"),
        F.round(F.percentile("l_extendedprice", F.lit(0.50)) + 1e-9, 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)) + 1e-9, 6).alias("p95"),
    )


@register(
    "xml_field_extraction",
    f"""
    WITH x AS (
        SELECT p_partkey, p_brand,
               '<item><gtin>G' || p_partkey || '</gtin><brand>' ||
               {xml_escape_free_text_sql('p_brand')} ||
               '</brand><price>' || CAST(floor(p_retailprice) AS BIGINT) || '.00</price>' ||
               CASE WHEN p_partkey % 4 = 0
                    THEN '<sale_price>' ||
                         CAST(floor(p_retailprice * 0.9) AS BIGINT) || '.00</sale_price>'
                    ELSE '' END || '</item>' AS xml
        FROM part
        WHERE {finite_measure_sql('p_retailprice')}
    )
    SELECT p_partkey,
           regexp_extract(xml, '<gtin>([^<]*)</gtin>', 1) AS gtin,
           -- the template XML-escapes the brand, so Spark's
           -- xpath_string decodes back to the control-stripped brand
           -- (text-fuzz aligned: entity-looking brands round-trip;
           -- C0 controls minus tab/lf/cr are ILLEGAL in XML 1.0 even
           -- as entities — Xerces hard-crashes on a raw 0x0B — so the
           -- feed template strips them, textuni-fuzz aligned)
           CASE WHEN xml IS NULL THEN NULL
                ELSE {strip_c0_controls_sql('p_brand')} END AS brand,
           CASE WHEN xml LIKE '%<sale_price>%'
                THEN regexp_extract(xml, '<sale_price>([^<]*)</sale_price>', 1)
                ELSE regexp_extract(xml, '<price>([^<]*)</price>', 1) END AS effective_price
    FROM x
    """,
)
def xml_field_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/F23 (`emr/ParseGglXML.scala:13-37`): XML item feeds with
    xpath field pulls and the sale-price-preference fallback. Spark
    side uses real xpath_string; the oracle mirrors it with regex on
    the same constructed XML. NaN retail prices template no feed
    item (Spark's floor(NaN) would fabricate price 0 — NaN-fuzz)."""
    p = load_table(spark, sf_dir, "part").filter(
        finite_measure("p_retailprice")
    )
    price = F.concat(F.floor("p_retailprice").cast("bigint").cast("string"), F.lit(".00"))
    sale = F.concat(
        F.floor(F.col("p_retailprice") * 0.9).cast("bigint").cast("string"), F.lit(".00")
    )
    # Brand is free text: the shared xml_escape_free_text boundary
    # (functions/text.py) strips C0 controls then entity-escapes —
    # raw & or < makes the feed item unparseable, a raw 0x0B crashes
    # Xerces inside xpath_string (textuni-fuzz finding), and an
    # unescaped \r is eaten by XML line-end normalization. The oracle
    # templates the identical chain, so xpath decodes back to the
    # same control-stripped brand.
    brand_esc = xml_escape_free_text(F.col("p_brand"))
    xml = F.concat(
        F.lit("<item><gtin>G"), F.col("p_partkey").cast("string"), F.lit("</gtin><brand>"),
        brand_esc, F.lit("</brand><price>"), price, F.lit("</price>"),
        F.when(
            F.pmod("p_partkey", F.lit(4)) == 0,
            F.concat(F.lit("<sale_price>"), sale, F.lit("</sale_price>")),
        ).otherwise(F.lit("")),
        F.lit("</item>"),
    )
    x = p.select("p_partkey", xml.alias("xml"))
    sale_x = F.expr("xpath_string(xml, '/item/sale_price')")
    return x.select(
        "p_partkey",
        F.expr("xpath_string(xml, '/item/gtin')").alias("gtin"),
        F.expr("xpath_string(xml, '/item/brand')").alias("brand"),
        F.when(sale_x != "", sale_x)
        .otherwise(F.expr("xpath_string(xml, '/item/price')"))
        .alias("effective_price"),
    )


@register(
    "scheduler_due_products",
    """
    WITH rates AS (
        SELECT p_partkey, CAST(2 * power(2, p_partkey % 3) AS BIGINT) AS update_window
        FROM part
    )
    SELECT p_partkey, update_window FROM rates WHERE 4 % update_window = 0
    """,
)
def scheduler_due_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 polling scheduler (`streaming/FillSeedsByProdFreq.scala:
    38-71`): products carry update windows {2,4,8}; at tick = 4 the
    due set is the window-2 and window-4 products (window-8 waits). The
    gcd/lcm tick derivation itself is functions.sched (driver-side)."""
    p = load_table(spark, sf_dir, "part")
    rates = p.select(
        "p_partkey",
        (F.lit(2) * F.pow(F.lit(2), F.pmod("p_partkey", F.lit(3)))).cast("bigint").alias(
            "update_window"
        ),
    )
    tick = F.lit(4)
    return rates.filter(F.pmod(tick, F.col("update_window")) == 0)


@register(
    "hll_distinct_parts_per_supplier",
    """
    SELECT l_suppkey AS supplier,
           count(DISTINCT l_partkey) AS exact_parts,
           true AS within_5pct
    FROM lineitem GROUP BY l_suppkey
    """,
)
def hll_distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch aggregation (Spark 3.5+ datasketches): per-supplier
    distinct-part estimates from mergeable sketches — the shuffle-
    friendly form of count(distinct) at 100 TB (partial sketches merge
    map-side; the exact form must shuffle every key pair). DuckDB has
    no compatible HLL, so the gated contract is the ACCURACY: the
    estimate must land within ±5% of the exact count for every
    supplier (within_5pct must hash as all-true). The raw estimate is
    additionally tolerance-tested in tests/test_bucketing.py."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_suppkey").alias("supplier")).agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 14))").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    within = (
        F.abs(F.col("approx_parts") - F.col("exact_parts"))
        <= F.col("exact_parts") * 0.05
    )
    return agg.select("supplier", "exact_parts", within.alias("within_5pct"))


# the rank-tolerance contract of approx_percentile_accuracy needs REAL
# slack: approx returns an ELEMENT while the exact bounds interpolate,
# so at eps*n ~ 1.4 (a ~700-member group) the band spans barely one
# element and the booleans flap — the r11 full-interaction sweep at
# sf0.1 created exactly such groups (pool-string junk flags) and two
# failed. n >= 1750 gives eps*n >= 3.5 element gaps, twice the
# sketch's n/1000 rank-error bound, admits every real flag of the
# smallest fixture (1,962-2,070 rows each at sf0.001), and keeps
# fuzz-sized junk flags out at every sweep rate in use (the largest
# seen: 1,276 rows, text poison at rate 0.03 on sf0.1).
_PERCENTILE_MIN_ROWS = 1750


@register(
    "approx_percentile_accuracy",
    f"""
    SELECT l_returnflag AS flag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
           true AS ok_p25, true AS ok_p50, true AS ok_p90
    FROM lineitem
    WHERE l_returnflag IS NOT NULL
      AND {finite_measure_sql('l_extendedprice')}
    GROUP BY l_returnflag
    HAVING count(*) >= {_PERCENTILE_MIN_ROWS}
    """,
)
def approx_percentile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch aggregation: per-flag approx_percentile (the
    mergeable KLL-style sketch — partial sketches combine map-side, so
    a 100 TB percentile costs one narrow shuffle, vs exact percentile
    which must co-locate every value of a group). DuckDB has no
    compatible sketch, so the gated contract is the ACCURACY
    guarantee: with accuracy=1000 the rank error is <= 1/1000, so each
    approx quantile must land between the exact quantiles at
    q +/- 2/1000 (ok_* must hash as all-true). exact_p50 is
    additionally value-gated against DuckDB's quantile_cont (Spark's
    exact `percentile` uses the same linear interpolation). The NULL
    flag group is excluded: its fuzz-sized sample is too small for
    the +/-2/1000 rank-tolerance contract to be meaningful
    (null-fuzz aligned)."""
    # finite_measure, not just NULL/NaN: percentile itself is
    # order-insensitive (sort-based), but the +/-eps rank-tolerance
    # CONTRACT interpolates between neighbors — an inf member at a
    # quantile boundary turns the exact bound into inf/NaN and the
    # ok_* booleans false. Latent until the r11 full-interaction
    # mixed sweep at sf0.1, where pool-string junk flags first
    # reached the >=500-member threshold WITH extreme prices.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull() & finite_measure("l_extendedprice")
    )
    eps = 2.0 / 1000.0
    aggs = [
        F.expr(f"approx_percentile(l_extendedprice, {q}, 1000)").alias(f"ap_{n}")
        for q, n in ((0.25, "p25"), (0.5, "p50"), (0.9, "p90"))
    ] + [
        F.expr(f"percentile(l_extendedprice, {q})").alias(f"ex_{n}")
        for q, n in ((0.25 - eps, "p25_lo"), (0.25 + eps, "p25_hi"),
                     (0.5 - eps, "p50_lo"), (0.5 + eps, "p50_hi"),
                     (0.9 - eps, "p90_lo"), (0.9 + eps, "p90_hi"),
                     (0.5, "p50"))
    ]
    agg = (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.count(F.lit(1)).alias("__n"), *aggs)
        .filter(F.col("__n") >= _PERCENTILE_MIN_ROWS)
    )
    ok = lambda n: (F.col(f"ap_{n}") >= F.col(f"ex_{n}_lo")) & (  # noqa: E731
        F.col(f"ap_{n}") <= F.col(f"ex_{n}_hi")
    )
    return agg.select(
        "flag",
        F.round("ex_p50", 6).alias("exact_p50"),
        ok("p25").alias("ok_p25"), ok("p50").alias("ok_p50"), ok("p90").alias("ok_p90"),
    )


@register(
    "corr_covar_qty_price",
    f"""
    WITH b AS (
        SELECT l_returnflag AS flag,
               (CASE WHEN NOT {finite_measure_sql('l_quantity')} THEN NULL
                ELSE CAST(l_quantity AS BIGINT) END) AS x,
               {measure_cents_sql('l_extendedprice')} AS y
        FROM lineitem
    ), m AS (
        SELECT flag, count(*)::BIGINT AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
        FROM b GROUP BY flag
    )
    SELECT flag, n AS n_rows,
           -- NULLIF: a degenerate group (one row, or constant x/y)
           -- has zero variance — 0/0 is duck NaN vs Spark-ANSI crash
           -- (matrix-fuzz finding, r12); correlation is undefined -> NULL
           round(CAST(n*sxy - sx*sy AS DOUBLE)
                 / NULLIF(sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                    * sqrt(CAST(n*syy - sy*sy AS DOUBLE)), 0) + 1e-9, 6) AS corr_qty_price,
           round(CAST(n*sxy - sx*sy AS DOUBLE)
                 / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 + 1e-9, 6)
               AS covar_pop_qty_usd,
           round(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) / CAST(n AS DOUBLE) + 1e-9, 6)
               AS stddev_pop_qty
    FROM m
    """,
)
def corr_covar_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev per return flag via EXACT
    integer co-moments (A-family statistical aggregates). Built-in
    corr()/covar_pop() accumulate floats in partition order — at 1000
    executors two runs of the same query can disagree in the last
    digits. Instead: quantities and price-cents are integers, the five
    co-moment sums are exact (decimal accumulators, overflow-proof at
    any scale), and floats appear only in one final deterministic
    expression. Same single-shuffle plan as a plain groupBy.agg."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.when(finite_measure("l_quantity"), F.col("l_quantity").cast("long")).alias("x"),
        measure_cents("l_extendedprice").alias("y"),
    )
    m = b.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    n = F.col("n").cast(dec)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    nd = F.col("n").cast("double")
    return m.select(
        "flag",
        F.col("n").alias("n_rows"),
        F.round(F.try_divide(num, F.sqrt(dx) * F.sqrt(dy)) + 1e-9, 6).alias("corr_qty_price"),
        F.round(num / nd / nd / F.lit(100.0) + 1e-9, 6).alias("covar_pop_qty_usd"),
        F.round(F.sqrt(dx) / nd + 1e-9, 6).alias("stddev_pop_qty"),
    )


@register(
    "mode_discount_per_flag",
    f"""
    SELECT flag, discount_cents, n_obs FROM (
        SELECT l_returnflag AS flag,
               {measure_cents_sql('l_discount')} AS discount_cents,
               count(*) AS n_obs,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY count(*) DESC,
                                           {measure_cents_sql('l_discount')})
                   AS rn
        FROM lineitem GROUP BY 1, 2
    ) WHERE rn = 1
    """,
)
def mode_discount_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (most frequent discount tier), with
    a deterministic smallest-value tie-break — count-then-argmax, the
    two-shuffle exact form (the sketch form at extreme cardinality is
    cms_heavy_hitters' CountMinSketch)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            measure_cents("l_discount").alias("discount_cents"),
        )
        .groupBy("flag", "discount_cents")
        .agg(F.count("*").alias("n_obs"))
    )
    w = Window.partitionBy("flag").orderBy(
        F.desc("n_obs"), F.asc_nulls_last("discount_cents")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("flag", "discount_cents", "n_obs")
    )


@register(
    "cms_heavy_hitters",
    """
    SELECT l_partkey AS partkey, count(*) AS exact_n, true AS overestimates
    FROM lineitem GROUP BY l_partkey
    ORDER BY exact_n DESC, partkey LIMIT 20
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy hitters as a DataFrame COMPOSITION:
    d=5 hash rows (xxhash64 with distinct salt args) x w=4096-bucket
    counters built in one groupBy (the sketch itself is a 20k-row
    DataFrame, mergeable by construction — union + re-agg), estimates
    by min-over-rows via a broadcast join of the candidate keys. The
    frequency-table answer when the key space is too wide to hold
    exactly: the counter table is fixed-size regardless of input
    rows. DuckDB has no CMS, so like the HLL query the gated contract
    is a sketch invariant — but only the DETERMINISTIC one:
    estimate >= exact holds by construction (every counter a key
    hashes to counts at least that key), so ``overestimates`` is
    gate-safe at any scale factor. The est <= exact + 2N/w accuracy
    bound holds only w.h.p. over hash choice — with fixed salts a
    different fixture could legitimately violate it — so it is
    asserted in pytest against the fixed fixtures (deterministic
    there), never in the oracle gate."""
    est = cms_estimates(spark, sf_dir)
    return est.select(
        "partkey", "exact_n", (F.col("est") >= F.col("exact_n")).alias("overestimates")
    ).orderBy(F.desc("exact_n"), F.asc("partkey"))


CMS_W, CMS_D = 4096, 5


def cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(partkey, exact_n, est, n_total) for the top-20 exact heavy
    hitters — the raw sketch estimates behind cms_heavy_hitters, kept
    separate so pytest can assert the probabilistic 2N/w accuracy
    bound on the fixed fixtures."""
    W, D = CMS_W, CMS_D
    # li feeds three subtrees (counters / exact-top / total) and is NOT
    # materialized: a localCheckpoint costs more than the pruned
    # one-column scans it saves (r12 negative result), and the persist()
    # retry suggested by VERDICT r12 item 5 is structurally unavailable —
    # the frame is consumed after this function returns, so a persist
    # held at return is plan-keyed cross-run caching, and one released
    # before return is a no-op (OPTIMIZATION_r13.md).
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("key"))

    def bucket(i: int):
        return F.pmod(F.xxhash64("key", F.lit(i)), F.lit(W))

    rows = li.select(
        "key",
        F.explode(F.array(*[F.struct(F.lit(i).alias("i"), bucket(i).alias("b")) for i in range(D)])).alias("hb"),
    ).select("key", "hb.i", "hb.b")
    counters = rows.groupBy("i", "b").agg(F.count("*").alias("cnt"))

    exact = li.groupBy(F.col("key").alias("partkey")).agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), F.asc("partkey")).limit(20)
    cand = top.select(
        "partkey",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.pmod(F.xxhash64(F.col("partkey"), F.lit(i)), F.lit(W)).alias("b"),
                    )
                    for i in range(D)
                ]
            )
        ).alias("hb"),
    ).select("partkey", "exact_n", "hb.i", "hb.b")
    est = (
        counters.join(F.broadcast(cand), ["i", "b"])
        .groupBy("partkey", "exact_n")
        .agg(F.min("cnt").alias("est"))
    )
    total = li.agg(F.count("*").alias("n_total"))
    return est.crossJoin(F.broadcast(total))


@register(
    "theta_sketch_set_ops",
    """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
    SELECT
        (SELECT count(*) FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)) AS n_union_exact,
        (SELECT count(*) FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)) AS n_inter_exact,
        (SELECT count(*) FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)) AS n_diff_exact,
        true AS ok_union, true AS ok_inter, true AS ok_diff
    """,
)
def theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA (datasketches): distinct-customer
    sketches for the URGENT and HIGH order segments, then
    union/intersection/difference estimates — the mergeable way to
    answer audience-overlap questions at 100 TB (HLL can only union;
    theta sketches subtract and intersect). Per-segment sketches
    build map-side and merge associatively. Gated like the HLL query:
    each estimate must land within ±2% of the exact set size (the
    sketches are exact below their sample threshold, so the flags are
    deterministically true at test scale); exact counts ride along
    for the hash."""
    orders = load_table(spark, sf_dir, "orders")
    seg = lambda p: orders.filter(F.col("o_orderpriority") == p)  # noqa: E731
    sk = (
        seg("1-URGENT")
        .agg(F.expr("theta_sketch_agg(o_custkey)").alias("sa"))
        .crossJoin(seg("2-HIGH").agg(F.expr("theta_sketch_agg(o_custkey)").alias("sb")))
    )
    a_keys = seg("1-URGENT").select("o_custkey").distinct()
    b_keys = seg("2-HIGH").select("o_custkey").distinct()
    exact = (
        a_keys.union(b_keys).distinct().agg(F.count("*").alias("n_union_exact"))
        .crossJoin(a_keys.intersect(b_keys).agg(F.count("*").alias("n_inter_exact")))
        .crossJoin(a_keys.exceptAll(b_keys.distinct()).agg(F.count("*").alias("n_diff_exact")))
    )
    est = sk.select(
        F.expr("theta_sketch_estimate(theta_union(sa, sb))").alias("e_union"),
        F.expr("theta_sketch_estimate(theta_intersection(sa, sb))").alias("e_inter"),
        F.expr("theta_sketch_estimate(theta_difference(sa, sb))").alias("e_diff"),
    )
    both = exact.crossJoin(est)
    ok = lambda e, x: (F.abs(F.col(e) - F.col(x)) <= F.col(x) * 0.02).alias(  # noqa: E731
        e.replace("e_", "ok_")
    )
    return both.select(
        "n_union_exact",
        "n_inter_exact",
        "n_diff_exact",
        ok("e_union", "n_union_exact"),
        ok("e_inter", "n_inter_exact"),
        ok("e_diff", "n_diff_exact"),
    )


_PROFILE_COLS = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
)


@register(
    "table_profile_orders",
    """
    SELECT 'o_orderkey' AS col_name, count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           round(min(o_orderkey) + 1e-9, 6) AS min_num,
           round(max(o_orderkey) + 1e-9, 6) AS max_num,
           NULL AS min_str, NULL AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*) - count(o_custkey), count(DISTINCT o_custkey),
           round(min(o_custkey) + 1e-9, 6), round(max(o_custkey) + 1e-9, 6), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*) - count(o_totalprice), count(DISTINCT o_totalprice),
           round(min(o_totalprice) + 1e-9, 6), round(max(o_totalprice) + 1e-9, 6), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*) - count(o_orderdate), count(DISTINCT o_orderdate),
           round(epoch(min(o_orderdate)) + 1e-9, 6), round(epoch(max(o_orderdate)) + 1e-9, 6),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus),
           NULL, NULL, min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority),
           NULL, NULL, min(o_orderpriority), max(o_orderpriority)
    FROM orders
    """,
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary (the engine's `DESCRIBE`/df.summary
    analog, exact): per column, null count, exact distinct, typed
    min/max (numeric columns as double — timestamps as epoch seconds
    — string columns as strings). ONE scan: all per-column aggregates
    compute in a single pass, then unpivot driver-side from the one
    collected row (at 100 TB exact distincts are the only shuffle;
    swap countDistinct for hll/theta estimates when approximation is
    acceptable)."""
    from htmlentityextraction_spark.functions.temporal import epoch_seconds

    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c, kind in _PROFILE_COLS:
        col = epoch_seconds(c) if kind == "ts" else F.col(c)
        aggs.append((F.count("*") - F.count(c)).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
        if kind in ("num", "ts"):
            aggs.append(F.round(F.min(col) + 1e-9, 6).alias(f"mn_{c}"))
            aggs.append(F.round(F.max(col) + 1e-9, 6).alias(f"mx_{c}"))
        else:
            aggs.append(F.min(col).alias(f"mn_{c}"))
            aggs.append(F.max(col).alias(f"mx_{c}"))
    row = orders.agg(*aggs).first()
    out = []
    for c, kind in _PROFILE_COLS:
        is_num = kind in ("num", "ts")
        out.append(
            (
                c,
                int(row[f"nn_{c}"]),
                int(row[f"nd_{c}"]),
                float(row[f"mn_{c}"]) if is_num else None,
                float(row[f"mx_{c}"]) if is_num else None,
                None if is_num else row[f"mn_{c}"],
                None if is_num else row[f"mx_{c}"],
            )
        )
    return spark.createDataFrame(
        out,
        "col_name string, n_nulls long, n_distinct long, min_num double,"
        "max_num double, min_str string, max_str string",
    )


@register(
    "ols_trend_qty_price",
    f"""
    WITH b AS (
        SELECT l_returnflag AS flag,
               (CASE WHEN NOT {finite_measure_sql('l_quantity')} THEN NULL
                ELSE CAST(l_quantity AS BIGINT) END) AS x,
               {measure_cents_sql('l_extendedprice')} AS y
        FROM lineitem
    ), m AS (
        SELECT flag, count(*)::BIGINT AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
        FROM b GROUP BY flag
    )
    -- NULLIF: a degenerate group (one row / constant x) has zero
    -- x-variance — the fit is undefined -> NULL on both engines
    -- (0/0 is duck NaN vs Spark-ANSI crash; matrix-fuzz r12)
    SELECT flag, n AS n_rows,
           round(CAST(n*sxy - sx*sy AS DOUBLE) / NULLIF(CAST(n*sxx - sx*sx AS DOUBLE), 0) / 100.0
                 + 1e-9, 6) AS slope_usd_per_unit,
           round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(n*sxy - sx*sy AS DOUBLE) / NULLIF(CAST(n*sxx - sx*sx AS DOUBLE), 0)
                    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 + 1e-9, 6)
               AS intercept_usd,
           round(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
                 / NULLIF(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE), 0)
                 + 1e-9, 6) AS r2
    FROM m
    """,
)
def ols_trend_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (price-vs-quantity trend):
    slope, intercept, and R² in closed form from the same EXACT
    integer co-moments as corr_covar_qty_price — distributed
    regression with no iterative solver and no float accumulation
    drift, the 100 TB way to fit millions of per-group trend lines
    in one aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.when(finite_measure("l_quantity"), F.col("l_quantity").cast("long")).alias("x"),
        measure_cents("l_extendedprice").alias("y"),
    )
    m = b.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    n = F.col("n").cast(dec)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    nd = F.col("n").cast("double")
    slope = F.try_divide(num, dx)
    intercept = F.col("sy").cast("double") / nd - slope * (F.col("sx").cast("double") / nd)
    return m.select(
        "flag",
        F.col("n").alias("n_rows"),
        F.round(slope / F.lit(100.0) + 1e-9, 6).alias("slope_usd_per_unit"),
        F.round(intercept / F.lit(100.0) + 1e-9, 6).alias("intercept_usd"),
        F.round(F.try_divide(num * num, dx * dy) + 1e-9, 6).alias("r2"),
    )


@register(
    "seasonality_dow_profile",
    f"""
    SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow, event_type,
           count(*) AS n_events,
           CAST(sum({measure_cents_sql('value')}) AS BIGINT) AS sum_cents
    FROM events GROUP BY dow, event_type
    """,
)
def seasonality_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type — the weekly-
    cycle baseline a monitoring pipeline compares against. Engines
    number weekdays differently (Spark dayofweek is 1=Sunday, DuckDB
    EXTRACT(dow) is 0=Sunday), so both sides normalize to the 0=Sunday
    convention explicitly; cent sums stay exact integers."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(measure_cents("value")).alias("sum_cents"),
    )


@register(
    "multiformat_source_parity",
    f"""
    SELECT fmt, count(*) AS n_rows,
           CAST(sum({measure_cents_sql('o_totalprice')}) AS BIGINT)
               AS sum_cents,
           count(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    CROSS JOIN (SELECT unnest(['csv', 'json', 'orc']) AS fmt)
    GROUP BY fmt
    """,
)
def multiformat_source_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-agnostic ingest (the S-family promise made concrete):
    the same relation round-trips through CSV, JSON-lines, and ORC
    and aggregates identically from each — per format, row count,
    exact cent sum, status cardinality. CSV/JSON read with explicit
    schemas (schema inference at 100 TB is a full extra pass); ORC
    carries its own. The oracle states the parquet ground truth once
    per format, so the hash proves every decode path is lossless."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    root = scratch("multifmt_")
    schema = "o_orderkey long, o_totalprice double, o_orderstatus string"
    outs = []
    # lossless CSV needs four deliberate choices (text-fuzz lessons):
    # whitespace preservation OFF-by-default trimming (the writer
    # trims leading/trailing blanks!), an out-of-band nullValue so
    # '' and NULL stay distinct, and multiLine on read for embedded
    # newlines (which costs splittability — at 100 TB prefer many
    # moderate files or a binary format).
    csv_opts = {
        "header": "true",
        "ignoreLeadingWhiteSpace": "false",
        "ignoreTrailingWhiteSpace": "false",
        "nullValue": "\\N",
    }
    for fmt in ("csv", "json", "orc"):
        path = f"{root}/{fmt}"
        w = base.write.mode("overwrite")
        (w.options(**csv_opts).csv(path) if fmt == "csv"
         else w.json(path) if fmt == "json" else w.orc(path))
        r = spark.read
        df = (
            r.schema(schema).options(multiLine="true", **csv_opts).csv(path)
            if fmt == "csv"
            else r.schema(schema).json(path) if fmt == "json" else r.orc(path)
        )
        outs.append(
            df.agg(
                F.lit(fmt).alias("fmt"),
                F.count("*").alias("n_rows"),
                F.sum(measure_cents("o_totalprice")).alias("sum_cents"),
                F.countDistinct("o_orderstatus").alias("n_statuses"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "unpivot_lineitem_measures",
    """
    SELECT l_returnflag AS flag, measure, round(sum(val) + 1e-9, 2) AS total
    FROM (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax', l_tax FROM lineitem
    ) GROUP BY flag, measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native UNPIVOT (wide→long, the inverse of A14's pivot): four
    measure columns melt into (measure, value) rows in ONE scan —
    ``DataFrame.unpivot`` expands rows inside the scan stage, where
    the UNION-ALL formulation the oracle uses (and older engines run)
    reads the table four times. Totals rounded to cents; sums of
    doubles agree at 2dp across engines on this fixture."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    ).withColumn("measure", F.expr("substring(measure, 3, 100)"))
    return long.groupBy(F.col("l_returnflag").alias("flag"), "measure").agg(
        F.round(F.sum("val") + 1e-9, 2).alias("total")
    )


@register(
    "revenue_contribution_by_nation",
    """
    WITH rev AS (
        SELECT n.n_name AS nation, r.r_name AS region,
               CAST(sum(CASE WHEN {fp} AND {fd}
                        THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                             AS BIGINT) END) AS BIGINT) AS rev_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n ON s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY nation, region
    )
    SELECT nation, region, rev_cents,
           round(CAST(rev_cents AS DOUBLE)
                 / CAST(sum(rev_cents) OVER (PARTITION BY region) AS DOUBLE) + 1e-9, 6)
               AS region_share,
           CAST(rank() OVER (PARTITION BY region ORDER BY rev_cents DESC, nation)
                AS BIGINT) AS region_rank
    FROM rev
    """.format(
        fp=finite_measure_sql("l_extendedprice"),
        fd=finite_measure_sql("l_discount"),
    ),
)
def revenue_contribution_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report contribution analysis: each nation's share of
    its region's revenue plus its rank — the market-position pattern
    (`analytics/UrlPositionAndVar.scala`) applied to a star join.
    Revenue in exact integer cents so the share denominators are
    order-independent; one windowed pass over the tiny aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    cents = F.when(
        finite_measure("l_extendedprice") & finite_measure("l_discount"),
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)),
    )
    rev = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(nat, sup["s_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum(cents.cast("long")).alias("rev_cents"))
    )
    w = Window.partitionBy("region")
    wr = Window.partitionBy("region").orderBy(F.desc("rev_cents"), F.asc("nation"))
    return rev.select(
        "nation",
        "region",
        "rev_cents",
        F.round(
            F.col("rev_cents").cast("double") / F.sum("rev_cents").over(w).cast("double")
            + 1e-9,
            6,
        ).alias("region_share"),
        F.rank().over(wr).cast("long").alias("region_rank"),
    )


@register(
    "variant_semistructured_extraction",
    f"""
    WITH payload AS (
        SELECT p_partkey,
               '{{"id": ' || p_partkey || ', "price": ' ||
               CAST(floor(p_retailprice) AS BIGINT) || '.50' ||
               CASE WHEN p_partkey % 4 <> 0
                    THEN ', "attrs": {{"size": ' || p_partkey % 50 ||
                         ', "brand": "' ||
                         {json_escape_free_text_sql('p_brand')} || '"}}'
                    ELSE '' END ||
               ', "tags": ["t0", "t' || p_partkey % 3 || '"]}}' AS js
        FROM part
        WHERE {finite_measure_sql('p_retailprice')}
    )
    SELECT p_partkey,
           CAST(json_extract(js, '$.id') AS BIGINT) AS id,
           CAST(json_extract(js, '$.price') AS DOUBLE) AS price,
           CAST(json_extract(js, '$.attrs.size') AS BIGINT) AS attr_size,
           json_extract_string(js, '$.attrs.brand') AS brand,
           json_extract_string(js, '$.tags[1]') AS tag1
    FROM payload
    """,
)
def variant_semistructured_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless semi-structured access via Spark 4's VARIANT type:
    heterogeneous JSON (rows missing whole sub-objects) is parsed
    once with ``parse_json`` and fields pulled with typed
    ``variant_get`` paths — nested objects, array indexing, absent
    paths → null. The shredded-on-read path for payloads whose schema
    is unknown or drifting (from_json's fixed StructType, the S4/F10
    route, covers the known-schema case); at scale the variant binary
    encodes once and every extraction is JVM-side. NaN retail
    prices template no payload (NaN-fuzz aligned)."""
    p = load_table(spark, sf_dir, "part").filter(
        finite_measure("p_retailprice")
    )
    # Brand is free text: the shared json_escape_free_text boundary
    # (functions/text.py) strips C0 controls then JSON-escapes — one
    # quoted brand makes the payload malformed (parse_json throws),
    # and one raw 0x0B made FAILFAST parse_json kill the job
    # (textuni-fuzz finding). Identical chain in the oracle template.
    esc = json_escape_free_text(F.col("p_brand"))
    js = F.concat(
        F.lit('{"id": '), F.col("p_partkey").cast("string"),
        F.lit(', "price": '), F.floor("p_retailprice").cast("long").cast("string"),
        F.lit(".50"),
        F.when(
            F.pmod("p_partkey", F.lit(4)) != 0,
            F.concat(
                F.lit(', "attrs": {"size": '),
                F.pmod("p_partkey", F.lit(50)).cast("string"),
                F.lit(', "brand": "'), esc, F.lit('"}'),
            ),
        ).otherwise(F.lit("")),
        F.lit(', "tags": ["t0", "t'),
        F.pmod("p_partkey", F.lit(3)).cast("string"),
        F.lit('"]}'),
    )
    v = p.select("p_partkey", F.parse_json(js).alias("v"))
    return v.select(
        "p_partkey",
        F.expr("variant_get(v, '$.id', 'long')").alias("id"),
        F.expr("variant_get(v, '$.price', 'double')").alias("price"),
        F.expr("variant_get(v, '$.attrs.size', 'long')").alias("attr_size"),
        F.expr("variant_get(v, '$.attrs.brand', 'string')").alias("brand"),
        F.expr("variant_get(v, '$.tags[1]', 'string')").alias("tag1"),
    )


@register(
    "winsorized_price_stats",
    f"""
    WITH cuts AS (
        SELECT l_returnflag AS flag,
               CAST(quantile_cont(l_extendedprice, 0.01) AS DOUBLE) AS lo,
               CAST(quantile_cont(l_extendedprice, 0.99) AS DOUBLE) AS hi
        FROM lineitem
        WHERE {finite_measure_sql('l_extendedprice')}
        GROUP BY flag
    )
    SELECT b.l_returnflag AS flag, count(*) AS n_rows,
           CAST(sum(CASE WHEN b.l_extendedprice < c.lo OR b.l_extendedprice > c.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(sum(CAST(floor(
               CASE WHEN b.l_extendedprice < c.lo THEN c.lo
                    WHEN b.l_extendedprice > c.hi THEN c.hi
                    ELSE b.l_extendedprice END * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS winsorized_sum_cents
    FROM (SELECT * FROM lineitem
          WHERE {finite_measure_sql('l_extendedprice')}) b JOIN cuts c ON b.l_returnflag = c.flag
    GROUP BY b.l_returnflag
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (outlier clipping at per-group p01/p99): the
    robust-statistics companion to the z-score flags — aggregate
    AFTER clamping to the percentile cuts so a handful of broken
    scrapes cannot move the total. Cuts come from one percentile
    aggregate (groups-sized, broadcast back); sums are exact cents of
    the clamped values."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
    )
    cuts = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.percentile("l_extendedprice", F.lit(0.01)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("hi"),
    )
    p = F.col("l_extendedprice")
    clamped = F.when(p < F.col("lo"), F.col("lo")).when(p > F.col("hi"), F.col("hi")).otherwise(p)
    clipped = ((p < F.col("lo")) | (p > F.col("hi"))).cast("long")
    return (
        li.join(F.broadcast(cuts), li["l_returnflag"] == cuts["flag"])
        .groupBy("flag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(clipped).alias("n_clipped"),
            F.sum(F.floor(clamped * 100 + F.lit(0.5)).cast("long")).alias(
                "winsorized_sum_cents"
            ),
        )
    )


@register(
    "chisq_flag_status_independence",
    """
    WITH o AS (
        SELECT l_returnflag AS flag, l_linestatus AS status,
               count(*)::BIGINT AS obs
        FROM lineitem
        -- cells for missing categories have no defined expectation
        WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        GROUP BY flag, status
    ), tot AS (
        SELECT sum(obs) AS n FROM o
    ), marg AS (
        SELECT o.flag, o.status, o.obs,
               (SELECT sum(obs) FROM o o2 WHERE o2.flag = o.flag) AS row_tot,
               (SELECT sum(obs) FROM o o2 WHERE o2.status = o.status) AS col_tot
        FROM o
    )
    SELECT flag, status, obs,
           round(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                 / CAST(tot.n AS DOUBLE) + 1e-9, 6) AS expected,
           round((CAST(obs AS DOUBLE) - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                  / CAST(tot.n AS DOUBLE))
                 * (CAST(obs AS DOUBLE) - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                    / CAST(tot.n AS DOUBLE))
                 / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(tot.n AS DOUBLE))
                 + 1e-9, 6) AS chi2_term
    FROM marg, tot
    """,
)
def chisq_flag_status_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test terms for the returnflag x
    linestatus contingency table: observed counts, expected under
    independence (row_total * col_total / n), and each cell's
    (o - e)^2 / e contribution — sum the terms for the statistic.
    All inputs are exact integer counts, so expected values and
    terms are deterministic doubles; the contingency table is
    cells-sized (broadcast scale) no matter how large the fact
    table. NULL flag/status rows are missing categories with no
    defined expectation and are excluded (the margin joins would
    silently drop them on one engine and NaN them on the other —
    null-fuzz aligned)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull() & F.col("l_linestatus").isNotNull()
    )
    o = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status")
    ).agg(F.count("*").alias("obs"))
    row = o.groupBy("flag").agg(F.sum("obs").alias("row_tot"))
    col = o.groupBy("status").agg(F.sum("obs").alias("col_tot"))
    tot = o.agg(F.sum("obs").alias("n"))
    e = F.col("row_tot").cast("double") * F.col("col_tot").cast("double") / F.col("n").cast(
        "double"
    )
    d = F.col("obs").cast("double") - e
    return (
        o.join(F.broadcast(row), "flag")
        .join(F.broadcast(col), "status")
        .crossJoin(F.broadcast(tot))
        .select(
            "flag",
            "status",
            "obs",
            F.round(e + 1e-9, 6).alias("expected"),
            F.round(d * d / e + 1e-9, 6).alias("chi2_term"),
        )
    )
