"""Batch analytics suite (SURVEY.md §7 M5): the reference's
Cassandra/MySQL analytics jobs re-expressed over the TPC-H surrogates.

Surrogate mapping (consistent across the suite): supplier = store /
web domain, part = product, lineitem = price observation
(l_extendedprice = pattern price, discounted price = model price),
l_shipdate = observation time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.keys import keep_one_per_id
from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.functions.temporal import (
    valid_date_axis,
    valid_date_axis_sql,
)
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "bad_domain_analysis",
    f"""
    WITH obs AS (
        SELECT l_suppkey AS domain, l_partkey AS prodid,
               l_extendedprice AS pattern_price,
               l_extendedprice * (1 - l_discount) AS model_price,
               l_shipdate
        FROM lineitem
        WHERE {finite_measure_sql('l_extendedprice')}
          AND {finite_measure_sql('l_discount')}
    ), seeds AS (
        SELECT domain, count(*) AS num_seeds FROM obs GROUP BY domain
    ), avg_prices AS (
        SELECT domain, prodid,
               avg(model_price) AS avg_model, avg(pattern_price) AS avg_pattern
        FROM obs GROUP BY domain, prodid
    ), rt AS (
        SELECT domain, prodid, pattern_price AS rt_price FROM (
            SELECT domain, prodid, pattern_price,
                   row_number() OVER (PARTITION BY domain, prodid
                       ORDER BY l_shipdate DESC, pattern_price DESC) AS rn
            FROM obs) WHERE rn = 1
    ), bad AS (
        SELECT a.domain FROM avg_prices a JOIN rt r
          ON a.domain = r.domain AND a.prodid = r.prodid
        WHERE a.avg_model < r.rt_price * 0.93 OR a.avg_model > r.rt_price * 1.07
    )
    SELECT b.domain AS domain, count(*) AS num_bad_seeds, s.num_seeds AS num_seeds
    FROM bad b JOIN seeds s ON b.domain = s.domain
    GROUP BY b.domain, s.num_seeds
    """,
)
def bad_domain_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BadDomAnal (`analysis/BadDomAnal.scala:47-93`): per-(domain,
    product) average model vs latest pattern price, threshold band
    filter (the reference's 0.7/1.3 band widened to 0.93/1.07 so the
    discount distribution yields both bad and good rows), bad-seed
    counts joined with seed totals. The aggregate-of-aggregate join
    (J4) is executed as one two-level aggregation — same result, one
    scan, no join (optimization r12; see the inline note)."""
    # Non-finite price/discount observations are corrupt input and are
    # dropped at ingestion (fold-audit gate, r12): avg(model_price) is
    # an order-sensitive float fold, and one ±5e307 row summed in
    # different partial-aggregation orders flips the band filter —
    # the same class as the r10 autocorrelation finding.
    obs = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice") & finite_measure("l_discount")
    ).select(
        F.col("l_suppkey").alias("domain"),
        F.col("l_partkey").alias("prodid"),
        F.col("l_extendedprice").alias("pattern_price"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("model_price"),
        "l_shipdate",
    )
    # Optimization r12 (guide §2.4): the reference shape — three
    # aggregations over the same scan (seeds, avg_prices, rt) glued by
    # two joins — collapses into ONE two-level aggregation: level 1
    # computes avg_model, the latest pattern price, and the group's
    # row count per (domain, prodid) in a single pass; level 2 rolls
    # both the bad-seed indicator and the seed total up to the domain.
    # num_seeds ≡ sum of per-(domain,prodid) counts (exact, integer);
    # num_bad_seeds ≡ count of band-violating (domain,prodid) groups;
    # domains with zero bad groups drop — the old inner join from the
    # bad side did exactly that. avg_model per group is the same
    # single-group float fold as before (same partial-agg tree), so
    # the value — and the band comparison — is bit-identical. The
    # DuckDB oracle above still spells the three-agg two-join form;
    # hash equality pins the equivalence.
    per_pp = obs.groupBy("domain", "prodid").agg(
        F.avg("model_price").alias("avg_model"),
        F.max_by("pattern_price", F.struct("l_shipdate", "pattern_price")).alias("rt_price"),
        F.count("*").alias("n_obs"),
    )
    is_bad = (
        (F.col("avg_model") < F.col("rt_price") * 0.93)
        | (F.col("avg_model") > F.col("rt_price") * 1.07)
    )
    return (
        per_pp.groupBy("domain")
        .agg(
            F.sum(is_bad.cast("long")).alias("num_bad_seeds"),
            F.sum("n_obs").alias("num_seeds"),
        )
        .filter(F.col("num_bad_seeds") >= 1)
        .select("domain", "num_bad_seeds", "num_seeds")
    )


@register(
    "hotspots_hot_level",
    """
    WITH ordered AS (
        SELECT l_partkey AS prodid,
               l_extendedprice AS price,
               lag(l_extendedprice) OVER (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_price
        FROM lineitem
        WHERE {fp} AND {vt}
    ), changes AS (
        SELECT prodid,
               -- CAST: DuckDB sum() over integers yields HUGEINT, which the
               -- driver's pandas canonicalizer coerces to float64 (3 -> 3.0)
               CAST(sum(CASE WHEN prev_price IS NOT NULL AND price <> prev_price
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
        FROM ordered GROUP BY prodid
    )
    SELECT prodid, n_changes,
           CASE WHEN n_changes >= 6 THEN 3
                WHEN n_changes >= 3 THEN 2
                WHEN n_changes >= 1 THEN 1
                ELSE 0 END AS hot_level
    FROM changes
    """.format(fp=finite_measure_sql("l_extendedprice"),
               vt=valid_date_axis_sql("l_shipdate")),
)
def hotspots_hot_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hotspots (`analytics/Hotspots.scala:50-54,110-123`): count real
    price changes per product along its observation history, bucket
    into hot levels (≥6 / 3-5 / 1-2 / 0). One window + one agg — the
    reference materialized four filtered RDD sets; a single bucket
    column prunes to any of them."""
    w = Window.partitionBy("l_partkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    # a corrupt price is not a change observation, and a NULL-dated
    # row has no place in the change ORDER (r10 mixed-interaction
    # finding: NULL-date reordering only shows once prices vary too)
    ordered = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice") & valid_date_axis("l_shipdate")
    ).select(
        F.col("l_partkey").alias("prodid"),
        F.col("l_extendedprice").alias("price"),
        F.lag("l_extendedprice").over(w).alias("prev_price"),
    )
    changes = ordered.groupBy("prodid").agg(
        F.sum(
            (F.col("prev_price").isNotNull() & (F.col("price") != F.col("prev_price"))).cast("long")
        ).alias("n_changes")
    )
    hot = (
        F.when(F.col("n_changes") >= 6, 3)
        .when(F.col("n_changes") >= 3, 2)
        .when(F.col("n_changes") >= 1, 1)
        .otherwise(0)
    )
    return changes.withColumn("hot_level", hot)


@register(
    "automatcher_composite_join",
    """
    WITH keyed AS (
        SELECT p_partkey, p_brand || '||' || p_size AS match_key, p_retailprice
        FROM part
        WHERE {fp}
    )
    SELECT a.match_key AS match_key,
           a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
           round(abs(a.p_retailprice - b.p_retailprice) + 1e-9, 6) AS price_gap
    FROM keyed a JOIN keyed b
      ON a.match_key = b.match_key AND a.p_partkey < b.p_partkey
    """.format(fp=finite_measure_sql("p_retailprice")),
)
def automatcher_composite_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AutoMatcher (`emr/AutoMatcher.scala:57-86`): candidate product
    matches via a composite natural key (store_id||title there,
    brand||size here) — self-equi-join on the derived key. The
    reference hand-partitioned both sides with HashPartitioner; here
    one repartition by the key co-locates both sides and AQE handles
    the skewed popular keys."""
    # a record missing either half of its composite key cannot be
    # matched: concat_ws would silently SKIP a NULL segment (NULL
    # brand + size 33 → key "33", colliding with every other
    # brandless size-33 part), where the oracle's `||` nullifies the
    # whole key — require both halves (null-fuzz seed-11 aligned).
    # Corrupt (non-finite-domain) prices drop at the same boundary:
    # a 2^53-scale price makes the gap's round() ulp-dependent
    # across engines (extreme-fuzz aligned).
    keyed = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isNotNull() & F.col("p_size").isNotNull()
        & finite_measure("p_retailprice")
    ).select(
        "p_partkey",
        F.concat_ws("||", "p_brand", "p_size").alias("match_key"),
        "p_retailprice",
    ).repartition(F.col("match_key"))
    a = keyed.select(
        F.col("match_key"), F.col("p_partkey").alias("partkey_a"),
        F.col("p_retailprice").alias("price_a"),
    )
    b = keyed.select(
        F.col("match_key"), F.col("p_partkey").alias("partkey_b"),
        F.col("p_retailprice").alias("price_b"),
    )
    return (
        a.join(b, "match_key")
        .filter(F.col("partkey_a") < F.col("partkey_b"))
        .select(
            "match_key",
            "partkey_a",
            "partkey_b",
            F.round(F.abs(F.col("price_a") - F.col("price_b")) + 1e-9, 6).alias("price_gap"),
        )
    )


@register(
    "rt2report_competitor_summary",
    """
    SELECT l_partkey AS prodid,
           count(DISTINCT l_suppkey) AS n_competitors,
           round(min(l_extendedprice) + 1e-9, 6) AS min_price,
           round(max(l_extendedprice) + 1e-9, 6) AS max_price,
           round(avg(l_extendedprice) + 1e-9, 6) AS avg_price,
           string_agg(DISTINCT 'S' || l_suppkey, ',' ORDER BY 'S' || l_suppkey) AS competitors
    FROM lineitem
    WHERE {fp}
    GROUP BY l_partkey
    """.format(fp=finite_measure_sql("l_extendedprice")),
)
def rt2report_competitor_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RT2Report (`emr/RT2Report.scala:58-120`): per product, the
    competitor set and price spread. The reference did row-by-row
    point lookups against Cassandra inside mapPartitions (a
    nested-loop join); here it's one shuffle agg with collect_set —
    the J7 → broadcast/shuffle-join rewrite."""
    # fan_out (opt-in scan floor, r12): collect_set + countDistinct do
    # heavy map-side work; ABBA measured 3.43 s -> 2.31 s (-33%)
    li = load_table(spark, sf_dir, "lineitem", fan_out=True).filter(
        finite_measure("l_extendedprice")
    )
    comp = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    # r12: derive n_competitors from the competitor set itself
    # instead of a countDistinct aggregate. A distinct agg mixed
    # with non-distinct aggs plans as TWO shuffles (partial agg on
    # (partkey, suppkey) -> exchange -> merge -> partial distinct
    # count -> exchange on partkey -> final); 'S'||suppkey is
    # injective in suppkey and both forms ignore NULLs, so
    # size(collect_set) is the same number for one exchange and
    # one aggregation level (guide §2.4). The countDistinct legacy
    # arm (kill switch SPARK_GRAFT_RT2_SETCOUNT) was pruned in r13
    # after adjudication; the equivalence proof lives in
    # tests/test_plan_contracts.py, which rebuilds the legacy
    # aggregation inline.
    comps = F.array_sort(F.collect_set(comp))
    return (
        li.groupBy(F.col("l_partkey").alias("prodid"))
        .agg(
            comps.alias("__comps"),
            F.round(F.min("l_extendedprice") + 1e-9, 6).alias("min_price"),
            F.round(F.max("l_extendedprice") + 1e-9, 6).alias("max_price"),
            F.round(F.avg("l_extendedprice") + 1e-9, 6).alias("avg_price"),
        )
        .select(
            "prodid",
            F.size("__comps").cast("long").alias("n_competitors"),
            "min_price",
            "max_price",
            "avg_price",
            F.array_join("__comps", ",").alias("competitors"),
        )
    )


@register(
    "merge_upsert_with_deletes",
    """
    WITH updates AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 3 THEN NULL
                    -- a non-finite/out-of-range source keeps its value
                    -- (Spark floor(NaN)=0; inf*1.1 overflows the cents cast)
                    WHEN NOT {fp} THEN o_totalprice
                    ELSE floor(o_totalprice * 1.1 * 100) / 100 END AS new_price,
               o_orderkey % 10 = 3 AS is_delete
        FROM orders WHERE o_orderkey % 5 IN (1, 3)
    )
    SELECT o.o_orderkey AS o_orderkey,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.new_price
                ELSE o.o_totalprice END AS totalprice,
           CASE WHEN u.o_orderkey IS NOT NULL THEN 'updated' ELSE 'kept' END AS merge_action
    FROM orders o LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
    WHERE u.is_delete IS NULL OR NOT u.is_delete
    """.format(fp=finite_measure_sql("o_totalprice")),
)
def merge_upsert_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K8 upsert + anti-upsert semantics (MySQL `INSERT … ON
    DUPLICATE KEY UPDATE`, Cassandra per-partition DELETE) without a
    transactional table format: MERGE modeled as left join + tombstone
    filter — matched rows take the update, tombstoned keys drop,
    unmatched keep. On Delta this is literally `MERGE INTO … WHEN
    MATCHED THEN UPDATE/DELETE`; the plan shape (one shuffle join on
    the key) is identical."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    updates = (
        orders.filter(F.pmod(k, F.lit(5)).isin(1, 3))
        .select(
            k.alias("u_key"),
            F.when(F.pmod(k, F.lit(10)) == 3, F.lit(None).cast("double"))
            .when(~finite_measure("o_totalprice"), F.col("o_totalprice"))
            .otherwise(F.floor(F.col("o_totalprice") * 1.1 * 100) / 100)
            .alias("new_price"),
            (F.pmod(k, F.lit(10)) == 3).alias("is_delete"),
        )
    )
    merged = orders.join(updates, orders.o_orderkey == updates.u_key, "left")
    return (
        merged.filter(F.col("is_delete").isNull() | ~F.col("is_delete"))
        .select(
            "o_orderkey",
            F.when(F.col("u_key").isNotNull(), F.col("new_price"))
            .otherwise(F.col("o_totalprice"))
            .alias("totalprice"),
            F.when(F.col("u_key").isNotNull(), F.lit("updated"))
            .otherwise(F.lit("kept"))
            .alias("merge_action"),
        )
    )


@register(
    "fuzzy_entity_match",
    """
    WITH roster AS (
        -- keyfuzz r12: the supplier roster is an identity table —
        -- duplicated key rows resolve at keep_one_per_id before
        -- matching (a dup row would emit duplicate match pairs)
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM (SELECT s_suppkey, s_name, s_nationkey, s_acctbal, row_number() OVER (PARTITION BY s_suppkey ORDER BY s_name DESC NULLS LAST, s_nationkey DESC NULLS LAST, s_acctbal DESC NULLS LAST) AS __rn FROM supplier WHERE s_suppkey IS NOT NULL) WHERE __rn = 1
    ), clean AS (
        -- printable-ASCII normalization BEFORE lower: DuckDB's
        -- levenshtein counts BYTES while Spark's counts codepoints
        -- (one astral char = 4 vs 1 edits — pinned engine fact,
        -- textuni-fuzz r11), so edit distance is only cross-engine
        -- comparable over a single-byte alphabet; it also removes the
        -- locale-special casefolds before lower() sees them. No-op on
        -- the clean fixture (names are ASCII).
        SELECT s_suppkey AS clean_id,
               lower(regexp_replace(s_name, '[^ -~]', '', 'g')) AS cname FROM roster
    ), dirty AS (
        SELECT s_suppkey + 10000 AS dirty_id,
               CASE WHEN s_suppkey % 2 = 1
                    THEN lower(regexp_replace(substring(s_name, 1, 3) || substring(s_name, 5),
                               '[^ -~]', '', 'g'))
                    ELSE lower(regexp_replace(s_name, '[^ -~]', '', 'g')) END AS dname
        FROM roster
    )
    SELECT d.dirty_id, c.clean_id,
           CAST(levenshtein(d.dname, c.cname) AS BIGINT) AS dist
    FROM dirty d JOIN clean c ON levenshtein(d.dname, c.cname) <= 1
    """,
)
def fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution on dirty keys (operators/entity.fuzzy_join):
    supplier names with a deterministically dropped character are
    re-matched to the clean roster within edit distance 1 via trigram
    blocking + Levenshtein verification. The oracle is the EXHAUSTIVE
    cross join with the same distance filter, so the hash match
    proves the blocking loses no pair (recall 1.0) while the engine
    never materializes n x m."""
    from htmlentityextraction_spark.operators.entity import fuzzy_join

    # printable-ASCII normalization before lower: DuckDB levenshtein
    # counts BYTES, Spark codepoints (textuni-fuzz pinned fact) —
    # edit distance is only engine-portable over single-byte keys.
    # No-op on the clean fixture.
    ascii_only = lambda c: F.regexp_replace(c, "[^ -~]", "")  # noqa: E731
    sup = keep_one_per_id(load_table(spark, sf_dir, "supplier"), "s_suppkey")
    clean = sup.select(
        F.col("s_suppkey").alias("clean_id"),
        F.lower(ascii_only(F.col("s_name"))).alias("cname"),
    )
    dirty = sup.select(
        (F.col("s_suppkey") + 10000).alias("dirty_id"),
        F.when(
            F.pmod("s_suppkey", F.lit(2)) == 1,
            F.lower(ascii_only(F.concat(F.expr("substring(s_name, 1, 3)"), F.expr("substring(s_name, 5, 10000)")))),
        )
        .otherwise(F.lower(ascii_only(F.col("s_name"))))
        .alias("dname"),
    )
    return fuzzy_join(dirty, clean, "dirty_id", "dname", "clean_id", "cname")


@register(
    "bfs_order_part_neighborhood",
    """
    WITH seed AS (SELECT min(o_orderkey) AS s FROM orders),
    l1 AS (SELECT DISTINCT l_partkey AS p FROM lineitem, seed WHERE l_orderkey = s),
    l2 AS (SELECT DISTINCT l_orderkey AS o FROM lineitem
           WHERE l_partkey IN (SELECT p FROM l1)
             AND l_orderkey <> (SELECT s FROM seed)),
    l3 AS (SELECT DISTINCT l_partkey AS p FROM lineitem
           WHERE l_orderkey IN (SELECT o FROM l2)
             AND l_partkey NOT IN (SELECT p FROM l1))
    SELECT 'order' AS node_type, s AS node_id, CAST(0 AS BIGINT) AS level FROM seed
    UNION ALL SELECT 'part', p, 1 FROM l1
    UNION ALL SELECT 'order', o, 2 FROM l2
    UNION ALL SELECT 'part', p, 3 FROM l3
    """,
)
def bfs_order_part_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS neighborhood of the smallest order over the
    order-part bipartite graph (operators/components.
    bounded_bfs_bipartite): the order's parts, the orders sharing
    them, and those orders' new parts — first-discovery levels. The
    oracle states each level closed-form with NOT-IN dedup, so the
    hash proves the iterative frontier expansion's min-level
    semantics."""
    from htmlentityextraction_spark.operators.components import bounded_bfs_bipartite

    li = load_table(spark, sf_dir, "lineitem")
    # an edge with a NULL endpoint is not an edge: the iterative
    # frontier would carry NULL into the visited set while the
    # oracle's IN-subqueries drop it (keyfuzz r12)
    edges = (
        li.filter(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
        .select(F.col("l_orderkey").alias("u"), F.col("l_partkey").alias("v"))
        .distinct()
    )
    seed = load_table(spark, sf_dir, "orders").agg(F.min("o_orderkey")).first()[0]
    out = bounded_bfs_bipartite(edges, int(seed))
    return out.select(
        F.when(F.col("side") == "u", "order").otherwise("part").alias("node_type"),
        "node_id",
        "level",
    )
