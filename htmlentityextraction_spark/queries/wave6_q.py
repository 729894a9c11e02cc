"""Wave-6 queries: runtime Bloom-filter join pruning, Z-order
clustering economics, exact prefix-filtered set-similarity join,
PMI collocation mining, and two-phase checksum table reconciliation.

Each is the 100-TB-shaped version of a need the reference solved
small: broadcast membership lists (`emr/FilterSeeds.scala:34-40`) →
Bloom bit-sets; single-column layout → multi-dimensional Z-order zone
maps; all-pairs similarity → prefix-filtered candidates with exact
verify; ad-hoc token stats (`utils/Utils.scala:344-357`) → PMI
collocations; whole-table delete/re-insert reconciliation
(`emr/SwapIDs.scala:119-244`) → checksum-routed differential diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.bloomjoin import bloom_semi_join
from htmlentityextraction_spark.operators.setjoin import prefix_jaccard_pairs
from htmlentityextraction_spark.operators.tablediff import checksum_diff
from htmlentityextraction_spark.operators.textanalysis import pmi_bigram_collocations
from htmlentityextraction_spark.operators.zorder import (
    scale_to_bits,
    zone_map_scan_report,
    zvalue,
)
from htmlentityextraction_spark.queries.llmdata import _FT
from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.functions.keys import keep_one_per_id
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


@register(
    "bloom_prefilter_join",
    """
    SELECT c.c_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice) + 1e-9, 2) AS revenue
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000 AND {fp}
    GROUP BY c.c_custkey
    """.format(fp=finite_measure_sql("o.o_totalprice")),
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim join with a Bloom-filter runtime pre-filter
    (`operators/bloomjoin.py`): the dim's join keys become a 2^16-bit
    set (1024 longs), the fact side drops non-members via broadcast
    bit tests BEFORE the join shuffle. The oracle is the plain join —
    hash equality proves the Bloom stage admits a superset (no false
    negatives) and the exact join removes the false positives. At
    100 TB this is the pre-shuffle row cut Spark's AQE runtime bloom
    applies, made explicit and composable."""
    customer = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    # corrupt order totals drop at ingestion (ulp-order class)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).filter(finite_measure("o_totalprice"))
    joined = bloom_semi_join(orders, customer, "o_custkey", "c_custkey")
    return joined.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice") + F.lit(1e-9), 2).alias("revenue"),
    )


def _z_sql(a: str, b: str, bits: int) -> str:
    """The Morton-interleave arithmetic as portable SQL — the same
    2*bits shift/mask terms `operators/zorder.zvalue` builds."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) % 2) << {2 * i})")
        terms.append(f"((({b} >> {i}) % 2) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
    WITH s AS (
        SELECT max(o_custkey) AS mx,
               min(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate)) AS dlo,
               max(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate)) AS dhi
        FROM orders
    ), g AS (
        -- least/greatest clamp mirrors operators.zorder.scale_to_bits
        SELECT least(255, greatest(0, CAST(floor(o_custkey * 256 / (mx + 1)) AS BIGINT))) AS a,
               least(255, greatest(0,
                   CAST(floor((date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) - dlo)
                              * 256 / (dhi - dlo + 1)) AS BIGINT))) AS b
        FROM orders CROSS JOIN s
    ), z AS (
        SELECT a, b, {_z_sql('a', 'b', 8)} AS zv FROM g
    ), lin AS (
        SELECT b >> 2 AS bkt, min(a) AS a_min, max(a) AS a_max,
               min(b) AS b_min, max(b) AS b_max, CAST(count(*) AS BIGINT) AS n
        FROM z GROUP BY 1
    ), zo AS (
        SELECT zv >> 10 AS bkt, min(a) AS a_min, max(a) AS a_max,
               min(b) AS b_min, max(b) AS b_max, CAST(count(*) AS BIGINT) AS n
        FROM z GROUP BY 1
    )
    SELECT 'linear' AS layout, CAST(count(*) AS BIGINT) AS buckets_total,
           CAST(sum(CASE WHEN a_max >= 96 AND a_min <= 159
                          AND b_max >= 96 AND b_min <= 159 THEN 1 ELSE 0 END) AS BIGINT)
               AS buckets_scanned,
           CAST(sum(CASE WHEN a_max >= 96 AND a_min <= 159
                          AND b_max >= 96 AND b_min <= 159 THEN n ELSE 0 END) AS BIGINT)
               AS rows_scanned
    FROM lin
    UNION ALL
    SELECT 'zorder', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN a_max >= 96 AND a_min <= 159
                          AND b_max >= 96 AND b_min <= 159 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN a_max >= 96 AND a_min <= 159
                          AND b_max >= 96 AND b_min <= 159 THEN n ELSE 0 END) AS BIGINT)
    FROM zo
"""


@register("zorder_pruning_report", _ZORDER_ORACLE)
def zorder_pruning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified Z-order clustering win (`operators/zorder.py`): map
    orders onto a 256×256 (custkey, order-day) grid, bucket once by
    date (the linear layout) and once by Morton-interleaved z-value,
    build per-bucket min/max zone maps, and report what a 2-D
    predicate (middle quarter of both dims) would scan under each
    layout. The z-layout's buckets are 32×32 tiles, so the 64×64
    query square touches ~4/64 buckets where the date layout touches
    every bucket overlapping the date band with ALL customers in each
    — the measured rows_scanned gap IS the OPTIMIZE ZORDER BY
    argument, and the oracle replays the identical bit arithmetic."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    stats = orders.agg(
        F.max("o_custkey").alias("mx"),
        F.min(day).alias("dlo"),
        F.max(day).alias("dhi"),
    )
    g = orders.crossJoin(F.broadcast(stats)).select(
        scale_to_bits(F.col("o_custkey"), F.lit(0), F.col("mx"), 8).alias("a"),
        scale_to_bits(day, F.col("dlo"), F.col("dhi"), 8).alias("b"),
    )
    g = g.withColumn("zv", zvalue(F.col("a"), F.col("b"), 8))
    lin = zone_map_scan_report(
        g, F.shiftright(F.col("b"), 2), F.col("a"), F.col("b"),
        (96, 159), (96, 159), "linear",
    )
    zo = zone_map_scan_report(
        g, F.shiftright(F.col("zv"), 10), F.col("a"), F.col("b"),
        (96, 159), (96, 159), "zorder",
    )
    return lin.unionAll(zo)


@register(
    "setsim_prefix_join_docs",
    f"""
    WITH t AS (SELECT doc_id, {_FT} AS ft FROM documents),
    bg AS (
        SELECT DISTINCT doc_id AS id,
               list_extract(ft, i) || ' ' || list_extract(ft, i + 1) AS tok
        FROM (SELECT doc_id, ft, unnest(generate_series(1, len(ft) - 1)) AS i
              FROM t WHERE len(ft) >= 2)
    ), sz AS (
        SELECT id, CAST(count(*) AS BIGINT) AS sz FROM bg GROUP BY id
    ), pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        FROM bg a JOIN bg b ON a.tok = b.tok AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b, p.n_shared, sa.sz AS size_a, sb.sz AS size_b,
           p.n_shared / (sa.sz + sb.sz - p.n_shared) AS jaccard
    FROM pairs p
    JOIN sz sa ON sa.id = p.id_a
    JOIN sz sb ON sb.id = p.id_b
    WHERE p.n_shared / (sa.sz + sb.sz - p.n_shared) >= 0.9
    """,
)
def setsim_prefix_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (word-bigram shingle Jaccard ≥
    0.9) via prefix filtering (`operators/setjoin.py`): candidates
    share a token among their rarest ``|x| - ceil(t|x|) + 1`` tokens,
    then exact verification. The oracle is the brute-force all-pairs
    join — hash equality proves the prefix filter's recall is 1.0 (a
    theorem, here machine-checked), while candidate generation joins
    only rare-token blocks. Complements MinHash-LSH: same question,
    exact answer."""
    # fan_out (opt-in scan floor, r12): tokenize + shingle + df-count
    # narrow stages; ABBA measured 5.28 s -> 4.67 s (-12%)
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")
    ft = F.filter(
        F.split(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " +", " "
                )
            ),
            " ",
        ),
        lambda x: x != "",
    )
    n = F.greatest(F.size(ft) - 1, F.lit(0))
    shingles = F.zip_with(
        F.slice(ft, 1, n), F.slice(ft, 2, n), lambda x, y: F.concat(x, F.lit(" "), y)
    )
    toks = docs.select(F.col("doc_id"), shingles.alias("shingles"))
    out = prefix_jaccard_pairs(toks, "doc_id", "shingles", 0.9)
    return out.select(
        F.col("id_a").alias("id_a"),
        F.col("id_b").alias("id_b"),
        "n_shared", "size_a", "size_b", "jaccard",
    )


@register(
    "pmi_collocations",
    f"""
    WITH t AS (SELECT {_FT} AS ft FROM documents),
    bg AS (
        SELECT list_extract(ft, i) AS w1, list_extract(ft, i + 1) AS w2
        FROM (SELECT ft, unnest(generate_series(1, len(ft) - 1)) AS i
              FROM t WHERE len(ft) >= 2)
    ), c12 AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY w1
    ), c2 AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w2
    ), nb AS (
        SELECT CAST(count(*) AS BIGINT) AS nb FROM bg
    )
    SELECT c12.w1, c12.w2, c12.c12,
           round(ln((c12.c12 * nb.nb) / (c1.c1 * c2.c2)) + 1e-9, 6) AS pmi
    FROM c12
    JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN nb
    WHERE c12.c12 >= 5
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    token pairs with a min-count gate
    (`operators/textanalysis.pmi_bigram_collocations`). Bigrams come
    from zipping token arrays with their own tails — a narrow
    transform, no window sort — and the three marginal tables are
    vocabulary-sized broadcasts. The signal a tokenizer-training or
    phrase-mining pipeline computes corpus-wide."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    ft = F.filter(
        F.split(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " +", " "
                )
            ),
            " ",
        ),
        lambda x: x != "",
    )
    toks = docs.select(ft.alias("ft"))
    out = pmi_bigram_collocations(toks, "ft")
    return out.select(
        "w1", "w2", "c12", F.round(F.col("pmi") + F.lit(1e-9), 6).alias("pmi")
    )


@register(
    "table_diff_reconciliation",
    """
    WITH base AS (
        -- keyfuzz r12: a diff tool's contract is PK-unique inputs —
        -- duplicated key rows resolve at the keep_one_per_id
        -- boundary before the checksum/diff (both engines)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, row_number() OVER (PARTITION BY o_orderkey ORDER BY o_custkey DESC NULLS LAST, o_orderstatus DESC NULLS LAST, o_totalprice DESC NULLS LAST, o_orderdate DESC NULLS LAST, o_orderpriority DESC NULLS LAST) AS __rn FROM orders WHERE o_orderkey IS NOT NULL) WHERE __rn = 1
    ), r AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 89 = 3 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM base WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM base WHERE o_orderkey % 83 = 5
    )
    SELECT COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
           CASE WHEN l.o_orderkey IS NULL THEN 'added'
                WHEN r.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM base l FULL JOIN r ON l.o_orderkey = r.o_orderkey
    WHERE l.o_orderkey IS NULL OR r.o_orderkey IS NULL
       OR l.o_custkey <> r.o_custkey OR l.o_orderstatus <> r.o_orderstatus
       OR l.o_totalprice <> r.o_totalprice OR l.o_orderdate <> r.o_orderdate
       OR l.o_orderpriority <> r.o_orderpriority
    """,
)
def table_diff_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase checksum reconciliation
    (`operators/tablediff.checksum_diff`) of the orders table against
    a mutated copy (~1% of keys removed, ~1% repriced, ~1% added):
    per-bucket count+XOR checksums route the row-level full-outer
    join to ONLY the buckets that disagree — at 100 TB the second
    phase reads a sliver of the table instead of shuffling all of it.
    The oracle is the direct full-join diff; hash equality proves the
    checksum routing loses nothing."""
    left = keep_one_per_id(load_table(spark, sf_dir, "orders"), "o_orderkey")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    left = left.select(*cols)
    # The deduped left feeds SIX consumer subtrees (left/right checksum
    # phase + both drill-down sides, right being a 2-branch union over
    # left) — the static plan replays the scan + dedup 24x (plan file:
    # plans/r13/table_diff_reconciliation_before.txt, 24 Scan parquet /
    # 48 WindowGroupLimit). Materialize the dedup ONCE (optimization
    # r13, guide §5.1); localCheckpoint, not persist: an in-query
    # persist left at return is plan-keyed and would be re-hit by the
    # next bench invocation (cross-run caching — forbidden), while a
    # localCheckpoint is per-run by construction. Stats erasure is
    # harmless here: the only broadcast below is explicitly hinted.
    left = left.localCheckpoint()
    right = (
        left.where(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 89 == 3, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .select(*cols)
        .unionAll(
            left.where(F.col("o_orderkey") % 83 == 5).select(
                (-F.col("o_orderkey")).alias("o_orderkey"), *cols[1:]
            )
        )
    )
    _, row_diff = checksum_diff(left, right, ["o_orderkey"])
    return row_diff.select("o_orderkey", "change_type")
