"""Wave-13 queries: BM25 full-text ranking and cross-source quantile
normalization.

BM25 completes the IR stack (inverted_index_stats built the index
statistics; doc_tfidf_keywords ranks terms within docs — this ranks
DOCS for a query, the retrieval direction). Quantile normalization is
the distribution-matching step a corpus mixer runs so per-source
quality scores become comparable before thresholding — the same
technique as microarray quantile normalization, built scale-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.queries.llmdata import _FT
from htmlentityextraction_spark.functions.pricing import measure_cents, measure_cents_sql
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table

_BM25_TERMS = ("spark", "join", "window")
_K1, _B = 1.2, 0.75


@register(
    "bm25_doc_ranking",
    f"""
    WITH t AS (
        SELECT doc_id, unnest({_FT}) AS tok FROM documents
    ), dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM t GROUP BY doc_id
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n, avg(len) AS avgdl FROM dl
    ), tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM t
        WHERE tok IN ('spark', 'join', 'window') GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ), scored AS (
        SELECT tf.doc_id,
               sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
                   * tf.tf * ({_K1} + 1)
                   / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.len / stats.avgdl)))
                   AS score
        FROM tf
        JOIN df ON df.tok = tf.tok
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score + 1e-9, 6) AS bm25 FROM scored
    """,
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 document scores for the query {spark, join, window}
    (k1=1.2, b=0.75, Lucene's non-negative idf): per-term tf is
    filtered to the query terms BEFORE any shuffle, so the scoring
    join is query-terms × matching-docs, never the full postings
    list; doc lengths and the corpus constants (N, avgdl) ride a
    one-row broadcast. The oracle replays the identical formula —
    BM25 is the production retrieval baseline a corpus search or
    hard-negative miner needs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
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
    t = docs.select("doc_id", F.explode(ft).alias("tok"))
    dl = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("len").alias("avgdl"))
    tf = (
        t.where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term = idf * F.col("tf") * (_K1 + 1) / (
        F.col("tf") + _K1 * (1 - _B + _B * F.col("len") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term).alias("score"))
    )
    return scored.select("doc_id", F.round(F.col("score") + F.lit(1e-9), 6).alias("bm25"))


@register(
    "quantile_normalize_chars_by_source",
    """
    WITH d AS (SELECT doc_id, source, n_chars FROM documents
               WHERE n_chars IS NOT NULL),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    pooled AS (
        SELECT n_chars AS v,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rn
        FROM d
    ), p AS (
        SELECT doc_id, source, n_chars,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS pr
        FROM d
    ), tgt AS (
        SELECT p.doc_id, p.source, p.n_chars,
               CAST(floor(p.pr * (nn.n - 1) + 0.5) AS BIGINT) + 1 AS r
        FROM p CROSS JOIN nn
    )
    SELECT t.doc_id, t.source, t.n_chars,
           CAST(pooled.v AS BIGINT) AS normalized_chars
    FROM tgt t JOIN pooled ON pooled.rn = t.r
    """,
)
def quantile_normalize_chars_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of document length: each
    doc's within-source percent-rank is mapped onto the POOLED
    length distribution's order statistic at the same rank, so every
    source ends up with an identical (pooled-shaped) marginal — the
    step that makes per-source quality thresholds comparable before
    a corpus mix. Deterministic tie-breaks (doc_id) on both windows;
    the pooled order-statistic table joins by integer rank (equi
    join). Scale note: the exact pooled ranking shown here is
    oracle-exact for the gate; at 100 TB the pooled side becomes an
    approx_percentile grid (a few hundred rows broadcast) with
    identical plumbing."""
    # NULL n_chars has no rank (Spark windows sort NULLS FIRST on ASC,
    # DuckDB NULLS LAST — the datenull ordering class on the INT axis;
    # intedge-fuzz finding r11): missing lengths are excluded, every
    # non-NULL int (zero, negative, width-extreme) sorts identically.
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select("doc_id", "source", "n_chars")
    )
    nn = d.agg(F.count(F.lit(1)).alias("n"))
    pooled = d.select(
        F.col("n_chars").alias("v"),
        F.row_number().over(Window.orderBy("n_chars", "doc_id")).alias("rn"),
    )
    p = d.withColumn(
        "pr",
        F.percent_rank().over(
            Window.partitionBy("source").orderBy("n_chars", "doc_id")
        ),
    )
    tgt = p.crossJoin(F.broadcast(nn)).select(
        "doc_id", "source", "n_chars",
        (F.floor(F.col("pr") * (F.col("n") - 1) + 0.5) + 1).cast("long").alias("r"),
    )
    return tgt.join(pooled, tgt["r"] == pooled["rn"]).select(
        "doc_id", "source", "n_chars", F.col("v").cast("long").alias("normalized_chars")
    )


_LATERAL_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM {customer} c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
    WHERE c.c_custkey % 4 = 1
"""


@register("sql_lateral_topn_per_customer", _LATERAL_SQL.format(customer="customer", orders="orders"))
def sql_lateral_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL-surface parity (S10 upgraded): the top-3 orders per
    customer as a correlated LATERAL subquery with ORDER BY/LIMIT,
    executed by Spark SQL over the customer and orders frames, passed
    as ``spark.sql`` arguments so no caller's view is replaced — the
    IDENTICAL SQL text runs on both engines, with the table names
    filled in for DuckDB (the one query here whose oracle string IS
    its implementation). Catalyst rewrites the lateral into a ranked
    window join, so the per-group top-n costs one shuffle — asserted
    equivalent to the window formulation used across the windows
    family."""
    return spark.sql(
        _LATERAL_SQL,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "pareto_revenue_concentration",
    f"""
    WITH r AS (
        SELECT o_custkey,
               sum({measure_cents_sql('o_totalprice')}) AS cents
        FROM orders GROUP BY o_custkey
    ), t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS n FROM r),
    c AS (
        SELECT o_custkey, cents,
               sum(cents) OVER (ORDER BY cents DESC, o_custkey) AS cum
        FROM r
    )
    SELECT CAST(count(*) AS BIGINT) AS top_customers,
           (SELECT n FROM t) AS all_customers,
           round(CAST(count(*) AS DOUBLE) / (SELECT n FROM t) + 1e-9, 6)
               AS customer_share,
           round(CAST(max(thresh_cum) AS DOUBLE) / (SELECT tot FROM t) + 1e-9, 6)
               AS revenue_share
    FROM (
        SELECT cum AS thresh_cum FROM c CROSS JOIN t
        WHERE cum - cents < CAST(0.8 * tot AS BIGINT)
    )
    """,
)
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 concentration: the smallest customer set (by
    descending revenue) covering ≥80% of total revenue — the
    concentration diagnostic behind account prioritization and
    revenue-risk reporting. A customer is in the set iff the
    cumulative revenue BEFORE them is still under the 80% line
    (exact integer cents, deterministic tie-break), so the answer is
    one ranked window over the customer-domain aggregate plus a
    scalar broadcast — no iteration, no collect."""
    orders = load_table(spark, sf_dir, "orders")
    r = orders.groupBy("o_custkey").agg(
        F.sum(measure_cents("o_totalprice")).alias("cents")
    )
    t = r.agg(F.sum("cents").alias("tot"), F.count(F.lit(1)).alias("n"))
    c = r.withColumn("cum", F.sum("cents").over(
        Window.orderBy(F.desc("cents"), F.asc("o_custkey")).rowsBetween(
            Window.unboundedPreceding, 0
        )
    ))
    picked = c.crossJoin(F.broadcast(t)).where(
        F.col("cum") - F.col("cents") < (F.lit(0.8) * F.col("tot")).cast("long")
    )
    return picked.agg(
        F.count(F.lit(1)).alias("top_customers"),
        F.first("n").alias("all_customers"),
        F.round(F.count(F.lit(1)).cast("double") / F.first("n") + F.lit(1e-9), 6).alias(
            "customer_share"
        ),
        F.round(F.max("cum").cast("double") / F.first("tot") + F.lit(1e-9), 6).alias(
            "revenue_share"
        ),
    )
