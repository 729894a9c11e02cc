"""Scalar-function queries (SURVEY.md §2.8): dates, JSON, strings,
URL→domain, price-status CASE chains — all columnar, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import (
    finite_measure,
    finite_measure_sql,
    price_status,
    price_status_sql,
    selected_price,
    selected_price_sql,
)
from htmlentityextraction_spark.functions.text import get_domain, shrink_string, text_only
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


# --- F15: date parse/truncate + daily rollup ---
@register(
    "date_trunc_daily_events",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           count(*) AS n,
           -- corrupt values (not finite_measure) are excluded from the
           -- rollup, not from the event count; all-corrupt group -> NULL
           floor(sum(CASE WHEN {finite_measure_sql('value')}
                          THEN value END) * 100 + 0.5) / 100 AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def date_trunc_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: ISO date parse + truncate-to-day
    `streaming/Htmls2Cassandra.scala:241`, `analytics/Hotspots.scala:30-33`.
    The day is emitted as a yyyy-MM-dd STRING: Spark DATE and DuckDB
    date_trunc TIMESTAMP stringify differently in the driver's pandas
    canon ('2024-01-18' vs '2024-01-18 00:00:00')."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.sum(F.when(finite_measure("value"), F.col("value"))) * 100 + 0.5) / 100)
        .alias("total_value"),
    )


# --- F16: relative date window (today - N days vs data max) ---
@register(
    "relative_date_window",
    """
    SELECT event_type, count(*) AS n_recent
    FROM events
    WHERE ts > (SELECT max(ts) - INTERVAL 2 DAY FROM events)
    GROUP BY event_type
    """,
)
def relative_date_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: today−N-days filters `utils/Utils.scala:462-470`,
    `analytics/CalcIndices.scala:58-64` — anchored to max(ts) so the
    query is deterministic; expressed as a scalar-subquery cross join
    (broadcast, no shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg((F.max("ts") - F.expr("INTERVAL 2 DAY")).alias("cutoff"))
    return (
        ev.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts") > F.col("cutoff"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_recent"))
    )


# --- F10: JSON extraction ---
@register(
    "json_extract_props",
    """
    WITH j AS (
        SELECT event_type,
               CASE WHEN json_valid(props)
                    THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
               END AS k
        FROM events
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(k) AS BIGINT) AS k_total,
           max(k) AS k_max
    FROM j GROUP BY event_type
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: JSON↔map round-trips `utils/Utils.scala:173-176,387-406`
    → get_json_object (no full parse, pushdown-friendly)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("k_total"),
        F.max(k).alias("k_max"),
    )


# --- F4/F5/F9 + fingerprint: string normalization pipeline ---
@register(
    "string_normalize_fingerprint",
    """
    SELECT doc_id,
           length(regexp_replace(regexp_replace(regexp_replace(text,
                 '[ \t]{3,}', ' ', 'g'),
                 '(?<=[0-9]),(?=[0-9])', '', 'g'),
                 '[\t\n\r,]', '', 'g')) AS shrunk_len,
           md5(lower(trim(regexp_replace(regexp_replace(text,
                 '[^A-Za-z]+', ' ', 'g'), ' +', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def string_normalize_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: shrinkString `utils/Utils.scala:208-210`, textOnly
    `utils/Utils.scala:64-66`; fingerprint = md5 of the normalized text
    (the rebuild's exact-dedup key for the documents pipeline)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(shrink_string(F.col("text"))).cast("long").alias("shrunk_len"),
        F.md5(F.lower(F.trim(text_only(F.col("text"))))).alias("fingerprint"),
    )


# --- F8: URL → domain ---
@register(
    "url_domain_extract",
    """
    WITH u AS (
        -- || (not concat()): NULL source/lang must nullify the whole
        -- url, matching Spark's F.concat — the unbuildable-url row
        -- then takes the reference's failed.com fallback on BOTH
        -- engines (null-fuzz aligned; duck concat() skips NULLs)
        SELECT 'http://www.' || source || '.shop-' || lang || '.com/doc/' || doc_id AS url
        FROM documents
    ), h AS (
        -- validity mirrors java.net.URI's hostname grammar (what
        -- Spark's try_parse_url enforces): dot-separated alnum labels
        -- with inner hyphens only — spaces, non-ASCII, underscores,
        -- empty labels, edge hyphens all fail to parse and take the
        -- reference's failed.com fallback (text-fuzz aligned)
        SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host FROM u
    )
    SELECT CASE WHEN host IS NULL
                  OR NOT regexp_matches(host,
                     '^[A-Za-z0-9]([A-Za-z0-9-]*[A-Za-z0-9])?(\\.[A-Za-z0-9]([A-Za-z0-9-]*[A-Za-z0-9])?)*$')
                THEN 'www.failed.com'
           ELSE regexp_replace(host, '^www\\.', '') END AS domain,
           count(*) AS n_docs
    FROM h GROUP BY 1
    """,
)
def url_domain_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: getDomain host-parse + www-strip + failed.com fallback
    `utils/Utils.scala:359-375`. Spark side uses parse_url (JVM URI
    parse, same as the reference); oracle mirrors with a regex."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://www."),
        F.col("source"),
        F.lit(".shop-"),
        F.col("lang"),
        F.lit(".com/doc/"),
        F.col("doc_id"),
    )
    return docs.select(get_domain(url).alias("domain")).groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --- F13/F14: status derivation + price reconciliation CASE ---
@register(
    "price_status_reconcile",
    f"""
    WITH msgs AS (
        SELECT l_orderkey AS msg_id,
               CASE WHEN l_orderkey % 11 = 0 THEN -1.0
                    WHEN l_orderkey % 11 = 1 THEN -2.0
                    WHEN l_orderkey % 11 = 2 THEN l_extendedprice + 0.001
                    WHEN l_orderkey % 11 = 3 THEN l_extendedprice * 1.05
                    WHEN l_orderkey % 11 = 4 THEN l_extendedprice * 1.5
                    ELSE l_extendedprice END AS model_price,
               CASE WHEN l_orderkey % 13 = 0 THEN 0.0
                    ELSE l_extendedprice END AS updated_price
        FROM lineitem WHERE l_linenumber = 1
    ), statused AS (
        SELECT msg_id, model_price, updated_price,
               {price_status_sql('model_price', 'updated_price')} AS issue
        FROM msgs
    )
    SELECT msg_id, issue,
           round({selected_price_sql('issue', 'model_price', 'updated_price')} + 1e-9, 2) AS selected_price
    FROM statused
    """,
)
def price_status_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: status truth table `streaming/Htmls2Cassandra.scala:183-227`
    + price CASE `utils/Utils.scala:408-432`. Model/pattern prices are
    fabricated deterministically from lineitem to exercise every branch."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    mod = F.col("l_orderkey") % 11
    model_price = (
        F.when(mod == 0, -1.0)
        .when(mod == 1, -2.0)
        .when(mod == 2, F.col("l_extendedprice") + 0.001)
        .when(mod == 3, F.col("l_extendedprice") * 1.05)
        .when(mod == 4, F.col("l_extendedprice") * 1.5)
        .otherwise(F.col("l_extendedprice"))
    )
    updated_price = F.when(F.col("l_orderkey") % 13 == 0, 0.0).otherwise(
        F.col("l_extendedprice")
    )
    msgs = li.select(
        F.col("l_orderkey").alias("msg_id"),
        model_price.alias("model_price"),
        updated_price.alias("updated_price"),
    )
    statused = msgs.withColumn(
        "issue", price_status(F.col("model_price"), F.col("updated_price"))
    )
    return statused.select(
        "msg_id",
        "issue",
        F.round(
            selected_price(F.col("issue"), F.col("model_price"), F.col("updated_price")) + 1e-9, 2
        ).alias("selected_price"),
    )


# --- F7: char n-grams (columnar, no UDF) + top-k ---
@register(
    "char_ngrams_topk",
    """
    WITH grams AS (
        SELECT unnest(list_transform(
                   generate_series(2, length(substring(text, 1, 120)) - 4),
                   i -> substring(substring(text, 1, 120), i, 4))) AS gram
        FROM documents
    )
    SELECT gram, count(*) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram LIMIT 20
    """,
)
def char_ngrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: gramsByN char n-grams `utils/Utils.scala:40-52` (with
    its off-by-one kept — see functions.text.char_ngrams) + top-k.
    sequence/transform/explode stays entirely JVM-side; at 100 TB the
    pre-truncation (first 120 chars) is the same early-reduction trick
    the reference uses via shrinkString."""
    from htmlentityextraction_spark.functions.text import char_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(char_ngrams(F.substring(F.col("text"), 1, 120), 4)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(20)
    )


# --- F6: tokenization + counts ---
@register(
    "tokenize_token_stats",
    """
    SELECT doc_id,
           len(string_split_regex(trim(regexp_replace(regexp_replace(text,
               '[^A-Za-z]+', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS n_tokens,
           len(list_distinct(string_split_regex(trim(regexp_replace(regexp_replace(text,
               '[^A-Za-z]+', ' ', 'g'), ' +', ' ', 'g')), ' '))) AS n_distinct_tokens
    FROM documents
    """,
)
def tokenize_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: tokenazer `utils/Utils.scala:57-59` (textOnly + split)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(text_only(F.col("text"))), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )
