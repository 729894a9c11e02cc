"""Candidate-extraction queries (SURVEY.md §2.8 F1-F3/F12, §7 M3).

The UDTF's positional-regex semantics aren't SQL-expressible, so the
oracle strategy is construction: build deterministic html from the
orders table, run the REAL extraction UDTF on it, and have DuckDB
compute the expected candidates analytically (prefix lengths are known
in closed form). The 710.00 golden case and the filter truth table
live in tests/test_extraction.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import extraction as ex
from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.functions.keys import valid_id
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic page table: three templates keyed by o_orderkey % 3 —
    currency-marked price (kept), bare number (rejected: no currency or
    'price' text in snippet), Price-text-marked (kept). Orders with a
    NULL o_totalprice would template a NULL page — no page, no
    candidates — so they are dropped here and in every page oracle
    (null-fuzz hardened)."""
    # keyfuzz r12: o_orderkey IS the url — an identity — so the page
    # fixture dedupes duplicate source rows deterministically (drop
    # NULL keys, keep max price; same boundary as the merge family)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(valid_id("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.max("o_totalprice").alias("o_totalprice"))
        .filter(finite_measure("o_totalprice"))
    )
    k = F.col("o_orderkey").cast("string")
    # floor→bigint→string is deterministic across Spark and DuckDB
    # (double→int casts round differently between the two)
    p2 = F.concat(F.floor("o_totalprice").cast("bigint").cast("string"), F.lit(".99"))
    bucket = F.pmod("o_orderkey", F.lit(3))
    html = (
        F.when(bucket == 0, F.concat(F.lit("id "), k, F.lit(" cost $"), p2, F.lit(" today")))
        .when(bucket == 1, F.concat(F.lit("id "), k, F.lit(" value "), p2, F.lit(" today")))
        .otherwise(F.concat(F.lit("id "), k, F.lit(" Price: "), p2, F.lit(" today")))
    )
    return orders.select(k.alias("url"), html.alias("html"))


@register(
    "price_candidate_extraction",
    f"""
    WITH o AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS url,
               CAST(o_orderkey AS VARCHAR) AS k,
               CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) || '.99' AS p2,
               o_orderkey % 3 AS bucket
        FROM (SELECT o_orderkey, max(o_totalprice) AS o_totalprice
              FROM orders WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
        WHERE {finite_measure_sql('o_totalprice')}
    )
    SELECT url,
           p2 AS candidate,
           CAST(length(k) + CASE WHEN bucket = 0 THEN 10 ELSE 11 END AS INTEGER) AS location,
           CASE WHEN bucket = 0 THEN 'id ' || k || ' cost $'
                ELSE 'id ' || k || ' Price: ' END AS text_before,
           ' today' AS text_after,
           CAST(length(k) + CASE WHEN bucket = 0 THEN 10 ELSE 11 END
                + length(p2) + 6 AS INTEGER) AS page_length
    FROM o
    WHERE bucket <> 1
    """,
)
def price_candidate_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF over constructed pages; the 'id <k> ' number is rejected by
    the no-separator rule, the bare-number template by the
    currency/price-text rule — DuckDB enumerates the survivors."""
    return ex.extract_candidates(_pages(spark, sf_dir), snippet_size=150)


@register(
    "candidate_labeling",
    f"""
    WITH o AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS url,
               CAST(o_orderkey AS VARCHAR) AS k,
               CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) || '.99' AS p2,
               CAST(floor(o_totalprice) AS DOUBLE) + 0.99 AS truth_price,
               o_orderkey % 3 AS bucket, o_orderkey % 2 AS flip
        FROM (SELECT o_orderkey, max(o_totalprice) AS o_totalprice
              FROM orders WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
        WHERE {finite_measure_sql('o_totalprice')}
    )
    SELECT url, p2 AS candidate,
           CAST(flip = 0 AS BOOLEAN) AS label,
           round(CAST(length(k) + CASE WHEN bucket = 0 THEN 10 ELSE 11 END AS DOUBLE)
                 / (length(k) + CASE WHEN bucket = 0 THEN 10 ELSE 11 END
                    + length(p2) + 6) + 1e-9, 6) AS norm_location
    FROM o
    WHERE bucket <> 1
    """,
)
def candidate_labeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isTrueCandid labeling (`utils/Utils.scala:115-121`): half the
    pages carry a matching truth price (label true), half a shifted one
    (label false); norm_location = offset / page length."""
    pages = _pages(spark, sf_dir)
    cand = ex.extract_candidates(pages, snippet_size=150)
    truth_price = F.floor("o_totalprice").cast("double") + F.lit(0.99)
    flip = F.pmod("o_orderkey", F.lit(2))
    truth = (
        load_table(spark, sf_dir, "orders")
        .filter(valid_id("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.max("o_totalprice").alias("o_totalprice"))
    ).select(
        F.col("o_orderkey").cast("string").alias("url"),
        F.when(flip == 0, truth_price).otherwise(truth_price + 1.0).alias("price"),
        F.when(flip == 0, truth_price).otherwise(truth_price + 1.0).alias("updated_price"),
    )
    labeled = ex.label_candidates(cand, truth)
    return labeled.select(
        "url",
        "candidate",
        "label",
        F.round(F.col("norm_location") + 1e-9, 6).alias("norm_location"),
    )
