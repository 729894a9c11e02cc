"""Canonical typed schemas (SURVEY.md §1, FIXTURES.md).

The reference flows `Map[String,String]` everywhere and parses on use
(`utils/Utils.scala:377-406`); the rebuild fixes ONE typed schema per
message family and parses at the boundary with `from_json` + a
corrupt-record column, so every downstream operator sees typed
columns and nulls instead of string maps and try/catch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# FIXTURES.md §1 — the "BigMessage" page payload
PAGE_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("html", T.StringType()),
        T.StructField("patternsHtml", T.StringType()),
        T.StructField("patternsText", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("updatedPrice", T.DoubleType()),
        T.StructField("shipping", T.DoubleType()),
        T.StructField("prodId", T.StringType()),
        T.StructField("domain", T.StringType()),
        T.StructField("lastScrapedTime", T.TimestampType()),
        T.StructField("lastUpdatedTime", T.TimestampType()),
        # enrichment (nullable until scoring)
        T.StructField("modelPrice", T.DoubleType()),
        T.StructField("issue", T.StringType()),
        T.StructField("errorMessage", T.StringType()),
    ]
)

# FIXTURES.md §2 — exploded candidate rows (extraction output)
PRICE_CANDIDATE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("candidate", T.StringType()),
        T.StructField("location", T.IntegerType()),
        T.StructField("text_before", T.StringType()),
        T.StructField("text_after", T.StringType()),
        T.StructField("page_length", T.IntegerType()),
    ]
)

# FIXTURES.md §3 — price history observations
HISTORICAL_PRICE_SCHEMA = T.StructType(
    [
        T.StructField("sys_prod_id", T.LongType()),
        T.StructField("store_id", T.LongType()),
        T.StructField("tmsp", T.TimestampType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def parse_page_messages(raw: DataFrame) -> DataFrame:
    """Kafka-boundary parse: bytes/string JSON ``value`` → typed columns +
    `is_corrupt` flag (the reference's try/catch-null-filter,
    `emr/SeedsDistinctS3ToKafka.scala:50-59`, made explicit). Corrupt
    rows keep their payload for the error side output instead of
    vanishing."""
    # PERMISSIVE from_json yields an all-null struct for bad input, so
    # corruption is detected via the dedicated corrupt-record column
    schema_with_corrupt = T.StructType(
        PAGE_MESSAGE_SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = raw.withColumn(
        "__m",
        F.from_json(
            F.col("value").cast("string"),
            schema_with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    return parsed.select(
        *[F.col(f"__m.{f.name}") for f in PAGE_MESSAGE_SCHEMA.fields],
        F.col("value").cast("string").alias("raw_payload"),
        F.col("__m._corrupt_record").isNotNull().alias("is_corrupt"),
    )
