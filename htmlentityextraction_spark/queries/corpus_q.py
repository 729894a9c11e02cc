"""Fused corpus-build pipeline: the LLM-data operators composed
end-to-end in ONE declarative plan —

    mask PII → hard quality gates → exact dedup (keep min id) →
    token chunking → deterministic split assignment

Catalyst fuses the narrow stages (mask/gate/chunk/split are all
projections and filters — one codegen pipeline over the scan); the
only shuffle is the dedup window. The DuckDB oracle recomputes the
identical composition, value-hash-checking the WHOLE pipeline, not
just its stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import dedup as dd
from htmlentityextraction_spark.operators import llmprep as lp
from htmlentityextraction_spark.operators import textclean as tc
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table

_TOKS = (
    "list_filter(string_split_regex(trim(regexp_replace(regexp_replace({c},"
    "'[^A-Za-z]+',' ','g'),' +',' ','g')), ' '), t -> t <> '')"
)
_NORM = "lower(trim(regexp_replace(regexp_replace({c},'[^A-Za-z]+',' ','g'),' +',' ','g')))"


@register(
    "corpus_build_pipeline",
    f"""
    WITH masked AS (
        SELECT doc_id,
               regexp_replace(text, 'https?://[^ \t\n]+', '<URL>', 'g') AS text
        FROM documents
    ), gated AS (
        SELECT doc_id, text, {_TOKS.format(c='text')} AS toks
        FROM masked
        WHERE len({_TOKS.format(c='text')}) >= 5
          AND len({_TOKS.format(c='text')}) > 0
          AND 1.0 - len(list_distinct({_TOKS.format(c='text')}))::DOUBLE
              / len({_TOKS.format(c='text')}) <= 0.85
    ), deduped AS (
        SELECT doc_id, toks, len(toks) AS n FROM (
            SELECT doc_id, toks,
                   row_number() OVER (PARTITION BY md5({_NORM.format(c='text')})
                                      ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn = 1
    ), chunked AS (
        SELECT doc_id, n,
               unnest(generate_series(0,
                   CASE WHEN n <= 32 THEN 0
                        ELSE CAST(ceil((n - 32) / 24.0) AS INTEGER) END)) AS chunk_id,
               toks
        FROM deduped
    )
    SELECT doc_id, chunk_id,
           array_to_string(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ') AS chunk_text,
           CASE WHEN substring(md5(doc_id || '/' || chunk_id), 1, 1) < 'c' THEN 'train'
                WHEN substring(md5(doc_id || '/' || chunk_id), 1, 1) < 'e' THEN 'val'
                ELSE 'test' END AS split
    FROM chunked
    """,
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mask → gate → dedup → chunk → split as one composed DataFrame
    plan; at 100 TB only the dedup window shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    masked = docs.select(
        "doc_id", F.regexp_replace("text", tc.URL_RE, "<URL>").alias("text")
    )
    flags = tc.hard_quality_flags(F.col("text"))
    gated = masked.filter(flags["n_tokens_ok"] & flags["repetition_ok"])
    w = Window.partitionBy(dd.normalized_fingerprint(F.col("text"))).orderBy("doc_id")
    deduped = (
        gated.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )
    chunks = lp.chunk_tokens(deduped)
    key = F.concat(F.col("doc_id").cast("string"), F.lit("/"), F.col("chunk_id").cast("string"))
    return chunks.select(
        "doc_id", "chunk_id", "chunk_text", lp.split_assign(key).alias("split")
    )
