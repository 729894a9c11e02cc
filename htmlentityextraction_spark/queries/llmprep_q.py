"""Training-data preparation queries: embedding normalize/quantize,
token chunking, deterministic split assignment, weighted source
mixing. Float rounding uses floor(x*k+0.5)/k everywhere — Spark's
round() (decimal-string HALF_UP) and DuckDB's (binary) disagree;
floor is exact in both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import llmprep as lp
from htmlentityextraction_spark.operators.similarity import (
    VALID_VEC_SQL,
    valid_vectors,
)
from htmlentityextraction_spark.functions.keys import keep_one_per_id, keep_one_per_id_sql
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table

_TOKS = (
    "list_filter(string_split_regex(trim(regexp_replace(regexp_replace(text,"
    "'[^A-Za-z]+',' ','g'),' +',' ','g')), ' '), t -> t <> '')"
)


@register(
    "embedding_normalize_quantize",
    f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS nrm,
               list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS amax
        FROM embeddings
        WHERE {VALID_VEC_SQL.format(c='embedding')}
    )""" + """
    SELECT vec_id,
           CAST(unnest(generate_series(1, len(v))) AS BIGINT) AS idx,
           unnest(list_transform(v, x -> floor(x / nrm * 1000000 + 0.5) / 1000000)) AS unit_val,
           unnest(list_transform(v, x -> CAST(floor(x * (127.0 / amax) + 0.5) AS INTEGER))) AS q8_val,
           floor(127.0 / amax * 1000000 + 0.5) / 1000000 AS scale
    FROM e
    """,
)
def embedding_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization + symmetric int8 quantization of the embedding
    column — the storage/compute prep for ANN at scale (int8 corpus =
    4x less shuffle and scan). Output is exploded to one row per
    vector element (vec_id, idx, unit_val, q8_val, scale): array-typed
    output columns are unhashable for the driver's pandas
    canonicalizer, and scalar rows are hash-checkable.

    Corrupt vectors are dropped at the standard `valid_vectors`
    boundary (r10 vecpoison finding): one NaN element would crash
    BOTH engines' int8 cast (ANSI/DuckDB conversion error) — a vector
    a failed encoder wrote has no norm and no quantization."""
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    unit = lp.l2_normalize(F.col("v"))
    q, scale = lp.quantize_int8(F.col("v"))
    wide = emb.select(
        "vec_id",
        F.transform(unit, lambda x: F.floor(x * 1e6 + 0.5) / 1e6).alias("unit_vec"),
        q.alias("q8"),
        (F.floor(scale * 1e6 + 0.5) / 1e6).alias("scale"),
    )
    return wide.select(
        "vec_id",
        "scale",
        F.posexplode(F.arrays_zip("unit_vec", "q8")).alias("pos", "z"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("idx"),
        F.col("z.unit_vec").alias("unit_val"),
        F.col("z.q8").cast("int").alias("q8_val"),
        "scale",
    )


@register(
    "document_token_chunks",
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM documents
    ), c AS (
        SELECT doc_id, n,
               unnest(generate_series(0,
                   CASE WHEN n <= 32 THEN 0
                        ELSE CAST(ceil((n - 32) / 24.0) AS INTEGER) END)) AS chunk_id,
               toks
        FROM t
    )
    SELECT doc_id, chunk_id,
           coalesce(array_to_string(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' '), '') AS chunk_text,
           least(32, n - chunk_id * 24) AS chunk_tokens
    FROM c
    """,
)
def document_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 32, stride 24) — the
    context-window prep step; explode keeps it narrow (no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return lp.chunk_tokens(docs)


@register(
    "dataset_split_assignment",
    """
    SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 1) < 'c' THEN 'train'
                WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 1) < 'e' THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n
    FROM documents GROUP BY 1
    """,
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-prefix train/val/test split (75/12.5/12.5) —
    reruns and engine swaps preserve membership, unlike RNG splits."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    return docs.select(lp.split_assign(key).alias("split")).groupBy("split").count().select(
        "split", F.col("count").alias("n")
    )


@register(
    "weighted_source_mix",
    """
    WITH hexv AS (
        SELECT doc_id, source,
               (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
               + strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        FROM documents
    )
    SELECT source, count(*) AS n_kept
    FROM hexv
    WHERE (source IN ('src0','src1','src2','src3','src4') AND bucket < 256)
       OR (source IN ('src5','src6','src7','src8','src9') AND bucket < 128)
       OR (source NOT IN ('src0','src1','src2','src3','src4',
                          'src5','src6','src7','src8','src9') AND bucket < 64)
    GROUP BY source
    """,
)
def weighted_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus assembly by per-source keep rates (keep all of the first
    five sources, half of the next five, a quarter of the rest) via
    md5-bucket sampling — deterministic up/down-weighting."""
    docs = load_table(spark, sf_dir, "documents")
    rates = {f"src{i}": 1.0 for i in range(5)}
    rates.update({f"src{i}": 0.5 for i in range(5, 10)})
    rates.update({f"src{i}": 0.25 for i in range(10, 20)})
    mixed = lp.source_mix(docs, rates, key=F.col("doc_id").cast("string"))
    return mixed.groupBy("source").agg(F.count("*").alias("n_kept"))


@register(
    "cap_docs_per_group",
    """
    SELECT doc_id, lang, source, CAST(sample_rank AS INT) AS sample_rank FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY lang, source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS sample_rank
        FROM documents
    ) WHERE sample_rank <= 5
    """,
)
def cap_docs_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain rebalancing: keep at most 5 docs per (lang, source),
    chosen by smallest md5(doc_id) — a deterministic equal-probability
    without-replacement sample per group (operators/llmprep.py
    cap_per_group). One shuffle on the group key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return lp.cap_per_group(docs, ["lang", "source"], k=5)


@register(
    "sequence_packing_bins",
    f"""
    WITH d AS (
        -- keyfuzz r12: the doc_id-ordered running sum ties on a
        -- duplicated id and packs differently per engine — resolve
        -- identity first (keep_one_per_id boundary)
        {keep_one_per_id_sql("documents", "doc_id",
                             ["doc_id", "text", "lang", "source", "n_chars"])}
    ), t AS (
        SELECT source AS grp, doc_id AS id, len({_TOKS})::BIGINT AS n_tok
        FROM d
    ), c AS (
        SELECT grp, id, n_tok,
               CAST(sum(n_tok) OVER (PARTITION BY grp ORDER BY id
                                     ROWS UNBOUNDED PRECEDING) - n_tok
                    AS BIGINT) AS start_off
        FROM t
    )
    SELECT grp, start_off // 512 AS bin_id, count(*) AS n_docs,
           sum(n_tok)::BIGINT AS bin_tokens,
           min(id) AS first_doc, max(id) AS last_doc
    FROM c GROUP BY grp, bin_id
    """,
)
def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing into 512-token training bins
    per source (operators/llmprep.pack_sequences): docs in doc_id
    order laid head-to-tail, each attributed to the bin holding its
    first token. The dense-batching step after chunking — one window
    shuffle per source, bin id by exact integer division."""
    docs = keep_one_per_id(load_table(spark, sf_dir, "documents"), "doc_id")
    return lp.pack_sequences(docs, budget=512)
