"""Vocabulary building + token-id encoding — the final corpus step
before training tensors:

- vocab: global token frequencies → ids assigned by (count desc,
  token) rank, capped at a max size; one shuffle (the count), one
  tiny sort.
- encoding: chunks joined against the broadcast vocab, tokens mapped
  to ids with OOV → 0. At 100 TB the vocab is a few MB — broadcast,
  no shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.text import tokenize
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table

_TOKS = (
    "list_filter(string_split_regex(trim(regexp_replace(regexp_replace(text,"
    "'[^A-Za-z]+',' ','g'),' +',' ','g')), ' '), t -> t <> '')"
)

VOCAB_SIZE = 64


def build_vocab(docs: DataFrame) -> DataFrame:
    toks = F.filter(tokenize(F.col("text")), lambda t: t != "")
    counts = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("token_id", F.row_number().over(w).cast("long"))
        .filter(F.col("token_id") <= VOCAB_SIZE)
    )


@register(
    "vocab_by_frequency",
    f"""
    WITH counts AS (
        SELECT token, count(*) AS n
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY token
    )
    SELECT token, n, token_id FROM (
        SELECT token, n,
               row_number() OVER (ORDER BY n DESC, token) AS token_id
        FROM counts
    ) WHERE token_id <= {VOCAB_SIZE}
    """,
)
def vocab_by_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{VOCAB_SIZE} tokens by global frequency with rank-assigned
    ids (deterministic tie-break on the token)."""
    return build_vocab(load_table(spark, sf_dir, "documents")).select(
        "token", "n", "token_id"
    )


@register(
    "encode_documents_token_ids",
    f"""
    WITH counts AS (
        SELECT token, count(*) AS n
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY token
    ), vocab AS (
        SELECT token, token_id FROM (
            SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS token_id
            FROM counts
        ) WHERE token_id <= {VOCAB_SIZE}
    ), toked AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), exploded AS (
        SELECT doc_id,
               unnest(generate_series(1, len(toks))) AS pos,
               toks
        FROM toked
    ), positioned AS (
        SELECT doc_id, pos, toks[pos] AS token FROM exploded
    )
    SELECT e.doc_id,
           array_to_string(list(coalesce(v.token_id, 0) ORDER BY e.pos), ' ') AS token_ids,
           CAST(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM positioned e LEFT JOIN vocab v ON e.token = v.token
    GROUP BY e.doc_id
    """,
)
def encode_documents_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents encoded as vocab ids (OOV → 0), order-preserving.
    The corpus side never shuffles: tokens explode with their
    position, the vocab broadcasts, and the id arrays reassemble
    grouped by (doc, position order). The id sequence is emitted as a
    space-joined STRING (integers stringify identically in every
    engine; array columns are unhashable for the driver's canon)."""
    encoded = _encode_id_arrays(spark, sf_dir)
    return encoded.select(
        "doc_id",
        F.array_join(F.transform("token_ids", lambda x: x.cast("string")), " ").alias(
            "token_ids"
        ),
        "n_oov",
    )


def _encode_id_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed encoding core shared by the encode + padding queries
    (registered queries serialize the arrays before returning)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs).select("token", "token_id")
    toks = F.filter(tokenize(F.col("text")), lambda t: t != "")
    exploded = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "token")
    )
    joined = exploded.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce("token_id", F.lit(0)).alias("tid")
    )
    return joined.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
        ).alias("token_ids"),
        F.sum((F.col("tid") == 0).cast("long")).alias("n_oov"),
    )


_SEQ_LEN = 48


@register(
    "padded_training_sequences",
    f"""
    WITH counts AS (
        SELECT token, count(*) AS n
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY token
    ), vocab AS (
        SELECT token, token_id FROM (
            SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS token_id
            FROM counts
        ) WHERE token_id <= {VOCAB_SIZE}
    ), toked AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), exploded AS (
        SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks
        FROM toked
    ), ids AS (
        SELECT e.doc_id, e.pos, coalesce(v.token_id, 0) AS tid
        FROM (SELECT doc_id, pos, toks[pos] AS token FROM exploded) e
        LEFT JOIN vocab v ON e.token = v.token
    ), assembled AS (
        SELECT doc_id, list(tid ORDER BY pos) AS token_ids FROM ids GROUP BY doc_id
    )
    SELECT doc_id,
           array_to_string(
               CASE WHEN len(token_ids) >= {_SEQ_LEN}
                    THEN list_slice(token_ids, 1, {_SEQ_LEN})
                    ELSE list_concat(token_ids,
                        list_transform(generate_series(1, {_SEQ_LEN} - len(token_ids)), x -> 0)) END,
               ' ') AS input_ids,
           CAST(least(len(token_ids), {_SEQ_LEN}) AS BIGINT) AS attn_len
    FROM assembled
    """,
)
def padded_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length tensor prep: encoded docs truncated/padded to
    seq_len with the true attention length — the last columnar step
    before batching; pad tokens are id 0 (shared with OOV). input_ids
    is a space-joined STRING for the driver's hashability."""
    encoded = _encode_id_arrays(spark, sf_dir)
    n = F.size("token_ids")
    padded = F.when(n >= _SEQ_LEN, F.slice("token_ids", 1, _SEQ_LEN)).otherwise(
        F.concat(
            F.col("token_ids"),
            F.array_repeat(F.lit(0).cast("long"), _SEQ_LEN - n),
        )
    )
    return encoded.select(
        "doc_id",
        F.array_join(F.transform(padded, lambda x: x.cast("string")), " ").alias(
            "input_ids"
        ),
        F.least(n, F.lit(_SEQ_LEN)).cast("long").alias("attn_len"),
    )


@register(
    "doc_tfidf_keywords",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token
    ), n AS (
        SELECT count(*)::BIGINT AS n_docs FROM documents
    ), s AS (
        SELECT t.doc_id, t.token, t.tf, d.df,
               floor(t.tf * (n.n_docs + 1) / (d.df + 1) * 1000000 + 0.5) / 1000000 AS score
        FROM tf t JOIN dfreq d USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, score, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, token) AS rnk
        FROM s
    ) WHERE rnk <= 3
    """,
)
def doc_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (M1/M2's weighting as a
    corpus query). IDF is the RATIONAL form (N+1)/(df+1), not its log:
    rank order per doc is preserved for a fixed tf, and the score
    stays exact integer arithmetic until one final division —
    reproducible across engines, where log() bit-drift could flip a
    rank. Two shuffles (doc-term tf, term df); df table is
    vocabulary-sized → broadcast; the corpus is touched once.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize(F.col("text")), lambda t: t != "")
    tf = (
        docs.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    nrow = docs.agg(F.count("*").alias("n_docs"))
    raw = F.col("tf") * (F.col("n_docs") + F.lit(1)) / (F.col("df") + F.lit(1))
    score = F.floor(raw * 1000000 + F.lit(0.5)) / 1000000
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(nrow))
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "score", "rnk")
    )


@register(
    "inverted_index_stats",
    f"""
    WITH posting AS (
        SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    tf AS (
        SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM posting GROUP BY token, doc_id),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    idx AS (
        SELECT token, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS cf,
               first(doc_id ORDER BY tf DESC, doc_id) AS top_doc
        FROM tf GROUP BY token)
    SELECT token, df, cf, top_doc,
           round(ln((n.n_docs + 1.0) / (df + 1.0)) + 1e-9, 6) AS idf
    FROM idx CROSS JOIN n
    """,
)
def inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index dictionary statistics: per token its document
    frequency, collection frequency, smoothed IDF, and the highest-tf
    posting (ties to the lowest doc_id) — the IR primitive behind
    both retrieval and the TF-IDF keyword extraction already in the
    registry. Shapes: one (token, doc) count shuffle, one token-level
    re-aggregate with ``max_by`` picking the top posting inside the
    same pass, and the corpus size as a broadcast scalar — no join of
    the posting list against itself."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize(F.col("text")), lambda t: t != "")
    tf = (
        docs.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idx = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.max_by(
            F.col("doc_id"), F.struct(F.col("tf").alias("a"), (-F.col("doc_id")).alias("b"))
        ).alias("top_doc"),
    )
    return idx.crossJoin(F.broadcast(n)).select(
        "token", "df", "cf", "top_doc",
        F.round(
            F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            + F.lit(1e-9),
            6,
        ).alias("idf"),
    )
