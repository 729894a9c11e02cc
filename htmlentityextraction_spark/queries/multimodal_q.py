"""Multimodal-column queries. The fixture payloads are utf-8 bytes of
ASCII document text, so DuckDB can reconstruct every byte via
ascii(substring(...)) — giving full value-hash oracles for the binary
plumbing (metadata pruning, batch feature extraction, strided resize,
frame sampling) even though the decode itself is a deterministic
stand-in (see operators/multimodal.py STUB NOTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import multimodal as mm
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.functions.keys import keep_one_per_id, keep_one_per_id_sql
from htmlentityextraction_spark.sources.tables import load_table

# media_type per doc: doc_id % 3 → image/audio/video. hx is the hex
# dump of the utf-8 payload: byte i (1-based) is
# CAST('0x' || substring(hx, 2i-1, 2) AS INTEGER) — TRUE byte-level
# reconstruction, correct for multibyte text where the former
# ascii(substring(text, i, 1)) walked CHARACTERS (text-fuzz aligned).
_META_SQL = """
    SELECT doc_id,
           ['image','audio','video'][(doc_id % 3) + 1] AS media_type,
           CAST(doc_id % 16 + 4 AS INTEGER) AS width,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CASE WHEN (doc_id % 3) = 2 THEN CAST(doc_id % 8 + 2 AS INTEGER)
                ELSE 1 END AS n_frames,
           hex(encode(text)) AS hx
    FROM ({docs})
    WHERE text IS NOT NULL
""".format(docs=keep_one_per_id_sql(
    "documents", "doc_id", ["doc_id", "text", "lang", "source", "n_chars"]
))


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyfuzz r12: doc_id is the media identity — duplicate corpus
    # rows (half with conflicting text, i.e. different payload bytes)
    # resolve at ONE deterministic boundary before payloads attach
    return mm.attach_media(
        keep_one_per_id(load_table(spark, sf_dir, "documents"), "doc_id")
    )


@register(
    "multimodal_metadata_profile",
    f"""
    WITH m AS ({_META_SQL})
    SELECT media_type, count(*) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           round(avg(width) + 1e-9, 6) AS avg_width,
           CAST(sum(n_frames) AS BIGINT) AS total_frames
    FROM m GROUP BY media_type
    """,
)
def multimodal_metadata_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only profile: the plan must not touch the payload
    column at all (typed STRUCT metadata + column pruning — the point
    of the opaque-binary design)."""
    media = _media(spark, sf_dir)
    return media.groupBy(F.col("media.media_type").alias("media_type")).agg(
        F.count("*").alias("n_docs"),
        F.sum("media.n_bytes").alias("total_bytes"),
        F.round(F.avg("media.width") + 1e-9, 6).alias("avg_width"),
        F.sum("media.n_frames").cast("bigint").alias("total_frames"),
    )


@register(
    "multimodal_byte_features",
    f"""
    WITH m AS ({_META_SQL}),
    b AS (
        SELECT doc_id, media_type, n_bytes,
               unnest(list_transform(generate_series(1, CAST(n_bytes AS INTEGER)),
                                     i -> CAST('0x' || substring(hx, 2 * i - 1, 2) AS INTEGER))) AS byte
        FROM m
    )
    SELECT doc_id, any_value(media_type) AS media_type,
           any_value(n_bytes) AS n_bytes,
           round(avg(byte) + 1e-9, 6) AS mean_byte,
           round(sqrt(avg(byte * byte) - avg(byte) * avg(byte)) + 1e-9, 6) AS std_byte,
           CAST(max(byte) AS INTEGER) AS max_byte
    FROM b GROUP BY doc_id
    """,
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over opaque payloads (the
    'embed this blob' batch shape)."""
    return mm.extract_features(_media(spark, sf_dir))


@register(
    "multimodal_resize_images",
    f"""
    WITH m AS (SELECT * FROM ({_META_SQL}) WHERE media_type = 'image'),
    px AS (
        SELECT doc_id, width, CAST(n_bytes // width AS INTEGER) AS height,
               unnest(generate_series(1, CAST((n_bytes // width) * width AS INTEGER))) AS pos
        FROM m
    ),
    strided AS (
        SELECT doc_id, width, height,
               CAST('0x' || substring((SELECT hx FROM m WHERE m.doc_id = px.doc_id), 2 * pos - 1, 2) AS INTEGER) AS byte,
               ((pos - 1) // width) AS r, ((pos - 1) % width) AS c
        FROM px
    )
    SELECT doc_id,
           CAST((width + 1) // 2 AS INTEGER) AS out_width,
           CAST((height + 1) // 2 AS INTEGER) AS out_height,
           CAST(sum(CASE WHEN r % 2 = 0 AND c % 2 = 0 THEN byte ELSE 0 END) AS BIGINT) AS checksum
    FROM strided GROUP BY doc_id, width, height
    """,
)
def multimodal_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided 'resize' of image payloads: decode → [::2, ::2] →
    shape + checksum. DuckDB recomputes the same stride arithmetic
    byte-by-byte."""
    return mm.resize_images(_media(spark, sf_dir))


@register(
    "multimodal_sample_frames",
    f"""
    WITH m AS (SELECT * FROM ({_META_SQL}) WHERE media_type = 'video'),
    px AS (
        SELECT doc_id, n_frames, CAST(n_bytes // n_frames AS INTEGER) AS fsize,
               unnest(generate_series(1, CAST((n_bytes // n_frames) * n_frames AS INTEGER))) AS pos
        FROM m
    )
    SELECT doc_id,
           CAST((pos - 1) // fsize AS INTEGER) AS frame_idx,
           CAST(any_value(fsize) AS BIGINT) AS frame_bytes,
           CAST(sum(CAST('0x' || substring((SELECT hx FROM m WHERE m.doc_id = px.doc_id), 2 * pos - 1, 2) AS INTEGER)) AS BIGINT) AS frame_checksum
    FROM px GROUP BY doc_id, (pos - 1) // fsize
    """,
)
def multimodal_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: payload → n_frames equal chunks, one row
    per frame (1→N explode over binary)."""
    return mm.sample_frames(_media(spark, sf_dir))
