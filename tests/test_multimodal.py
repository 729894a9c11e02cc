"""Tests for the multimodal column layer: fake-decode shapes, frame
chunking, and the column-pruning contract (metadata queries must not
read payload bytes)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import multimodal as mm

SF = "/root/testdata/sf0.001"


def _media(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return mm.attach_media(docs)


def test_payload_is_binary_and_metadata_typed(spark):
    media = _media(spark)
    dtypes = dict(media.dtypes)
    assert dtypes["payload"] == "binary"
    assert dtypes["media"].startswith("struct<media_type:string,width:int")


def test_decode_payload_shape_and_content():
    img = mm.decode_payload(b"abcdefghijkl", width=4)
    assert img.shape == (3, 4)
    assert img.dtype == np.uint8
    assert img[0, 0] == ord("a") and img[2, 3] == ord("l")
    # trailing bytes that don't fill a row are dropped
    assert mm.decode_payload(b"abcdefghij", width=4).shape == (2, 4)


def test_resize_halves_dimensions(spark):
    media = _media(spark)
    out = mm.resize_images(media)
    joined = out.join(
        media.select("doc_id", "media.width", "media.n_bytes"), "doc_id"
    ).collect()
    for r in joined:
        h = r.n_bytes // r.width
        assert r.out_height == (h + 1) // 2
        assert r.out_width == (r.width + 1) // 2


def test_sample_frames_partitions_payload(spark):
    media = _media(spark)
    frames = mm.sample_frames(media)
    per_doc = (
        frames.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum("frame_bytes").alias("tot"))
        .join(media.select("doc_id", "media.n_frames", "media.n_bytes"), "doc_id")
        .collect()
    )
    assert per_doc
    for r in per_doc:
        assert r.n == r.n_frames
        # equal chunks of n_bytes // n_frames each
        assert r.tot == (r.n_bytes // r.n_frames) * r.n_frames


def test_metadata_query_prunes_payload_column(spark, tmp_path):
    """The metadata profile must scan only doc_id/text-derived columns
    — with media materialized to parquet, the payload column must be
    absent from ReadSchema."""
    d = str(tmp_path)
    _media(spark).write.mode("overwrite").parquet(d)
    media = spark.read.parquet(d)
    q = media.groupBy(F.col("media.media_type")).agg(F.sum("media.n_bytes"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan, "payload column must be pruned from the scan"
