"""Multimodal columns: image/audio/video as opaque BINARY + typed
metadata (BASELINE.json north star; no counterpart in the reference —
this is the 100 TB training-data extension).

Design for scale:

- payloads are opaque ``binary`` columns; metadata is a typed STRUCT
  (media_type, width, height, n_frames, sample_rate, n_bytes) so
  Catalyst can prune/filter on metadata WITHOUT touching payload bytes
  (column pruning keeps the heavy column out of scans that don't need
  it — verify via ReadSchema);
- decode / feature-extract / resize / frame-sample run as
  Arrow-batched ``mapInPandas`` so payload bytes cross the JVM→Python
  boundary once per batch, not per row;
- partitioning guidance: media tables should be written bucketed by
  doc_id and sized so one task's payload batch fits executor memory
  (metadata.n_bytes enables size-aware repartitioning before the UDF).

STUB NOTE: no image/audio/video codec is wired in. ``decode_payload``
uses a deterministic fake decode (numpy frombuffer → shaped uint8
array) so every schema, batch shape, and partition behavior is real
and tested.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_TYPES = ("image", "audio", "video")
# resize_images keeps every _RESIZE_FACTOR-th pixel row and column
_RESIZE_FACTOR = 2

METADATA_TYPE = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Deterministic media fixture: payload = utf-8 bytes of the text,
    media_type cycles by id, metadata derived from payload size. The
    payload column is genuinely BINARY — everything downstream treats
    it as opaque. NULL-text docs are dropped: no bytes, no media row
    (null-fuzz hardened; oracles filter text IS NOT NULL to match)."""
    docs = docs.filter(F.col("text").isNotNull())
    payload = F.encode(F.col("text"), "UTF-8")
    n_bytes = F.octet_length(payload).cast("long")
    mt = F.element_at(
        F.array(*[F.lit(m) for m in MEDIA_TYPES]),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    width = (F.pmod(F.col("doc_id"), F.lit(16)) + 4).cast("int")
    meta = F.struct(
        mt.alias("media_type"),
        width.alias("width"),
        (n_bytes / width).cast("int").alias("height"),
        F.when(mt == "video", (F.pmod(F.col("doc_id"), F.lit(8)) + 2))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("n_frames"),
        F.when(mt == "audio", F.lit(16000)).otherwise(F.lit(0)).cast("int").alias("sample_rate"),
        n_bytes.alias("n_bytes"),
    )
    return docs.select(
        F.col("doc_id").alias("doc_id"), payload.alias("payload"), meta.alias("media")
    )


def decode_payload(payload: bytes, width: int) -> np.ndarray:
    """Deterministic fake decode: bytes → uint8 matrix of shape
    (n_bytes // width, width). Stands in for a real image decode; the
    Spark-side plumbing (batching, schema, shapes) is identical."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    h = len(arr) // width
    return arr[: h * width].reshape(h, width)


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("std_byte", T.DoubleType()),
        T.StructField("max_byte", T.IntegerType()),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Per-payload numeric features via one Arrow batch pass (the
    'embed this image' shape: bytes in → fixed-width vector out)."""

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["payload"] is None or r["media"] is None:
                    continue  # corrupt row: no payload to featurize
                arr = np.frombuffer(r["payload"], dtype=np.uint8)
                if len(arr) == 0:
                    continue  # zero-byte payload: no bytes, no features
                rows.append(
                    {
                        "doc_id": r["doc_id"],
                        "media_type": r["media"]["media_type"],
                        "n_bytes": len(arr),
                        "mean_byte": round(float(arr.mean()) + 1e-9, 6),
                        "std_byte": round(float(arr.std()) + 1e-9, 6),
                        "max_byte": int(arr.max()),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.mapInPandas(go, FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def resize_images(media: DataFrame) -> DataFrame:
    """Stride-subsample 'resize' of image payloads (every
    ``_RESIZE_FACTOR``-th row/col of the fake-decoded matrix) —
    deterministic, checksummed."""
    factor = _RESIZE_FACTOR  # read here: the closure carries it to the workers

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["payload"] is None or r["media"] is None:
                    continue  # corrupt row: nothing to resize
                if r["media"]["media_type"] != "image":
                    continue
                img = decode_payload(r["payload"], int(r["media"]["width"]))
                if img.size == 0:
                    continue  # payload shorter than one pixel row: no image
                small = img[::factor, ::factor]
                rows.append(
                    {
                        "doc_id": r["doc_id"],
                        "out_width": small.shape[1],
                        "out_height": small.shape[0],
                        "checksum": int(small.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return media.mapInPandas(go, RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_checksum", T.LongType()),
    ]
)


def sample_frames(media: DataFrame) -> DataFrame:
    """Split each video payload into metadata.n_frames equal chunks
    and emit one row per frame (the 1→N UDTF shape for video)."""

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["payload"] is None or r["media"] is None:
                    continue  # corrupt row: nothing to sample
                if r["media"]["media_type"] != "video":
                    continue
                arr = np.frombuffer(r["payload"], dtype=np.uint8)
                n = int(r["media"]["n_frames"])
                size = len(arr) // n
                if size == 0:
                    continue  # payload shorter than one frame: no frames
                for i in range(n):
                    chunk = arr[i * size : (i + 1) * size]
                    rows.append(
                        {
                            "doc_id": r["doc_id"],
                            "frame_idx": i,
                            "frame_bytes": len(chunk),
                            "frame_checksum": int(chunk.astype(np.int64).sum()),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.mapInPandas(go, FRAME_SCHEMA)
