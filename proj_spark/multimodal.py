"""Multimodal columns: binary media as first-class pipeline payloads.

Treats image/audio/video as opaque ``binary`` columns with typed metadata
(per the build brief: the decode step itself is STUBBED because no media
libraries exist in this container, but the Spark-side plumbing — schema,
partitioning, mapInPandas batch shape, deterministic fake features — is
real and tested).

Design for 100 TB: media bytes never pass through the driver; decode /
feature-extract run as ``mapInPandas`` over Arrow batches, emitting
fixed-width feature columns so downstream joins/aggregations prune the
heavy binary column (column pruning drops `content` unless selected).

Swap points for a real deployment are marked: `_decode_image_real`
raises NotImplementedError; `fake=True` (default) derives deterministic
pseudo-features from the bytes so pipelines are end-to-end testable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),      # image | audio | video
    T.StructField("content", T.BinaryType()),   # opaque bytes
    T.StructField("mime", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_luma", T.DoubleType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_sha", T.StringType()),
])


def _decode_image_real(content: bytes):
    """Real decode path — requires an image library not present in this
    container. Kept as the single swap point."""
    raise NotImplementedError(
        "image decoding requires PIL/opencv; use fake=True for the "
        "deterministic test double")


def _fake_decode(content: bytes) -> tuple[int, int, float]:
    """Deterministic pseudo-decode: dimensions and mean luma derived from
    a content digest — stable across runs/machines for testing."""
    d = hashlib.md5(content).digest()
    w = 64 + d[0] % 192
    h = 64 + d[1] % 192
    luma = int.from_bytes(d[2:4], "big") / 65535.0
    return w, h, luma


def _fake_embedding(content: bytes, dim: int = 16) -> np.ndarray:
    d = hashlib.sha256(content).digest()
    raw = np.frombuffer((d * ((dim * 4) // len(d) + 1))[: dim * 4], dtype=np.uint32)
    v = (raw.astype(np.float64) / 2 ** 32) * 2.0 - 1.0
    return (v / np.linalg.norm(v)).astype(np.float32)


def image_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """media (MEDIA_SCHEMA, kind='image') -> IMAGE_FEATURES_SCHEMA rows via
    Arrow-batched mapInPandas; binary column pruned from the output."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "width": [], "height": [],
                   "mean_luma": [], "embedding": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                if fake:
                    w, h, luma = _fake_decode(b)
                else:  # pragma: no cover - requires media libs
                    w, h, luma = _decode_image_real(b)
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_luma"].append(luma)
                out["embedding"].append(_fake_embedding(b))
            yield pd.DataFrame(out)

    return (media.filter(media.kind == "image")
            .select("media_id", "content")
            # Python-boundary allowlist: binary batch decode (bytes per row,
            # not numeric columns; see tests/test_stages.py)
            .mapInPandas(batches, IMAGE_FEATURES_SCHEMA))


def sample_frames(media: DataFrame, every_n: int = 10, fake: bool = True) -> DataFrame:
    """video -> sampled frame rows (stubbed frame extraction: deterministic
    digests over byte stripes stand in for decoded frames)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "frame_idx": [], "frame_sha": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                n_frames = max(1, len(b) // 256)
                for idx in range(0, n_frames, every_n):
                    stripe = b[idx * 256:(idx + 1) * 256]
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(idx)
                    rows["frame_sha"].append(hashlib.sha1(stripe).hexdigest())
            yield pd.DataFrame(rows)

    return (media.filter(media.kind == "video")
            .select("media_id", "content")
            # Python-boundary allowlist: binary batch decode (bytes per row,
            # not numeric columns; see tests/test_stages.py)
            .mapInPandas(batches, FRAME_SCHEMA))


def build_media_fixture(spark, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from the documents text bytes."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
         .when(F.col("doc_id") % 3 == 1, "video")
         .otherwise("audio").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes")))
