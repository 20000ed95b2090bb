"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct. Decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas`` — the Spark-side contract
(schema, batching, partitioning) is real and tested; the codec itself is
STUBBED (this container ships no image/audio libs): ``decode_mode='stub'``
produces deterministic fake features derived from the payload bytes, and
``decode_mode='real'`` raises NotImplementedError where a PIL/ffmpeg call
would go.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import local_frame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload_sha256", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 16


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"media-{i}".encode()).digest() * 4
        rows.append(
            (i, kind, bytearray(payload), 64 + i % 32, 64, 1000 + i, "fake")
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)


def _stub_feature(payload: bytes) -> list[float]:
    """Deterministic fake embedding: normalized bytes of the sha256 digest."""
    digest = hashlib.sha256(payload).digest()[:FEATURE_DIM]
    return [b / 255.0 for b in digest]


def extract_features(
    df: DataFrame, decode_mode: str = "stub", batch_hint: int = 256
) -> DataFrame:
    """Arrow-batched decode + feature extraction over mapInPandas.

    The pandas function receives columnar batches (payload as bytes objects);
    per-batch vectorized work, never per-row Python in the driver.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if decode_mode == "real":
                raise NotImplementedError(
                    "real media decode requires PIL/ffmpeg, not available in this container"
                )
            feats = [_stub_feature(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_sha256": [
                        hashlib.sha256(bytes(p)).hexdigest() for p in pdf["payload"]
                    ],
                    "payload_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return df.mapInPandas(batches, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 500) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame to decode.

    The expensive decode is downstream (extract_features); this stage is pure
    Catalyst — explode a frame-index sequence per video row, partitionable by
    media_id so decode parallelism scales with frames, not videos.
    """
    frames = F.sequence(
        F.lit(0), F.greatest((F.col("duration_ms") / every_ms).cast("int") - 1, F.lit(0))
    )
    return (
        df.filter(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(frames))
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    )
