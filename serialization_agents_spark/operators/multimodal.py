"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque `binary` columns with typed metadata structs;
decode / feature-extract / resize / frame-sample run as Arrow-batched
pandas UDFs over ``mapInPandas`` so each task streams record batches
without materializing whole partitions.

The codecs (PIL/ffmpeg/librosa/soundfile) are not dependencies of this
package, so every kernel runs a deterministic stand-in decoder derived
from the bytes' md5. It exercises the full Spark-side path — schema,
batching, partitioning — and the DuckDB oracles in queries/media.py
replay it exactly. A real codec slots into the same kernels with the
identical (schema, fan-out, batching) shape.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, content binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>"
)

N_MEDIA = 200  # rows of synth_media
N_FEATURES = 8  # stand-in feature vector length
BATCH_LIMIT = 1024  # rows per decoded chunk of an Arrow batch
FRAME_EVERY_MS = 1000  # video frame sampling interval
RESIZE_WIDTH = 64
RESIZE_HEIGHT = 64

IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "feature array<float>, decode_ok boolean"
)


def _fake_decode(content: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in for a real image decode: dimensions and a
    feature vector derived from the content digest, in place of PIL."""
    d = hashlib.md5(content or b"").digest()
    width = 16 + d[0] % 240
    height = 16 + d[1] % 240
    feats = [round(b / 255.0, 6) for b in d[2 : 2 + N_FEATURES]]
    return width, height, 3, feats


def decode_image_batches():
    """Returns a mapInPandas kernel: Iterator[pd.DataFrame] -> Iterator[...].

    Undecodable rows degrade to decode_ok=False, never a task failure.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # bound memory: re-chunk oversized Arrow batches
            for start in range(0, len(pdf), BATCH_LIMIT):
                chunk = pdf.iloc[start : start + BATCH_LIMIT]
                rows = []
                for mid, content in zip(chunk["media_id"], chunk["content"]):
                    try:
                        w, h, c, feats = _fake_decode(bytes(content or b""))
                        rows.append((mid, w, h, c, feats, True))
                    except Exception:
                        rows.append((mid, None, None, None, None, False))
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "media_id", "width", "height", "channels",
                        "feature", "decode_ok",
                    ],
                )

    return kernel


def extract_image_features(media: DataFrame) -> DataFrame:
    """media(media_id, kind, content, meta) -> IMAGE_FEATURES rows.

    Narrow op: mapInPandas streams Arrow batches; no shuffle. Filter
    pushdown on `kind` happens before the Python stage so only image
    bytes cross the JVM->Arrow boundary.
    """
    images = media.where(F.col("kind") == "image").select("media_id", "content")
    return images.mapInPandas(decode_image_batches(), IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, sample_rate int, duration_ms int, "
    "feature array<float>, decode_ok boolean"
)

FRAME_SCHEMA = "media_id long, frame_idx int, ts_ms int, frame binary"

RESIZED_SCHEMA = (
    "media_id long, width int, height int, content binary, resize_ok boolean"
)


def _fake_audio_decode(content: bytes) -> tuple[int, list[float]]:
    """Deterministic stand-in for librosa/ffmpeg: a duration and a
    spectrogram-summary vector derived from the content digest."""
    d = hashlib.md5(b"audio:" + (content or b"")).digest()
    duration_ms = 500 + int.from_bytes(d[:2], "big") % 60_000
    feats = [round(b / 255.0, 6) for b in d[2 : 2 + N_FEATURES]]
    return duration_ms, feats


def extract_audio_features(media: DataFrame) -> DataFrame:
    """media -> AUDIO_FEATURES rows (narrow mapInPandas; `kind` filter
    pushed down before the Python stage, sample_rate carried from meta).
    Undecodable rows degrade to decode_ok=False, never a task failure."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content, sr in zip(
                pdf["media_id"], pdf["content"], pdf["sample_rate"]
            ):
                try:
                    dur, feats = _fake_audio_decode(bytes(content or b""))
                    rows.append((mid, sr, dur, feats, True))
                except Exception:
                    rows.append((mid, sr, None, None, False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "duration_ms", "feature", "decode_ok"],
            )

    audio = media.where(F.col("kind") == "audio").select(
        "media_id", "content", F.col("meta.sample_rate").alias("sample_rate")
    )
    return audio.mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)


def sample_video_frames(media: DataFrame) -> DataFrame:
    """UDTF-shaped fan-out: one row per sampled frame, at most 16 per
    video. The stand-in
    decoder derives a deterministic duration from the digest and emits
    md5-chained frame payloads, in place of ffmpeg keyframe extraction."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content or b"")
                duration_ms, _ = _fake_audio_decode(b)
                n = min(16, max(1, duration_ms // FRAME_EVERY_MS))
                for i in range(n):
                    frame = hashlib.md5(b + i.to_bytes(4, "big")).digest()
                    rows.append((mid, i, i * FRAME_EVERY_MS, frame))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "ts_ms", "frame"]
            )

    videos = media.where(F.col("kind") == "video").select("media_id", "content")
    return videos.mapInPandas(kernel, FRAME_SCHEMA)


def resize_images(media: DataFrame) -> DataFrame:
    """Image resize kernel: in place of PIL, it emits a digest-derived
    payload of RESIZE_WIDTH * RESIZE_HEIGHT bytes, so the Spark-side
    shape — narrow map, binary out, metadata columns — is real.
    Unresizable rows degrade to a NULL payload with resize_ok=False,
    never a task failure."""

    # bound on the driver: the kernel runs in Python workers
    width, height = RESIZE_WIDTH, RESIZE_HEIGHT

    def resize(content: bytes) -> bytes:
        seed = hashlib.md5(content + f"{width}x{height}".encode()).digest()
        return (seed * ((width * height) // len(seed) + 1))[: width * height]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    payload = resize(bytes(content or b""))
                    rows.append((mid, width, height, payload, True))
                except Exception:
                    rows.append((mid, width, height, None, False))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "content", "resize_ok"]
            )

    images = media.where(F.col("kind") == "image").select("media_id", "content")
    return images.mapInPandas(kernel, RESIZED_SCHEMA)


def synth_media(spark) -> DataFrame:
    """Deterministic fake media table (binary payload = md5-chained bytes)."""
    df = spark.range(N_MEDIA)
    payload = F.sha2(F.concat(F.lit("media"), F.col("id").cast("string")), 256)
    kind = (
        F.when(F.col("id") % 3 == 0, "audio")
        .when(F.col("id") % 7 == 1, "video")
        .otherwise("image")
    )
    return df.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        F.encode(payload, "utf-8").cast("binary").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.when(F.col("id") % 3 == 0, 16000).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
