"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque `binary` columns with typed metadata structs;
decode / feature-extract / resize / frame-sample run as Arrow-batched
pandas UDFs over ``mapInPandas`` so each task streams record batches
without materializing whole partitions.

The actual codecs (PIL/ffmpeg/librosa) are NOT in this container, so the
decode kernels are STUBBED by default: with ``fake=True`` a
deterministic fake decoder (derived from the bytes' md5) exercises the
full Spark-side path — schema, batching, partitioning — which is what
the tests cover. The module PROBES for PIL at import: in an environment
that has it, ``fake=False`` lights up the real image decode/resize
kernels with no code changes (guarded tests skip when PIL is absent);
audio/video stay gated on librosa/ffmpeg the same way.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # opportunistic codec probe — sandbox default is absent
    from PIL import Image as _PILImage

    _HAVE_PIL = True
except ImportError:
    _PILImage = None
    _HAVE_PIL = False

try:  # same probe pattern for audio (soundfile wraps libsndfile)
    import soundfile as _soundfile

    _HAVE_SOUNDFILE = True
except ImportError:
    _soundfile = None
    _HAVE_SOUNDFILE = False

MEDIA_SCHEMA = (
    "media_id long, kind string, content binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>"
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "feature array<float>, decode_ok boolean"
)


def _fake_decode(content: bytes, n_features: int = 8) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in for a real image decode: dimensions and a
    feature vector derived from the content digest. Replaces PIL, which
    is unavailable here; the Spark-side plumbing is identical."""
    d = hashlib.md5(content or b"").digest()
    width = 16 + d[0] % 240
    height = 16 + d[1] % 240
    feats = [round(b / 255.0, 6) for b in d[2 : 2 + n_features]]
    return width, height, 3, feats


def _real_decode(content: bytes, n_features: int = 8) -> tuple[int, int, int, list[float]]:
    """PIL-backed decode (active when the import probe found PIL and the
    caller passes fake=False): dimensions + a 2x4-grid mean-intensity
    feature vector — same signature/shape as `_fake_decode`."""
    img = _PILImage.open(io.BytesIO(content)).convert("RGB")
    w, h = img.size
    thumb = img.resize((4, 2))
    px = list(thumb.getdata())  # 8 RGB tuples, row-major
    feats = [round(sum(p) / (3 * 255.0), 6) for p in px[:n_features]]
    return w, h, 3, feats


def decode_image_batches(fake: bool = True, batch_limit: int = 1024):
    """Returns a mapInPandas kernel: Iterator[pd.DataFrame] -> Iterator[...].

    `fake=False` uses the PIL kernel when the import probe found PIL
    (undecodable rows degrade to decode_ok=False, never a task failure);
    without PIL it raises so a misconfigured cluster fails loudly at
    plan time instead of emitting fake features.
    """
    if not fake and not _HAVE_PIL:
        raise NotImplementedError(
            "real image decoding requires PIL/torchvision; not present in "
            "this environment (import probe) — pass fake=True to exercise "
            "the pipeline with the deterministic stub decoder"
        )
    decode = _fake_decode if fake else _real_decode

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # bound memory: re-chunk oversized Arrow batches
            for start in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[start : start + batch_limit]
                rows = []
                for mid, content in zip(chunk["media_id"], chunk["content"]):
                    try:
                        w, h, c, feats = decode(bytes(content or b""))
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


def extract_image_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """media(media_id, kind, content, meta) -> IMAGE_FEATURES rows.

    Narrow op: mapInPandas streams Arrow batches; no shuffle. Filter
    pushdown on `kind` happens before the Python stage so only image
    bytes cross the JVM->Arrow boundary.
    """
    images = media.where(F.col("kind") == "image").select("media_id", "content")
    return images.mapInPandas(decode_image_batches(fake=fake), IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, sample_rate int, duration_ms int, "
    "feature array<float>, decode_ok boolean"
)

FRAME_SCHEMA = "media_id long, frame_idx int, ts_ms int, frame binary"

RESIZED_SCHEMA = (
    "media_id long, width int, height int, content binary, resize_ok boolean"
)


def _fake_audio_decode(content: bytes, n_features: int = 8) -> tuple[int, list[float]]:
    """Deterministic stand-in for librosa/ffmpeg: a duration and a
    spectrogram-summary vector derived from the content digest."""
    d = hashlib.md5(b"audio:" + (content or b"")).digest()
    duration_ms = 500 + int.from_bytes(d[:2], "big") % 60_000
    feats = [round(b / 255.0, 6) for b in d[2 : 2 + n_features]]
    return duration_ms, feats


def _real_audio_decode(content: bytes, n_features: int = 8) -> tuple[int, list[float]]:
    """soundfile-backed decode (active when the import probe found
    soundfile and the caller passes fake=False): true duration plus a
    mean-|amplitude| summary over n_features equal time segments — same
    (duration_ms, feats) signature as `_fake_audio_decode`."""
    import numpy as np

    samples, sr = _soundfile.read(io.BytesIO(content), dtype="float32")
    if samples.ndim > 1:  # downmix channels
        samples = samples.mean(axis=1)
    duration_ms = int(len(samples) * 1000 / sr)
    segs = np.array_split(np.abs(samples), n_features)
    feats = [round(float(s.mean()) if len(s) else 0.0, 6) for s in segs]
    return duration_ms, feats


def extract_audio_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """media -> AUDIO_FEATURES rows (narrow mapInPandas; `kind` filter
    pushed down before the Python stage, sample_rate carried from meta).

    `fake=False` uses the soundfile kernel when the import probe found it
    (undecodable rows degrade to decode_ok=False, never a task failure);
    without soundfile it raises so a misconfigured cluster fails loudly
    at plan time instead of emitting fake features — the same probe
    contract as the image paths."""
    if not fake and not _HAVE_SOUNDFILE:
        raise NotImplementedError(
            "real audio decoding requires soundfile/librosa, not present "
            "in this environment (import probe) — pass fake=True to "
            "exercise the pipeline with the deterministic stub decoder"
        )
    decode = _fake_audio_decode if fake else _real_audio_decode

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content, sr in zip(
                pdf["media_id"], pdf["content"], pdf["sample_rate"]
            ):
                try:
                    dur, feats = decode(bytes(content or b""))
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


def sample_video_frames(
    media: DataFrame, every_ms: int = 1000, max_frames: int = 16, fake: bool = True
) -> DataFrame:
    """UDTF-shaped fan-out: one row per sampled frame. The fake decoder
    derives a deterministic duration from the digest and emits md5-chained
    frame payloads; a real deployment swaps in ffmpeg keyframe extraction
    with the identical (schema, fan-out, batching) shape."""
    if not fake:
        raise NotImplementedError(
            "real frame sampling requires ffmpeg, not present in this "
            "environment; pass fake=True to exercise the pipeline"
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content or b"")
                duration_ms, _ = _fake_audio_decode(b)
                n = min(max_frames, max(1, duration_ms // every_ms))
                for i in range(n):
                    frame = hashlib.md5(b + i.to_bytes(4, "big")).digest()
                    rows.append((mid, i, i * every_ms, frame))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "ts_ms", "frame"]
            )

    videos = media.where(F.col("kind") == "video").select("media_id", "content")
    return videos.mapInPandas(kernel, FRAME_SCHEMA)


def resize_images(
    media: DataFrame, width: int = 64, height: int = 64, fake: bool = True
) -> DataFrame:
    """Image resize kernel (PIL when the import probe found it and
    fake=False); the fake path emits a digest-derived payload of
    deterministic size so the Spark-side shape — narrow map, binary out,
    metadata columns — is real either way. Unresizable rows degrade to a
    NULL payload with resize_ok=False, never a task failure."""
    if not fake and not _HAVE_PIL:
        raise NotImplementedError(
            "real resizing requires PIL; not present in this environment "
            "(import probe) — pass fake=True to exercise the pipeline"
        )

    def _resize_real(content: bytes) -> bytes:
        img = _PILImage.open(io.BytesIO(content)).convert("RGB")
        return img.resize((width, height)).tobytes()  # raw RGB, w*h*3 bytes

    def _resize_fake(content: bytes) -> bytes:
        seed = hashlib.md5(content + f"{width}x{height}".encode()).digest()
        return (seed * ((width * height) // len(seed) + 1))[: width * height]

    resize = _resize_fake if fake else _resize_real

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


def synth_media(spark, n: int = 100) -> DataFrame:
    """Deterministic fake media table (binary payload = md5-chained bytes)."""
    df = spark.range(n)
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
