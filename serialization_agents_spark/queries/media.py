"""Multimodal plumbing under the hash gate: image/audio feature decode,
video frame sampling and image resize over the synthetic media table.

The oracles rebuild operators/multimodal.py's synthetic table and fake
decoders in DuckDB: content is the utf-8 bytes of sha256('media'||id)'s
hex string, and every decoder output is md5-digest arithmetic over it
(multimodal._fake_decode / _fake_audio_decode) — so each column is a
closed-form SQL expression, exactly like the kg oracles reproduce the
page generator."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.operators.multimodal import (
    extract_audio_features,
    extract_image_features,
    resize_images,
    sample_video_frames,
    synth_media,
)
from serialization_agents_spark.queries.common import registry

ENTRIES, query = registry()

_MEDIA_SQL = """
WITH kinds AS (
  SELECT media_id,
         CASE WHEN media_id % 3 = 0 THEN 'audio'
              WHEN media_id % 7 = 1 THEN 'video'
              ELSE 'image' END AS kind
  FROM (SELECT unnest(range(200)) AS media_id)
)
"""


@query(
    _MEDIA_SQL
    + """
SELECT media_id,
       CAST(16 + ('0x' || substr(h, 1, 2))::INT % 240 AS INTEGER) AS width,
       CAST(16 + ('0x' || substr(h, 3, 2))::INT % 240 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       TRUE AS decode_ok
FROM (SELECT media_id, md5(sha256('media' || media_id)) AS h
      FROM kinds WHERE kind = 'image')
"""
)
def multimodal_image_features(spark, sf):
    media = synth_media(spark, n=200)
    return extract_image_features(media, fake=True).select(
        "media_id", "width", "height", "channels", "decode_ok"
    )


@query(
    _MEDIA_SQL
    + """
SELECT media_id,
       CAST(16000 AS INTEGER) AS sample_rate,
       CAST(500 + ('0x' || substr(h, 1, 4))::INT % 60000 AS INTEGER) AS duration_ms,
       TRUE AS decode_ok
FROM (SELECT media_id, md5('audio:' || sha256('media' || media_id)) AS h
      FROM kinds WHERE kind = 'audio')
"""
)
def multimodal_audio_features(spark, sf):
    media = synth_media(spark, n=200)
    return extract_audio_features(media).select(
        "media_id", "sample_rate", "duration_ms", "decode_ok"
    )


@query(
    _MEDIA_SQL
    + """
, vids AS (
  SELECT media_id,
         least(16, greatest(1,
           (500 + ('0x' || substr(md5('audio:' || sha256('media' || media_id)), 1, 4))::INT
            % 60000) // 1000)) AS n
  FROM kinds WHERE kind = 'video'
),
frames AS (SELECT media_id, unnest(range(0, n)) AS i FROM vids)
SELECT media_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * 1000 AS INTEGER) AS ts_ms
FROM frames
"""
)
def multimodal_frame_sample(spark, sf):
    media = synth_media(spark, n=200)
    return sample_video_frames(media, every_ms=1000, max_frames=16).select(
        "media_id", "frame_idx", "ts_ms"
    )


@query(
    _MEDIA_SQL
    + """
SELECT media_id,
       CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
       md5(repeat(md5(sha256('media' || media_id) || '64x64'), 256)) AS content_md5
FROM kinds WHERE kind = 'image'
"""
)
def multimodal_resize(spark, sf):
    """Resize kernel under the hash gate: the fake payload is a pure
    function of (content, target size), so its bytes are certified
    via md5-over-hex (DuckDB's md5 is VARCHAR-only)."""
    media = synth_media(spark, n=200)
    out = resize_images(media, width=64, height=64)
    return out.select(
        "media_id", "width", "height",
        F.md5(F.lower(F.hex("content"))).alias("content_md5"),
    )
