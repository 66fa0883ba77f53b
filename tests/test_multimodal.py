"""Multimodal plumbing: mapInPandas schema/batching with the stand-in
decoders, and the per-row failure flag."""

from __future__ import annotations

from serialization_agents_spark.operators import multimodal as M
from serialization_agents_spark.operators.multimodal import (
    N_MEDIA,
    extract_audio_features,
    extract_image_features,
    resize_images,
    sample_video_frames,
    synth_media,
)


def test_image_feature_extraction_schema_and_determinism(spark):
    media = synth_media(spark)
    out = extract_image_features(media)
    rows = {r["media_id"]: r for r in out.collect()}
    # only image rows (not audio id%3==0, not video id%7==1) survive
    assert set(rows) == {
        i for i in range(N_MEDIA) if i % 3 != 0 and i % 7 != 1
    }
    r = rows[2]
    assert r["decode_ok"] and r["channels"] == 3
    assert 16 <= r["width"] <= 255 and 16 <= r["height"] <= 255
    assert len(r["feature"]) == 8
    # deterministic across runs
    rows2 = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert rows2[2]["feature"] == r["feature"]


def test_audio_features_kind_filter_and_meta_carry(spark):
    media = synth_media(spark)
    rows = {r["media_id"]: r for r in extract_audio_features(media).collect()}
    assert set(rows) == {i for i in range(N_MEDIA) if i % 3 == 0}
    r = rows[0]
    assert r["decode_ok"] and r["sample_rate"] == 16000
    assert 500 <= r["duration_ms"] <= 60_500 and len(r["feature"]) == 8


def test_frame_sampling_fanout_is_bounded_and_deterministic(spark):
    media = synth_media(spark)
    frames = sample_video_frames(media)
    rows = frames.collect()
    vids = {i for i in range(N_MEDIA) if i % 3 != 0 and i % 7 == 1}
    assert {r["media_id"] for r in rows} == vids
    per = {}
    for r in rows:
        per.setdefault(r["media_id"], []).append((r["frame_idx"], r["ts_ms"]))
        assert len(r["frame"]) == 16  # md5 payload per frame
    for mid, fs in per.items():
        assert 1 <= len(fs) <= 16
        assert sorted(fs) == [(i, i * 1000) for i in range(len(fs))]
    # deterministic re-run
    again = sorted((r["media_id"], r["frame_idx"], bytes(r["frame"])) for r in frames.collect())
    first = sorted((r["media_id"], r["frame_idx"], bytes(r["frame"])) for r in rows)
    assert again == first


def test_resize_payload_shape(spark, monkeypatch):
    monkeypatch.setattr(M, "RESIZE_WIDTH", 32)
    monkeypatch.setattr(M, "RESIZE_HEIGHT", 8)
    media = synth_media(spark)
    out = resize_images(media).collect()
    assert all(len(r["content"]) == 32 * 8 for r in out)
    assert all(r["width"] == 32 and r["height"] == 8 for r in out)
    assert all(r["resize_ok"] for r in out)


def test_resize_failure_is_flagged(spark, monkeypatch):
    """A row the kernel cannot resize comes back as a NULL payload with
    resize_ok=False. The kernel runs in-process here: the stand-in
    resize cannot fail on real bytes."""
    import pandas as pd

    kernels = []

    class Frame:  # records the kernel resize_images hands to mapInPandas
        def where(self, _cond):
            return self

        def select(self, *_cols):
            return self

        def mapInPandas(self, kernel, _schema):
            kernels.append(kernel)

    M.resize_images(Frame())

    def broken(*_args):
        raise ValueError("undecodable")

    monkeypatch.setattr(M.hashlib, "md5", broken)
    batch = pd.DataFrame({"media_id": [7], "content": [b"payload"]})
    (out,) = kernels[0](iter([batch]))
    assert out["resize_ok"].tolist() == [False]
    assert out["content"].tolist() == [None]
