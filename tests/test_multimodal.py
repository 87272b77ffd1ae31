"""Multimodal plumbing: binary+metadata schema, Arrow transfer into
``mapInArrow`` stages, deterministic fake codec, error capture, frame
explode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkocr.multimodal import (
    IMG_MAGIC,
    MEDIA_SCHEMA,
    fake_image,
    fake_video,
    image_features,
    media_rows,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    return spark.createDataFrame(media_rows(60), MEDIA_SCHEMA).cache()


def test_fake_payloads_deterministic():
    assert fake_image(5, 16, 16) == fake_image(5, 16, 16)
    assert fake_image(5, 16, 16) != fake_image(6, 16, 16)
    assert fake_image(1, 8, 8)[:8] == IMG_MAGIC


def test_image_features_schema_and_determinism(spark, media):
    imgs = media.where(F.col("kind") == "image")
    out = image_features(imgs)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "kind", "width", "height", "features", "decode_error"]
    rows = {r["media_id"]: r for r in out.collect()}
    assert all(r["decode_error"] is None for r in rows.values())
    # mean + std + 8 histogram bins
    assert all(len(r["features"]) == 10 for r in rows.values())
    rows2 = {r["media_id"]: r for r in image_features(imgs).collect()}
    assert all(rows[k]["features"] == rows2[k]["features"] for k in rows)


def test_image_features_error_capture(spark):
    bad = spark.createDataFrame(
        [(1, "image", b"\x89PNG not really a png", 4, 4, 1),
         (2, "image", None, 4, 4, 1)],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in image_features(bad).collect()}
    assert rows[1]["features"] is None
    assert "NotImplementedError" in rows[1]["decode_error"]
    assert rows[2]["decode_error"] == "null payload"


def test_sample_frames(spark, media):
    vids = media.where(F.col("kind") == "video")
    meta = {r["media_id"]: r for r in vids.collect()}
    out = sample_frames(vids, every_n=2)
    got = out.groupBy("media_id").count().collect()
    for r in got:
        nf = meta[r["media_id"]]["n_frames"]
        assert r["count"] == (nf + 1) // 2
    one = out.where(F.col("media_id") == 2).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in one] == list(range(0, meta[2]["n_frames"], 2))
    # frame bytes are the right slice of the deterministic payload
    w, h = meta[2]["width"], meta[2]["height"]
    payload = bytes(meta[2]["payload"])
    assert bytes(one[1]["frame"]) == payload[12 + 2 * w * h: 12 + 3 * w * h]


def test_sample_frames_truncated_header_is_skipped(spark, media):
    """A blob cut off inside the 12-byte header must be skipped like any
    other non-video payload, not crash the task with struct.error
    (review finding)."""
    from sparkocr.multimodal import VID_MAGIC

    good = fake_video(7, n_frames=3, frame_len=16)
    bad = spark.createDataFrame(
        [(1, "video", VID_MAGIC + b"\x02", 4, 4, 3),   # 9-byte header
         (2, "video", VID_MAGIC, 4, 4, 3),             # magic only
         (3, "video", good, 4, 4, 3)],
        MEDIA_SCHEMA,
    )
    rows = sample_frames(bad, every_n=1).collect()
    assert {r["media_id"] for r in rows} == {3}
    assert len(rows) == 3


def test_image_features_zero_size_is_decode_error(spark):
    """A FAKEIMG1 header declaring width or height 0 must be flagged as a
    decode error, not emit an all-NaN feature vector (review finding)."""
    import struct

    from sparkocr.multimodal import IMG_MAGIC

    zero_w = IMG_MAGIC + struct.pack("<HH", 0, 8)
    zero_h = IMG_MAGIC + struct.pack("<HH", 8, 0)
    bad = spark.createDataFrame(
        [(1, "image", zero_w, 0, 8, 1), (2, "image", zero_h, 8, 0, 1)],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in image_features(bad).collect()}
    for k in (1, 2):
        assert rows[k]["features"] is None
        assert "zero pixels" in rows[k]["decode_error"]
