"""Multimodal plumbing: schemas/batch shapes real, decode stubbed."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from judyst_web_crawler_spark.operators import multimodal as M


def test_decode_stubs_raise():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"x")
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"x")


def test_feature_extraction_end_to_end(spark):
    media = M.synthetic_media_df(spark, n_rows=60, seed=9)
    out = M.extract_media_features(media).collect()
    assert len(out) == 60
    by_id = {r["media_id"]: r for r in out}
    src = {r["media_id"]: r for r in media.collect()}
    for mid, r in by_id.items():
        payload = bytes(src[mid]["payload"])
        assert r["sha256"] == hashlib.sha256(payload).hexdigest()
        assert r["n_bytes"] == len(payload)
        assert len(r["features"]) == 8
        if r["kind"] == "image":
            assert r["width"] is not None and 64 <= r["width"] < 256
        else:
            assert r["width"] is None


def test_frame_sample_plan(spark):
    media = M.synthetic_media_df(spark, n_rows=9, seed=1).filter(F.col("kind") == "video")
    plan = M.frame_sample_plan(media, every_n=10)
    rows = plan.collect()
    src = {r["media_id"]: r["n_frames"] for r in media.collect()}
    for mid, n in src.items():
        idxs = sorted(r["frame_idx"] for r in rows if r["media_id"] == mid)
        assert idxs == list(range(0, max(n - 1, 0) + 1, 10))
