"""Multimodal plumbing: schema, mapInPandas batch shape, deterministic fake
decode, frame-sampling plan, metadata-only stats."""

import pytest
from pyspark.sql import functions as F

from etl_processes_spark.ops.multimodal import (
    FEATURE_DIM,
    extract_features,
    frame_sample_plan,
    media_stats,
)
from fixture_producers import make_fake_media_df


@pytest.fixture(scope="module")
def media(spark):
    return make_fake_media_df(spark, n=24).persist()


def test_extract_features_shape_and_determinism(media):
    a = extract_features(media).orderBy("media_id").collect()
    b = extract_features(media).orderBy("media_id").collect()
    assert len(a) == 24
    for r in a:
        assert len(r["features"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
    assert [r["features"] for r in a] == [r["features"] for r in b]


def test_frame_sample_plan(media):
    plan = frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    assert all(r["frame_ts_ms"] % 1000 == 0 for r in rows)
    n_videos = media.filter("kind = 'video'").count()
    assert plan.select("media_id").distinct().count() == n_videos


def test_media_stats_by_kind(media):
    stats = {r["kind"]: r for r in media_stats(media).collect()}
    assert set(stats) == {"image", "audio", "video"}
    assert stats["image"]["avg_duration_ms"] is None
    assert stats["video"]["total_bytes"] > 0


def test_kernel_contract_and_swap(media):
    """The feature kernel satisfies its contract — (bytes|None) ->
    ndarray(dim,) float64, deterministic — and extract_features applies it
    per payload with the requested dim."""
    import numpy as np

    from etl_processes_spark.ops.multimodal import _fake_features

    v = _fake_features(b"abc", 16)
    assert isinstance(v, np.ndarray) and v.shape == (16,) and v.dtype == np.float64
    assert np.array_equal(v, _fake_features(b"abc", 16))  # deterministic
    assert _fake_features(None, 16).shape == (16,)        # None-safe

    content = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    rows = extract_features(media, dim=4).collect()
    assert len(rows) == len(content)
    for r in rows:
        assert r["features"] == _fake_features(content[r["media_id"]], 4).tolist()
