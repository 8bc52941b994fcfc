"""Multimodal operator tests."""

import pytest
from pyspark.sql import functions as F

from myaku_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synth_media_df,
)


def test_multimodal_features(spark):
    media = synth_media_df(spark, 24)
    feats = extract_features(media).collect()
    assert len(feats) == 24
    for r in feats:
        assert len(r.feature) == 64
        assert r.n_bytes > 0
    # Deterministic: same media id → same feature.
    feats2 = extract_features(media).collect()
    m1 = {r.media_id: r.feature for r in feats}
    m2 = {r.media_id: r.feature for r in feats2}
    assert m1 == m2


def test_frame_sample_plan(spark):
    media = synth_media_df(spark, 12)
    plan = frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    vids = media.filter(F.col("kind") == "video").count()
    assert len(rows) == vids * 5  # 5000ms / 1000ms
    assert {r.frame_ts_ms for r in rows} == {0, 1000, 2000, 3000, 4000}


def test_multimodal_unknown_kind_raises(spark):
    from myaku_spark.operators.multimodal import _fake_decode

    with pytest.raises(NotImplementedError):
        _fake_decode(b"xx", "hologram")


def test_resize_images_real(spark):
    """Resize is a REAL raster transform now: image rows only, output
    payloads are valid PNGs of exactly (height, width), pixel values a
    nearest-neighbor gather of the source raster; the binary column
    chains into the feature extractor."""
    import numpy as np

    from myaku_spark.functions.imagecodec import decode_png, resize_nearest
    from myaku_spark.operators.multimodal import (
        extract_features,
        resize_images,
        synth_image_raster,
        synth_media_df,
    )

    media = synth_media_df(spark, 12)
    resized = resize_images(media, width=16, height=8)
    rows = resized.collect()
    assert len(rows) == sum(1 for r in media.collect() if r.kind == "image")
    for r in rows:
        raster = decode_png(bytes(r.payload))
        assert raster.shape == (8, 16, 3)
        want = resize_nearest(synth_image_raster(r.media_id), 16, 8)
        assert np.array_equal(raster, want)
    # Chain: resized binary → feature extraction (same Arrow plumbing).
    chained = extract_features(
        resized.withColumn("kind", F.lit("image"))
    ).collect()
    assert all(len(r.feature) == 64 for r in chained)
