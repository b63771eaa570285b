"""Multimodal plumbing: schemas, Arrow batch shapes, frame sampling,
payload-budget partitioning (decode itself is a deterministic stub)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_engine_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(i, f"payload text {i} " * (i + 1)) for i in range(30)],
        ["doc_id", "text"],
    )
    return MM.synthesize_media(docs).cache()


def test_media_schema_and_kinds(media):
    assert media.schema == MM.MEDIA_SCHEMA or [f.name for f in media.schema] == [
        "media_id", "kind", "payload", "source_url"
    ]
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds <= {"image", "audio", "video"} and len(kinds) == 3


def test_feature_extraction_deterministic(media):
    f1 = MM.extract_media_features(media)
    rows = {r.media_id: r for r in f1.collect()}
    assert len(rows) == 30
    for r in rows.values():
        assert r.n_bytes > 0
        assert 64 <= r.width and 64 <= r.height
        assert len(r.features) == MM.FEATURE_DIM
    rows2 = {r.media_id: r for r in MM.extract_media_features(media).collect()}
    assert rows[5].features == rows2[5].features  # executor-stable


def test_real_decoder_is_explicit_stub(media):
    with pytest.raises(NotImplementedError):
        MM.extract_media_features(media, decoder="real")
    with pytest.raises(ValueError):
        MM.extract_media_features(media, decoder="bogus")


def test_frame_sampling_only_video(media):
    frames = MM.sample_frames(media, n_frames=4)
    got = frames.collect()
    video_ids = {r.media_id for r in media.filter("kind = 'video'").collect()}
    assert {r.media_id for r in got} <= video_ids
    per = {}
    for r in got:
        per.setdefault(r.media_id, []).append(r.frame_idx)
    for idxs in per.values():
        assert sorted(idxs) == list(range(len(idxs)))  # 0..k-1 strides


def test_payload_budget_partitioning(media):
    out = MM.partition_by_payload_budget(media, target_bytes_per_partition=512)
    assert out.rdd.getNumPartitions() >= 2
    assert out.count() == 30


def test_features_feed_ann(spark, media):
    # the multimodal features column plugs into the ANN operator
    from entity_resolution_engine_spark.operators.ann import brute_force_topk

    feats = MM.extract_media_features(media).select(
        F.col("media_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    queries = feats.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(feats, queries, MM.FEATURE_DIM, k=3)
    assert out.count() == 9
