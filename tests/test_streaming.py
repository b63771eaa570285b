"""Structured-Streaming incremental resolution: micro-batch resolve
against the entity store, idempotent redelivery, windowed metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_engine_spark.sources.catalog import ParquetSnapshotCatalog
from entity_resolution_engine_spark.sources.synth import generate_web_pages
from entity_resolution_engine_spark.streaming.incremental import (
    ENTITY_STORE,
    STREAM_LINEAGE,
    resolve_batch,
    start_incremental_resolution,
    windowed_page_metrics,
)


@pytest.fixture()
def cat(spark, tmp_path):
    return ParquetSnapshotCatalog(spark, str(tmp_path / "cat"))


def test_resolve_batch_builds_store_and_lineage(spark, cat):
    pages, _ = generate_web_pages(spark, 120, seed=7)
    resolve_batch(pages, cat)
    store = cat.read(ENTITY_STORE)
    lineage = cat.read(STREAM_LINEAGE)
    assert store.count() == store.select("text_md5").distinct().count()
    assert lineage.count() == pages.count()
    # every page url maps to exactly one entity
    assert lineage.select("source_id").distinct().count() == pages.count()


def test_resolve_batch_idempotent_on_redelivery(spark, cat):
    pages, _ = generate_web_pages(spark, 100, seed=7)
    resolve_batch(pages, cat)
    n_store = cat.read(ENTITY_STORE).count()
    n_lineage = cat.read(STREAM_LINEAGE).count()
    resolve_batch(pages, cat)  # redelivered micro-batch
    assert cat.read(ENTITY_STORE).count() == n_store
    assert cat.read(STREAM_LINEAGE).count() == n_lineage


def test_batch_entity_is_min_url_page(spark, tmp_path):
    """Pages sharing a norm_text but not their case, punctuation or
    lang: the entity's text and lang come from its canonical (min-url)
    page, whatever the partitioning or the input order."""
    import datetime

    from entity_resolution_engine_spark.operators.normalize_stage import (
        normalize_pages,
    )
    from entity_resolution_engine_spark.schemas import WEB_PAGES

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("http://b.org/2", ts, None, "hello world!", "de"),
        ("http://a.org/1", ts, None, "Hello World", "en"),
    ]
    want = (
        normalize_pages(spark.createDataFrame(rows, WEB_PAGES))
        .filter(F.col("url") == "http://a.org/1")
        .select(
            F.col("url").alias("canonical_url"), "canonical_text", "lang"
        )
        .first()
    )
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        for n in (1, 7):
            spark.conf.set(key, str(n))
            for i, order in enumerate((rows, rows[::-1])):
                cat = ParquetSnapshotCatalog(spark, str(tmp_path / f"cat{n}_{i}"))
                resolve_batch(spark.createDataFrame(order, WEB_PAGES), cat)
                got = cat.read(ENTITY_STORE).select(
                    "canonical_url", "canonical_text", "lang"
                ).collect()
                assert got == [want], (n, order[0][0])
    finally:
        spark.conf.set(key, prev)


def test_incremental_matches_existing_entities(spark, cat):
    pages, _ = generate_web_pages(spark, 100, seed=7)
    b1 = pages.filter(F.xxhash64("url") % 2 == 0)
    b2 = pages  # second batch re-delivers b1 plus the rest
    resolve_batch(b1, cat)
    resolve_batch(b2, cat)
    store = cat.read(ENTITY_STORE)
    lineage = cat.read(STREAM_LINEAGE)
    assert lineage.count() == pages.count()
    # exact-dup pages across batches resolve to the SAME entity
    joined = lineage.groupBy("ues_entity_id").count()
    assert joined.count() == store.count()


def test_streaming_end_to_end(spark, cat, tmp_path):
    pages, _ = generate_web_pages(spark, 80, seed=9)
    in_dir = str(tmp_path / "in")
    pages.repartition(4).write.parquet(in_dir)
    q = start_incremental_resolution(
        spark, in_dir, cat, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert cat.exists(ENTITY_STORE)
    assert cat.read(STREAM_LINEAGE).count() == pages.count()


def test_windowed_metrics_batch_shape(spark):
    # windowed agg expression validated on a batch frame (same plan
    # works under a stream with the watermark)
    pages, _ = generate_web_pages(spark, 200, seed=3)
    out = windowed_page_metrics(pages)
    rows = out.collect()
    assert rows and all(r.n_pages > 0 for r in rows)
    assert {c for c in out.columns} == {
        "window_start", "window_end", "lang", "n_pages", "approx_domains"
    }
