"""Flagship in-memory ER run over a ``documents``-shaped table.

The driver's smoke entry (``__spark_entry__.py:entry``) and the
rows-only correctness query both resolve the testdata ``documents``
table end-to-end: adapt to the web_pages schema, then run the
pipeline's resolve chain (``pipeline.resolve``: normalize → block
(exact + MinHash-LSH) → score (Arrow-batched features + logistic) →
route → connected components) with no snapshot catalog, and return the
cluster assignments with their sizes (the entry wants one DataFrame
back).  Its ``keep`` caches the normalized side and passes every other
stage's table through unevaluated.

Reference analog: cli/run_mapping.py:37-188's match→route→merge sweep
(/root/reference), collapsed to the single-source self-resolution case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from .pipeline import STAGE_TABLE, resolve


def documents_as_pages(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) → web_pages shape.

    url is deterministic (doc://{source}/{doc_id}); html is absent so
    the canonicalizer takes the text-column fallback path; warc_ts is a
    fixed epoch + doc_id offset (never wall-clock)."""
    return documents.select(
        F.concat(
            F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.timestamp_seconds(F.lit(1577836800) + F.col("doc_id")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def resolve_documents(
    spark: SparkSession,
    documents: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Full ER sweep; returns (url, cluster_id, n_members) assignments."""
    caches: list = []

    def keep(stage: str, build) -> DataFrame:
        table = build()[STAGE_TABLE[stage]]
        if stage != "normalize":
            return table
        # tiny corpora (sf0.001) still need the UDF-bearing plan to be
        # evaluated twice (blocking + scoring) — cache the normalized
        # side.  canonical_text is dropped BEFORE the cache (round 6): no
        # stage of the resolve (blocking keys, scoring match keys, CC
        # urls) reads it, and it is the widest column in the frame — the
        # projection halves the cache-fill bytes while norm_text is
        # still computed from it inside the one fused ArrowEvalPython
        # pass.  It stays cached: above the driver CC bound the returned
        # assignments still reference it lazily (the star path's
        # all_nodes singleton branch); under it they are a computed
        # Arrow frame that no longer reads it
        return table.drop("canonical_text").cache()

    _, _, assignments = resolve(
        documents_as_pages(documents), config, "flagship", keep, caches
    )
    # CC materialized the edge set (fetched to the driver, or through
    # the star loop's localCheckpoint rounds), so the returned
    # assignments no longer reference the blocking plans — those
    # caches are safe to release here
    for c in caches:
        c.unpersist()
    # cluster sizes as a window count (round 6): the groupBy+join form
    # paid two exchanges plus a join for the same value; the window
    # pays one hash exchange on cluster_id (guide §2.4 — same-key agg
    # and attach share one partitioning)
    w = Window.partitionBy("cluster_id")
    return assignments.select(
        "url", "cluster_id", F.count("*").over(w).alias("n_members")
    )
