"""Incremental entity resolution over a page stream.

Batch ER (plans/pipeline.py) re-clusters the world; this module
handles the streaming regime: pages arrive continuously, and each
micro-batch must be resolved against the *existing* entity store
without recomputing it.

Design:
- ``readStream`` over a parquet directory (swap for Kafka on a real
  deployment — the transformations don't change).
- Per micro-batch (``foreachBatch`` — the exactly-once-style sink
  pattern): normalize → exact-match against the current entity store
  on text_md5 (broadcast-friendly lookup join) → matched pages append
  to lineage; unmatched pages become new entities.  The entity store
  lives in the snapshot catalog, so each micro-batch commit is a
  snapshot — stream restart resumes from the last committed state.
- Event-time windowed metrics with a watermark handle late data for
  the observability stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.merge import ues_id
from ..operators.normalize_stage import normalize_pages
from ..schemas import WEB_PAGES
from ..sources.catalog import TableCatalog

ENTITY_STORE = "stream_entities"
STREAM_LINEAGE = "stream_lineage"


def read_page_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(WEB_PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def resolve_batch(batch: DataFrame, catalog: TableCatalog) -> None:
    """One micro-batch of raw pages → entity store + lineage update.

    Idempotent per page url: a url already in lineage is skipped, so
    redelivered files don't double-count (streaming restarts replay
    uncommitted batches)."""
    normalized = normalize_pages(batch).select(
        "url", "text_md5", "canonical_text", "lang", "warc_ts"
    )
    # de-dup within the batch: the min-url page per md5 is the batch
    # champion, and its text and lang come from that same page (pages
    # sharing a norm_text can differ in case, punctuation and lang)
    champions = normalized.groupBy("text_md5").agg(
        F.min(F.struct("url", "canonical_text", "lang")).alias("c"),
        F.min("warc_ts").alias("first_seen_ts"),
    ).select("text_md5", "c.url", "c.canonical_text", "c.lang", "first_seen_ts")
    if catalog.exists(ENTITY_STORE):
        store = catalog.read(ENTITY_STORE)
        known_urls = catalog.read(STREAM_LINEAGE).select("source_id")
        normalized = normalized.join(
            known_urls, normalized.url == known_urls.source_id, "left_anti"
        )
        champions = champions.join(
            store.select("text_md5"), "text_md5", "left_anti"
        )
    new_entities = champions.select(
        ues_id(F.col("text_md5"), prefix="stream").alias("ues_entity_id"),
        "text_md5",
        F.col("url").alias("canonical_url"),
        "canonical_text",
        "lang",
        "first_seen_ts",
    )
    catalog.write(ENTITY_STORE, new_entities, mode="append")

    store = catalog.read(ENTITY_STORE)
    lineage = normalized.join(
        store.select("text_md5", "ues_entity_id"), "text_md5"
    ).select(
        "ues_entity_id",
        F.lit("stream").alias("source_system"),
        F.col("url").alias("source_id"),
    )
    catalog.write(STREAM_LINEAGE, lineage, mode="append")


def start_incremental_resolution(
    spark: SparkSession,
    input_dir: str,
    catalog: TableCatalog,
    checkpoint_dir: str,
) -> StreamingQuery:
    stream = read_page_stream(spark, input_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda df, _epoch: resolve_batch(df, catalog)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_session_windows(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming form of ``operators.sessions.session_windows`` — the
    IDENTICAL session_window group key, plus a watermark so the state
    store can evict sessions whose end is older than the watermark
    (Structured Streaming maintains in-flight sessions incrementally
    and merges late events that land inside an open gap).  Keeping one
    expression for both regimes means the batch oracle value-checks
    the streaming operator's session semantics too.

    Late-data fine print, pinned by
    tests/test_sessions.py::test_stream_sessions_late_and_duplicate_events:
    Spark filters late INPUT rows against the previous batch's
    watermark but EVICTS state against the current one, and both only
    run when a micro-batch executes — so a late row in the very batch
    that first advances the watermark still emits (as a fragment
    session), while the same row one batch later is dropped; evicted
    sessions are immutable either way."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col).alias("user_id"),
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def windowed_page_metrics(
    pages_stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    exact_domains: bool = False,
) -> DataFrame:
    """Event-time page-rate metrics with late-data handling: count +
    distinct-domain count per (window, lang).

    ``exact_domains=False`` (the streaming default) uses the HLL++
    sketch — the only distinct aggregate Structured Streaming supports
    incrementally.  ``exact_domains=True`` swaps in the exact
    countDistinct for BATCH runs of the same plan, making every output
    column DuckDB-oracle-checkable (HLL++ is approximate even at tiny
    cardinalities — measured 19 vs 20 true domains — so the sketch
    column can never hash-match an exact oracle)."""
    from ..functions.normalize import domain_col

    base = pages_stream.withColumn("domain", domain_col(F.col("url")))
    win = (
        F.window("warc_ts", window, slide) if slide else F.window("warc_ts", window)
    )
    domains = (
        F.countDistinct("domain") if exact_domains
        else F.approx_count_distinct("domain")
    ).alias("n_domains" if exact_domains else "approx_domains")
    return (
        base.withWatermark("warc_ts", watermark)
        .groupBy(win.alias("win"), "lang")
        .agg(F.count("*").alias("n_pages"), domains)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "lang",
            "n_pages",
            "n_domains" if exact_domains else "approx_domains",
        )
    )
