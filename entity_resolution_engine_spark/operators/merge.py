"""Stage 6 — survivorship merge + lineage.

Analog of the reference's merger layer
(/root/reference/entity_resolution_engine/merger/teams_merge.py:9-48 —
coalesce-based survivorship; ues_writer/writer.py:13-16 — deterministic
md5 entity ids; lineage/lineage_builder.py:4-19 — fixed lineage shape;
writer.py:39-43 — lineage explosion into source_lineage rows).

Survivorship rule for web pages: the canonical record is the member
with the earliest warc_ts (ties broken by url) — "first crawl wins",
the analog of the reference's alpha-preferred coalesce.  The member
rows and the approved-edge rows are unioned, joined to the cluster
assignments once, and reduced by one ``groupBy(cluster_id)``: the
canonical pick is the min of a ``(warc_ts, url, …)`` struct, and the
confidence is a mean summed as a decimal, so no output depends on how
the inputs are partitioned.

Lineage stays a typed struct column through the plan and serializes
with ``to_json`` only at the sink boundary (SURVEY.md §1.2 JSONB rule);
member lists inside the JSON are capped with an explicit
``n_sources_total`` so huge clusters can't blow a row (no silent caps —
the count says what was dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LINEAGE_SAMPLE = 32  # max source urls embedded per entity's lineage JSON


def ues_id(cluster_id_col: F.Column, prefix: str = "page") -> F.Column:
    """Deterministic entity key — same construction as the reference's
    generate_ues_id (writer.py:13-16): '{prefix}-{md5(seedstr)[:8]}'."""
    return F.concat(
        F.lit(prefix),
        F.lit("-"),
        F.substring(F.md5(F.concat_ws("-", F.lit(prefix), cluster_id_col)), 1, 8),
    )


def merge_entities(
    clusters: DataFrame, normalized: DataFrame, routed: DataFrame
) -> DataFrame:
    """(url, cluster_id) ⨝ normalized pages → one canonical entity row
    per cluster, with the columns of the final select below."""
    members = normalized.select(
        "url",
        "canonical_text",
        "lang",
        "warc_ts",
        F.lit(None).alias("score"),
        F.lit(False).alias("is_edge"),
    )
    # approved edges keyed by url_a: their scores give the confidence
    approved = routed.filter(F.col("routed_status") == "approved").select(
        F.col("url_a").alias("url"),
        *(F.lit(None).alias(c) for c in ("canonical_text", "lang", "warc_ts")),
        "score",
        F.lit(True).alias("is_edge"),
    )
    member = ~F.col("is_edge")
    entities = (
        members.unionByName(approved)
        .join(clusters.select("url", "cluster_id"), "url")
        .groupBy("cluster_id")
        .agg(
            F.count(F.when(member, 1)).cast("int").alias("member_count"),
            F.min("warc_ts").alias("first_seen_ts"),
            F.max("warc_ts").alias("last_seen_ts"),
            F.slice(
                F.sort_array(F.collect_list(F.when(member, F.col("url")))),
                1,
                _LINEAGE_SAMPLE,
            ).alias("source_urls"),
            # first crawl wins: a struct compares field by field, and a
            # null warc_ts sorts first, as an ascending sort puts it
            F.min(
                F.when(
                    member,
                    F.struct("warc_ts", "url", "canonical_text", "lang"),
                )
            ).alias("canonical"),
            # mean approved-edge score, summed as a decimal (exact, so
            # order-free): a double sum depends on the order partitions
            # arrive in
            F.avg(F.col("score").cast("decimal(38,18)"))
            .cast("double")
            .alias("merge_confidence"),
        )
        # a cluster none of whose urls is a normalized page has no entity
        .filter(F.col("member_count") > 0)
        .select(
            "cluster_id",
            F.col("canonical.url").alias("canonical_url"),
            "canonical.canonical_text",
            "canonical.lang",
            "first_seen_ts",
            "last_seen_ts",
            "member_count",
            "source_urls",
            F.coalesce("merge_confidence", F.lit(1.0)).alias("merge_confidence"),
        )
        .withColumn("ues_entity_id", ues_id(F.col("cluster_id")))
        .withColumn(
            "lineage",
            F.to_json(
                F.struct(
                    F.transform(
                        F.col("source_urls"),
                        lambda u: F.struct(
                            F.lit("web").alias("source"), u.alias("id")
                        ),
                    ).alias("sources"),
                    F.col("member_count").alias("n_sources_total"),
                    F.col("merge_confidence").alias("confidence"),
                    F.lit("web_page").alias("entity_type"),
                )
            ),
        )
        .select(
            "ues_entity_id",
            "cluster_id",
            "canonical_url",
            "canonical_text",
            "lang",
            "first_seen_ts",
            "last_seen_ts",
            "member_count",
            "merge_confidence",
            "lineage",
        )
    )
    return entities


def source_lineage(clusters: DataFrame) -> DataFrame:
    """One row per (entity, source url) — the reference's
    source_lineage explosion (writer.py:39-43) without the JSON
    round-trip: derived straight from the assignment table, so it is
    complete even when the embedded lineage JSON is sampled."""
    return clusters.select(
        ues_id(F.col("cluster_id")).alias("ues_entity_id"),
        F.lit("web").alias("source_system"),
        F.col("url").alias("source_id"),
    )
