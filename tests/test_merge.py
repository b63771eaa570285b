"""Survivorship merge + deterministic UES ids + lineage."""

from __future__ import annotations

import datetime as dt
import hashlib
import json

from pyspark.sql import functions as F

from entity_resolution_engine_spark.operators.merge import (
    merge_entities,
    source_lineage,
    ues_id,
)


def _ts(h):
    return dt.datetime(2020, 1, 1, h)


def _fixtures(spark):
    clusters = spark.createDataFrame(
        [("u1", "c1"), ("u2", "c1"), ("u3", "c1"), ("u9", "u9")],
        ["url", "cluster_id"],
    )
    normalized = spark.createDataFrame(
        [
            ("u1", "text one", "en", _ts(3)),
            ("u2", "text two", "en", _ts(1)),  # earliest → canonical
            ("u3", "text three", "en", _ts(2)),
            ("u9", "solo", "fr", _ts(5)),
        ],
        ["url", "canonical_text", "lang", "warc_ts"],
    )
    routed = spark.createDataFrame(
        [
            ("u1", "u2", 0.9, "approved"),
            ("u2", "u3", 0.7, "approved"),
            ("u1", "u3", 0.2, "rejected"),
        ],
        ["url_a", "url_b", "score", "routed_status"],
    )
    return clusters, normalized, routed


def test_survivorship_first_crawl_wins(spark):
    clusters, normalized, routed = _fixtures(spark)
    ents = {r.cluster_id: r for r in merge_entities(clusters, normalized, routed).collect()}
    assert len(ents) == 2
    c1 = ents["c1"]
    assert c1.canonical_url == "u2"
    assert c1.canonical_text == "text two"
    assert c1.member_count == 3
    assert c1.first_seen_ts == _ts(1) and c1.last_seen_ts == _ts(3)
    assert abs(c1.merge_confidence - 0.8) < 1e-9  # mean of approved 0.9, 0.7
    solo = ents["u9"]
    assert solo.member_count == 1 and solo.merge_confidence == 1.0


def test_ues_id_reference_construction(spark):
    # byte-parity with the reference's generate_ues_id (writer.py:13-16)
    df = spark.range(1).select(ues_id(F.lit("clusterX"), "page").alias("id"))
    want = "page-" + hashlib.md5(b"page-clusterX").hexdigest()[:8]
    assert df.collect()[0].id == want


def test_lineage_json_shape(spark):
    clusters, normalized, routed = _fixtures(spark)
    ents = merge_entities(clusters, normalized, routed).collect()
    lin = json.loads(next(e.lineage for e in ents if e.cluster_id == "c1"))
    assert lin["entity_type"] == "web_page"
    assert lin["n_sources_total"] == 3
    assert [s["id"] for s in lin["sources"]] == ["u1", "u2", "u3"]


def test_source_lineage_explosion(spark):
    clusters, _, _ = _fixtures(spark)
    rows = source_lineage(clusters).collect()
    assert len(rows) == 4
    assert {r.source_id for r in rows} == {"u1", "u2", "u3", "u9"}
    assert all(r.source_system == "web" for r in rows)


def _window_merge(clusters, normalized, routed):
    """The window + three-join form ``merge_entities`` replaced, kept as
    the reference: canonical = row_number 1 over (warc_ts, url)
    ascending, stats from a second groupBy, confidence as a double
    mean joined in."""
    from pyspark.sql import Window

    members = clusters.join(
        normalized.select("url", "canonical_text", "lang", "warc_ts"), "url"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.asc("warc_ts"), F.asc("url"))
    ranked = members.withColumn("rk", F.row_number().over(w))
    conf = (
        routed.filter(F.col("routed_status") == "approved")
        .join(clusters.select(F.col("url").alias("url_a"), "cluster_id"), "url_a")
        .groupBy("cluster_id")
        .agg(F.avg("score").alias("merge_confidence"))
    )
    stats = ranked.groupBy("cluster_id").agg(
        F.count("*").cast("int").alias("member_count"),
        F.min("warc_ts").alias("first_seen_ts"),
        F.max("warc_ts").alias("last_seen_ts"),
        F.slice(F.sort_array(F.collect_list("url")), 1, 32).alias("source_urls"),
    )
    canonical = ranked.filter(F.col("rk") == 1).select(
        "cluster_id", F.col("url").alias("canonical_url"), "canonical_text", "lang"
    )
    return (
        canonical.join(stats, "cluster_id")
        .join(conf, "cluster_id", "left")
        .withColumn("merge_confidence", F.coalesce("merge_confidence", F.lit(1.0)))
        .withColumn("ues_entity_id", ues_id(F.col("cluster_id")))
        .withColumn(
            "lineage",
            F.to_json(
                F.struct(
                    F.transform(
                        F.col("source_urls"),
                        lambda u: F.struct(F.lit("web").alias("source"), u.alias("id")),
                    ).alias("sources"),
                    F.col("member_count").alias("n_sources_total"),
                    F.col("merge_confidence").alias("confidence"),
                    F.lit("web_page").alias("entity_type"),
                )
            ),
        )
        .select(
            "ues_entity_id", "cluster_id", "canonical_url", "canonical_text", "lang",
            "first_seen_ts", "last_seen_ts", "member_count", "merge_confidence",
            "lineage",
        )
    )


def _random_inputs(spark, seed):
    """Random clusters of 1-40 urls with null and tied warc_ts, approved
    and rejected edges with repeated scores, some clusters with no
    approved edge, one cluster with no normalized page and clusters
    over 32 members (a sampled lineage)."""
    import random

    rng = random.Random(seed)
    hours = [None, 0, 1, 1, 2, 5]  # null and tied crawl times
    scores = [0.5, 0.75, 0.1, 1 / 3, 0.9, 0.9, 2 / 7]  # repeats included
    clusters, pages, routed = [], [], []
    for c in range(40):
        urls = [f"s{seed}c{c:02d}u{i:02d}" for i in range(rng.choice([1, 2, 3, 7, 40]))]
        if c == 0:  # pinned: two null crawl times among tied ones
            urls = [f"s{seed}c00u{i:02d}" for i in range(7)]
        cid = min(urls)
        for i, u in enumerate(urls):
            clusters.append((u, cid))
            h = [2, None, 1, 1, None, 0, 5][i] if c == 0 else rng.choice(hours)
            pages.append(
                (u, f"text {u}", rng.choice(["en", "fr", None]), None if h is None else _ts(h))
            )
        for _ in range(rng.randint(0, 3 * len(urls))):
            a, b = rng.choice(urls), rng.choice(urls)
            status = rng.choice(["approved", "approved", "rejected", "review"])
            score = rng.choice(scores) if rng.random() < 0.6 else rng.random()
            routed.append((a, b, score, status))
    # assigned urls with no normalized page: an entity-less cluster, and
    # a stray member of a cluster that has pages
    clusters += [(f"s{seed}ghost", f"s{seed}ghost"), (f"s{seed}c00zz", f"s{seed}c00u00")]
    routed.append((f"s{seed}ghost", f"s{seed}c00u00", 0.4, "approved"))
    return (
        spark.createDataFrame(clusters, "url string, cluster_id string"),
        spark.createDataFrame(
            pages, "url string, canonical_text string, lang string, warc_ts timestamp"
        ),
        spark.createDataFrame(
            routed, "url_a string, url_b string, score double, routed_status string"
        ),
    )


def _split_confidence(row):
    """row as a dict without the merge confidence and with the lineage
    JSON parsed; returns (dict, merge_confidence, lineage confidence)."""
    d = row.asDict()
    conf = d.pop("merge_confidence")
    lineage = json.loads(d.pop("lineage"))
    return {**d, "lineage": {**lineage, "confidence": None}}, conf, lineage["confidence"]


def test_merge_matches_window_reference(spark):
    """The one-aggregate merge equals the window + join form on every
    column, canonical_* included; the confidence (an exact decimal mean
    against a double one) within 1e-12."""
    for seed in (1, 2):
        inputs = _random_inputs(spark, seed)
        got = {r.cluster_id: r for r in merge_entities(*inputs).collect()}
        want = {r.cluster_id: r for r in _window_merge(*inputs).collect()}
        assert got.keys() == want.keys() and len(got) == 40
        pinned = got[f"s{seed}c00u00"]  # a null warc_ts sorts first, then url
        assert pinned.canonical_url == f"s{seed}c00u01" and pinned.first_seen_ts == _ts(0)
        assert any(r.member_count > 32 for r in got.values())
        for cid, row in want.items():
            g, g_conf, g_lin = _split_confidence(got[cid])
            w, w_conf, w_lin = _split_confidence(row)
            assert g == w, cid
            assert abs(g_conf - w_conf) <= 1e-12 and abs(g_lin - w_lin) <= 1e-12, cid


def test_merge_invariant_to_partitioning(spark):
    """Same inputs under 1 and 7 shuffle partitions, with the edges
    repartitioned between the runs, give byte-equal rows: the
    confidence mean is summed in an order-independent type."""
    clusters, normalized, routed = _random_inputs(spark, 3)
    many = spark.createDataFrame(
        [(f"s3c00u{i % 2:02d}", "x", 0.1 + i / 997, "approved") for i in range(400)],
        routed.schema,
    )
    routed = routed.unionByName(many)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        one = merge_entities(clusters, normalized, routed.repartition(1)).collect()
        spark.conf.set(key, "7")
        seven = merge_entities(clusters, normalized, routed.repartition(7)).collect()
    finally:
        spark.conf.set(key, prev)
    assert sorted(one) == sorted(seven)
