"""Deterministic synthetic web_pages corpus with planted duplicate clusters.

Modeled on the reference's seeded generators with partially-overlapping
entities and systematic name mutators
(/root/reference/entity_resolution_engine/synthetic/generate_beta_data.py:19-29,36-61),
re-expressed at web scale: rows are generated in planted clusters of
size 1–5 sharing a hidden ``true_cluster_id``; members mutate the
cluster's base text deterministically (token replacement, token drops,
case noise, truncation — the analog of ``mutate_player_name``).

Everything is **pure JVM column expressions over ``spark.range``** —
per-row randomness is ``xxhash64(id, salt)``, never driver-side RNG —
so the generator itself scales to arbitrary row counts and is
byte-stable across cluster sizes and partitionings (SURVEY.md §2.1 S5/S6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Fixed token vocabulary (shared across clusters so negatives share
# tokens — hard negatives, not trivially-disjoint ones).
_VOCAB = [
    f"{w}{i}"
    for w in (
        "data web page crawl index token query search link site text html "
        "spark engine record match entity block score cluster merge shard "
        "table row column batch stream hash join sort scan filter group "
        "window range key value store cache disk memory node worker task "
        "stage plan graph edge vertex path tree leaf root branch commit"
    ).split()
    for i in range(8)
]
_NUM_DOMAINS = 50
_AVG_CLUSTER = 2.5
_EPOCH_START = 1577836800  # 2020-01-01T00:00:00Z — fixed, not wall-clock


def _h(*cols) -> F.Column:
    return F.xxhash64(*cols)


def generate_web_pages(
    spark: SparkSession, n_rows: int, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Returns (web_pages, true_labels).

    web_pages matches schemas.WEB_PAGES; true_labels is (url,
    true_cluster_id): the hidden ground truth per url for F1
    evaluation, never shown to the pipeline.
    """
    n_clusters = max(1, int(n_rows / _AVG_CLUSTER))
    vocab = F.lit(_VOCAB)
    vsize = len(_VOCAB)
    s = F.lit(seed)

    clusters = spark.range(n_clusters).withColumnRenamed("id", "cid")
    # cluster size 1..5 (skewed small via min of two draws)
    clusters = clusters.withColumn(
        "csize",
        F.least(
            F.pmod(_h("cid", s, F.lit("sz1")), F.lit(5)),
            F.pmod(_h("cid", s, F.lit("sz2")), F.lit(5)),
        )
        + 1,
    )
    # base doc: 30..119 tokens drawn from the vocabulary by id-hash
    clusters = clusters.withColumn(
        "doc_len", (F.pmod(_h("cid", s, F.lit("len")), F.lit(90)) + 30).cast("int")
    )
    clusters = clusters.withColumn(
        "base_tokens",
        F.transform(
            F.sequence(F.lit(1), F.col("doc_len")),
            lambda j: F.element_at(
                vocab, (F.pmod(_h(F.col("cid"), s, F.lit("tok"), j), F.lit(vsize)) + 1).cast("int")
            ),
        ),
    )
    # Zipf-ish domain: cube of a uniform draw concentrates mass on low
    # indices (domain skew is under test — the salting path needs it).
    u = F.pmod(_h("cid", s, F.lit("dom")), F.lit(10000)).cast("double") / 10000.0
    clusters = clusters.withColumn(
        "cluster_domain_idx",
        F.least(
            F.floor(F.lit(_NUM_DOMAINS) * F.pow(u, F.lit(3.0))),
            F.lit(_NUM_DOMAINS - 1),
        ).cast("int"),
    )

    members = clusters.select(
        "cid",
        "base_tokens",
        "cluster_domain_idx",
        F.explode(F.sequence(F.lit(0), F.col("csize") - 1)).alias("midx"),
    )

    mh = _h(F.col("cid"), F.col("midx"), s)  # per-member hash base

    # --- deterministic text mutators (member 0 keeps the base text) ---
    # 1) replace ~2% of tokens with a fresh vocab draw
    mutated = F.transform(
        F.col("base_tokens"),
        lambda t, i: F.when(
            (F.col("midx") > 0)
            & (F.pmod(_h(F.col("cid"), F.col("midx"), i, s, F.lit("rep")), F.lit(50)) == 0),
            F.element_at(
                vocab,
                (F.pmod(_h(F.col("cid"), F.col("midx"), i, s, F.lit("rv")), F.lit(vsize)) + 1).cast("int"),
            ),
        ).otherwise(t),
    )
    # 2) drop ~2.5% of tokens
    mutated = F.filter(
        mutated,
        lambda t, i: (F.col("midx") == 0)
        | (F.pmod(_h(F.col("cid"), F.col("midx"), i, s, F.lit("drop")), F.lit(40)) != 0),
    )
    # 3) upper-case ~3% of tokens (canonicalization must undo this)
    mutated = F.transform(
        mutated,
        lambda t, i: F.when(
            (F.col("midx") > 0)
            & (F.pmod(_h(F.col("cid"), F.col("midx"), i, s, F.lit("case")), F.lit(30)) == 0),
            F.upper(t),
        ).otherwise(t),
    )
    # 4) every 4th non-original member is truncated to ~95%
    trunc_len = F.greatest(
        (F.size(mutated) * 19 / 20).cast("int"), F.lit(5)
    )
    mutated = F.when(
        (F.col("midx") > 0) & (F.pmod(mh, F.lit(4)) == 0),
        F.slice(mutated, 1, trunc_len),
    ).otherwise(mutated)

    members = members.withColumn("text", F.concat_ws(" ", mutated))

    # ~20% of non-original members land on a different domain than the
    # cluster (exercises the LSH path — domain blocking can't see them).
    own_dom = F.pmod(_h(F.col("cid"), F.col("midx"), s, F.lit("odom")), F.lit(_NUM_DOMAINS)).cast("int")
    domain_idx = F.when(
        (F.col("midx") > 0) & (F.pmod(mh, F.lit(5)) == 0), own_dom
    ).otherwise(F.col("cluster_domain_idx"))
    members = members.withColumn(
        "domain", F.concat(F.lit("site"), F.format_string("%02d", domain_idx), F.lit(".example.org"))
    )
    members = members.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.col("domain"),
            F.lit("/p/"),
            F.col("cid").cast("string"),
            F.lit("-"),
            F.col("midx").cast("string"),
        ),
    )
    members = members.withColumn(
        "warc_ts",
        F.timestamp_seconds(
            F.lit(_EPOCH_START) + F.col("cid") * 37 + F.col("midx") * 3600
        ),
    )
    langs = F.lit(["en", "fr", "es", "de", "zh"])
    members = members.withColumn(
        "lang",
        F.element_at(langs, (F.pmod(_h("cid", s, F.lit("lang")), F.lit(5)) + 1).cast("int")),
    )
    # html payload wraps the text in fixed boilerplate; ~1/7 of rows
    # carry no html (extractor must fall back to the text column).
    html_str = F.concat(
        F.lit(
            "<html><head><title>doc</title><style>body{margin:0}</style>"
            "<script>var x=1;</script></head><body><p>"
        ),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    members = members.withColumn(
        "html",
        F.when(F.pmod(mh, F.lit(7)) == 0, F.lit(None).cast("binary")).otherwise(
            F.encode(html_str, "UTF-8")
        ),
    )

    web_pages = members.select("url", "warc_ts", "html", "text", "lang")
    true_labels = members.select("url", F.col("cid").alias("true_cluster_id"))
    return web_pages, true_labels


def labeled_pairs(true_labels: DataFrame, max_negatives_per_url: int = 2) -> DataFrame:
    """Golden pair labels: all intra-cluster pairs positive, plus
    deterministic hash-sampled negatives (pairs from different
    clusters).  url_a < url_b by convention (SURVEY.md §2.3 self-join)."""
    a = true_labels.select(
        F.col("url").alias("url_a"), F.col("true_cluster_id").alias("cid_a")
    )
    b = true_labels.select(
        F.col("url").alias("url_b"), F.col("true_cluster_id").alias("cid_b")
    )
    positives = (
        a.join(b, F.col("cid_a") == F.col("cid_b"))
        .filter(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b", F.lit(True).alias("is_match"))
    )
    # negatives: bucket-join on a hash bucket so the sample is
    # deterministic and bounded (not a cross join)
    nb = 1024
    an = a.withColumn("bucket", F.pmod(F.xxhash64("url_a"), F.lit(nb)))
    bn = b.withColumn("bucket", F.pmod(F.xxhash64("url_b"), F.lit(nb)))
    negatives = (
        an.join(bn, "bucket")
        .filter((F.col("cid_a") != F.col("cid_b")) & (F.col("url_a") < F.col("url_b")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("url_a").orderBy(F.xxhash64("url_a", "url_b"))
            ),
        )
        .filter(F.col("rn") <= max_negatives_per_url)
        .select("url_a", "url_b", F.lit(False).alias("is_match"))
    )
    return positives.unionByName(negatives)
