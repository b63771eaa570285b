"""Blocking: recall against planted clusters, block-size bounding,
connectivity preservation through splits.

Pair generation works in uid space (xxhash64(url) surrogates — the
round-5 byte diet); tests re-attach urls via ``attach_urls`` where
they assert on url identities or feed CC."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from entity_resolution_engine_spark.config import BlockingConfig
from entity_resolution_engine_spark.operators import dedup as DD
from entity_resolution_engine_spark.operators.blocking import (
    _pairs_within_blocks,
    attach_urls,
    bounded_block_pairs,
    candidate_pairs,
    exact_candidates,
    split_oversized_blocks,
    uid_col,
)
from entity_resolution_engine_spark.operators.normalize_stage import normalize_pages


@pytest.fixture(scope="module")
def normalized(spark, synth_corpus):
    pages, _ = synth_corpus
    n = normalize_pages(pages).cache()
    n.count()
    return n


def _url_edges(pairs, nodes):
    """uid pairs → (src, dst) url edges for CC/assertions."""
    return attach_urls(pairs, nodes).select(
        F.col("url_a").alias("src"), F.col("url_b").alias("dst")
    )


def test_exact_candidates_star_shape(spark):
    # three copies of one text → 2 star edges to the min-uid url, no
    # triangle
    rows = [
        ("u1", "same text", "9e107d9d372bb6826bd81d3542a419d6"),
        ("u2", "same text", "9e107d9d372bb6826bd81d3542a419d6"),
        ("u3", "same text", "9e107d9d372bb6826bd81d3542a419d6"),
        ("u4", "other", "e4d909c290d0fb1ca068ffaddf22cbd0"),
    ]
    df = spark.createDataFrame(rows, ["url", "norm_text", "text_md5"])
    edges = attach_urls(exact_candidates(df), df).collect()
    assert len(edges) == 2
    root_url = df.select("url").withColumn("h", F.xxhash64("url")).filter(
        F.col("url") != "u4"
    ).orderBy("h").first().url
    assert all(e.url_a == root_url for e in edges)
    assert sorted(e.url_b for e in edges) == sorted(
        u for u in ("u1", "u2", "u3") if u != root_url
    )


def test_split_bounds_block_size(spark):
    cfg = BlockingConfig(max_block_size=8)
    members = spark.createDataFrame(
        [(1001, i) for i in range(50)] + [(2002, 900), (2002, 901)],
        "block_key long, uid long",
    )
    bounded, stats, _ = split_oversized_blocks(members, cfg.max_block_size)
    sizes = {
        (r.block_key, r.sub): r["count"]
        for r in bounded.groupBy("block_key", "sub").count().collect()
    }
    # uid-hash assignment: the bound is probabilistic (Poisson around
    # max_block_size) — assert no sub-block degenerates past 2x, the
    # cold block passes through untouched (sub = -1), and membership
    # is preserved
    assert max(sizes.values()) <= 2 * cfg.max_block_size
    assert sizes[(2002, -1)] == 2
    assert sum(sizes.values()) == 52
    st = stats.collect()
    assert len(st) == 1 and st[0].block_key == 1001 and st[0].block_size == 50
    # connectivity: a star links every (non-empty) sub-block rep to the
    # block minimum (NOT an all-pairs rep block — that would be
    # quadratic in n_subblocks for a mega-block)
    from entity_resolution_engine_spark.operators.blocking import rep_star_edges

    n_sub_present = sum(1 for (k, s) in sizes if k == 1001 and s >= 0)
    reps = rep_star_edges(bounded).collect()
    assert len(reps) == n_sub_present - 1
    assert all(e.uid_a == 0 for e in reps)  # root = global min uid
    assert all(e.uid_a < e.uid_b for e in reps)


def test_split_ledger_carries_no_hint(spark):
    """The broadcast hint sits on the join, not on the hot-block frame:
    the split ledger (written as ``block_splits``) has no hint in its
    analyzed plan, and the bounded membership and the ledger rows are
    the uid-hash split of the one hot block."""
    members = spark.createDataFrame(
        [(1001, i) for i in range(50)] + [(2002, 900), (2002, 901)],
        "block_key long, uid long",
    )
    bounded, stats, _ = split_oversized_blocks(members, 8)
    assert "ResolvedHint" not in stats._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in bounded._jdf.queryExecution().analyzed().toString()
    assert [tuple(r) for r in stats.collect()] == [(1001, 50, 7)]
    assert sorted(tuple(r) for r in bounded.collect()) == sorted(
        [(1001, i % 7, i) for i in range(50)] + [(2002, -1, 900), (2002, -1, 901)]
    )


# --- the lazy splitter the ledger-first one replaced, kept as the
# reference: every call built the size aggregate, the broadcast join,
# the persisted membership and the rep star, hot keys or not


def _ref_split_oversized_blocks(members, max_block_size):
    n_sub = F.ceil(F.col("block_size") / max_block_size).cast("long")
    hot = (
        members.groupBy("block_key")
        .agg(F.count("*").alias("block_size"))
        .filter(F.col("block_size") > max_block_size)
    )
    tagged = members.join(F.broadcast(hot), "block_key", "left")
    small = tagged.filter(F.col("block_size").isNull()).select(
        "block_key", F.lit(-1).alias("sub"), "uid"
    )
    sub_members = tagged.filter(F.col("block_size").isNotNull()).select(
        "block_key",
        F.pmod(F.col("uid"), n_sub).cast("int").alias("sub"),
        "uid",
    )
    stats = hot.select("block_key", "block_size", n_sub.alias("n_subblocks"))
    return small.unionByName(sub_members), stats


def _ref_rep_star_edges(bounded_members):
    split = bounded_members.filter(F.col("sub") >= 0)
    reps = split.groupBy("block_key", "sub").agg(F.min("uid").alias("rep"))
    roots = split.groupBy("block_key").agg(F.min("uid").alias("root"))
    return (
        reps.join(roots, "block_key")
        .filter(F.col("rep") != F.col("root"))
        .select(
            F.col("root").alias("uid_a"),
            F.col("rep").alias("uid_b"),
            F.col("block_key").alias("block_key"),
        )
    )


def _ref_bounded_block_pairs(members, max_block_size, caches):
    bounded, stats = _ref_split_oversized_blocks(members, max_block_size)
    bounded = bounded.persist()
    caches.append(bounded)
    pairs = _pairs_within_blocks(bounded).unionByName(_ref_rep_star_edges(bounded))
    return pairs, stats


def _random_members(spark, seed, sizes):
    """One block per entry of ``sizes``, members drawn from a shared
    pool of signed 64-bit uids, so a uid sits in several blocks (as a
    document does across LSH bands) and ``pmod`` sees negative uids."""
    rng = random.Random(seed)
    pool = [rng.randint(-(2**62), 2**62) for _ in range(3 * max(sizes))]
    keys = rng.sample(range(-(10**6), 10**6), len(sizes))
    rows = [(k, u) for k, n in zip(keys, sizes) for u in rng.sample(pool, n)]
    return spark.createDataFrame(rows, "block_key long, uid long"), keys


_CAP = 8
_SPLIT_CASES = {
    # every case holds a block of exactly the cap, which is not split
    "no_hot": [1, 2, 3, _CAP, 5, 7, _CAP, 1],
    "one_hot": [3, _CAP, 4 * _CAP + 3, 2, 6],
    "several_hot": [_CAP + 1, _CAP, 2 * _CAP, 7 * _CAP + 5, 3, 3 * _CAP - 1, 1],
}


@pytest.mark.parametrize("case", list(_SPLIT_CASES))
@pytest.mark.parametrize("seed", [11, 12])
def test_splitter_matches_lazy_reference(spark, case, seed):
    """The ledger-first splitter emits the reference's pair multiset
    (uid_a, uid_b, block_key) and ledger rows, with and without hot
    keys."""
    sizes = _SPLIT_CASES[case]
    members, keys = _random_members(spark, seed, sizes)
    caches: list = []
    want_pairs, want_stats = _ref_bounded_block_pairs(members, _CAP, caches)
    got_pairs, got_stats = bounded_block_pairs(members, _CAP, caches)
    want = Counter(tuple(r) for r in want_pairs.collect())
    got = Counter(tuple(r) for r in got_pairs.collect())
    want_ledger = sorted(tuple(r) for r in want_stats.collect())
    got_ledger = sorted(tuple(r) for r in got_stats.collect())
    for c in caches:
        c.unpersist()
    assert got == want
    assert got_ledger == want_ledger
    hot = {k for k, n in zip(keys, sizes) if n > _CAP}
    assert {r[0] for r in got_ledger} == hot
    assert len(caches) == (2 if hot else 1)  # the reference always persists
    # the bounded membership agrees too (split_oversized_blocks itself)
    bounded, stats, _ = split_oversized_blocks(members, _CAP)
    ref_bounded, _ = _ref_split_oversized_blocks(members, _CAP)
    assert Counter(map(tuple, bounded.collect())) == Counter(map(tuple, ref_bounded.collect()))
    assert sorted(tuple(r) for r in stats.collect()) == want_ledger


def test_unsplit_pairs_are_one_equi_join(spark, jobs_run_by):
    """With no block over the cap the pairs are one self-join: nothing
    persisted, no union, and no broadcast.  Auto-broadcast is off here
    so that any BroadcastExchange left in the plan is the splitter's own
    hint.  Building runs the ledger's collect (2 jobs: the aggregate's
    shuffle map stage and its result); materializing runs the join
    (2 jobs).  The lazy splitter built with 0 jobs and materialized
    with 11."""
    members = spark.createDataFrame(
        [(k % 40, k) for k in range(200)], "block_key long, uid long"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    caches: list = []
    built: list = []
    rows: list = []
    try:
        n_build = jobs_run_by(lambda: built.extend(bounded_block_pairs(members, 8, caches)))
        pairs, stats = built
        n_materialize = jobs_run_by(lambda: rows.extend(pairs.collect()))
    finally:
        spark.conf.set(key, prev)
    assert (n_build, n_materialize) == (2, 2)
    assert caches == []
    assert len(rows) == 40 * 10  # C(5, 2) pairs in each 5-member block
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    for node in ("BroadcastExchange", "InMemoryRelation", "Union"):
        assert node not in plan, node
    ledger_plan = stats._jdf.queryExecution().optimizedPlan()
    assert ledger_plan.getClass().getSimpleName() == "LocalRelation"
    assert stats.collect() == []


@pytest.mark.parametrize("cap", [0, -1])
def test_cap_below_one_raises_before_any_job(spark, jobs_run_by, cap):
    """A cap below 1 has no meaning (0 divides by zero, a negative one
    used to drop pairs silently): both splitter entry points, ER's
    ``candidate_pairs`` and all five dedup joins that pass
    ``max_bucket_size`` through raise at once — no Spark job, nothing
    added to ``caches``, no new persistent RDD."""
    members = spark.createDataFrame(
        [(1, i) for i in range(6)], "block_key long, uid long"
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")], ["doc_id", "text"]
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.1])], ["vec_id", "embedding"]
    )
    pages = spark.createDataFrame(
        [("u1", "alpha beta gamma", "9e107d9d372bb6826bd81d3542a419d6")],
        ["url", "norm_text", "text_md5"],
    )
    caches: list = []
    calls = [
        lambda: split_oversized_blocks(members, cap),
        lambda: bounded_block_pairs(members, cap, caches),
        lambda: candidate_pairs(pages, BlockingConfig(max_block_size=cap), caches),
        lambda: DD.minhash_verified_near_duplicates(
            docs, max_bucket_size=cap, caches=caches
        ),
        lambda: DD.simhash_near_duplicates(docs, max_bucket_size=cap, caches=caches),
        lambda: DD.ngram_jaccard_pairs(docs, max_bucket_size=cap, caches=caches),
        lambda: DD.ngram_jaccard_pairs_fast(docs, max_bucket_size=cap, caches=caches),
        lambda: DD.embedding_near_duplicates(
            emb, dim=2, max_bucket_size=cap, caches=caches
        ),
    ]
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    for call in calls:
        def run():
            with pytest.raises(ValueError, match="max_block_size must be >= 1"):
                call()

        before = set(persistent().keySet())
        assert jobs_run_by(run) == 0
        assert caches == []
        assert set(persistent().keySet()) == before


def test_blocking_recall_on_planted_clusters(spark, synth_corpus, normalized):
    """Candidate connectivity must cover ≥99% of intra-cluster pairs
    (BASELINE.json F1 target is downstream-capped by this).  Measured
    TRANSITIVELY — exact clones reach near-dup neighbors through their
    md5 champion (candidate_pairs bands one champion per distinct text), so
    direct-pair recall is not the semantics the clustering stage needs."""
    from entity_resolution_engine_spark.operators.cluster import (
        connected_components,
    )
    from entity_resolution_engine_spark.sources.synth import labeled_pairs

    _, labels = synth_corpus
    pairs, _ = candidate_pairs(normalized, BlockingConfig())
    assign = connected_components(
        _url_edges(pairs, normalized), all_nodes=normalized.select("url")
    )
    gold = labeled_pairs(labels).filter("is_match")
    a = assign.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("ca"))
    b = assign.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cb"))
    joined = gold.join(a, "url_a").join(b, "url_b")
    hit = joined.filter(F.col("ca") == F.col("cb")).count()
    total = gold.count()
    assert total > 0
    assert hit / total >= 0.99, f"transitive blocking recall {hit}/{total}"


def test_candidate_pairs_unique(normalized):
    pairs, _ = candidate_pairs(normalized, BlockingConfig())
    n = pairs.count()
    nd = pairs.select("uid_a", "uid_b").distinct().count()
    assert n == nd
    assert pairs.filter(F.col("uid_a") >= F.col("uid_b")).count() == 0


def test_attach_urls_roundtrip(normalized):
    """Every uid pair maps back to exactly one (url_a, url_b) pair —
    the surrogate join loses and invents nothing."""
    pairs, _ = candidate_pairs(normalized, BlockingConfig())
    n = pairs.count()
    withu = attach_urls(pairs, normalized)
    assert withu.count() == n
    assert withu.filter(
        F.col("url_a").isNull() | F.col("url_b").isNull()
    ).count() == 0
    # strategy passes through
    assert set(withu.columns) == {"url_a", "url_b", "strategy"}


def test_compose_domain_mode(spark, synth_corpus, normalized):
    """Composite (domain + band) keys confine candidates to one domain."""
    from pyspark.sql import functions as F

    cfg = BlockingConfig(compose_domain=True)
    pairs, _ = candidate_pairs(normalized, cfg)
    from entity_resolution_engine_spark.functions.normalize import domain_col

    lsh_pairs = attach_urls(
        pairs.filter(F.col("strategy") == "lsh"), normalized
    )
    cross = lsh_pairs.filter(
        domain_col(F.col("url_a")) != domain_col(F.col("url_b"))
    ).count()
    assert cross == 0
    assert lsh_pairs.count() > 0


def test_exact_candidates_skewed_block(spark):
    # one md5 block with 500 members must produce a 499-edge star
    rows = [(f"u{i:04d}", "same", "9e107d9d372bb6826bd81d3542a419d6") for i in range(500)] + [
        ("z1", "other", "e4d909c290d0fb1ca068ffaddf22cbd0")
    ]
    df = spark.createDataFrame(rows, ["url", "norm_text", "text_md5"])
    edges = attach_urls(exact_candidates(df), df).collect()
    assert len(edges) == 499
    roots = {e.url_a for e in edges}
    assert len(roots) == 1  # a star, not a mesh
    assert roots.pop().startswith("u")  # root is one of the clones


def test_exact_hot_page_collapses_to_champion(spark):
    """A 2000-copy boilerplate page: clones never enter LSH (one
    champion per text_md5), the exact star carries connectivity, and
    the pair count is exactly linear."""
    from entity_resolution_engine_spark.operators.cluster import (
        connected_components,
    )

    text = "identical boilerplate page body " * 8
    rows = [
        (f"https://s{i%7}.example.org/p/{i:05d}", text.lower().strip(),
         "9e107d9d372bb6826bd81d3542a419d6")
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["url", "norm_text", "text_md5"])
    pairs, _stats = candidate_pairs(df, BlockingConfig(max_block_size=64))
    assert pairs.count() == 1999  # the star; zero LSH self-pairs
    assign = connected_components(
        _url_edges(pairs, df), all_nodes=df.select("url")
    )
    assert assign.select("cluster_id").distinct().count() == 1


def test_hot_lsh_block_bounded_and_connected(spark):
    """600 near-identical but DISTINCT texts (each perturbed by one
    token, so champions don't collapse them) share most LSH band
    buckets: the splitter must bound every block, log the splits, and
    rep stars must keep the whole family ONE component."""
    from entity_resolution_engine_spark.operators.cluster import (
        connected_components,
    )

    base = "identical boilerplate page body text " * 6
    rows = [
        (
            f"https://s{i%7}.example.org/p/{i:05d}",
            (base + f"tail{i}").lower().strip(),
            f"{i:032x}",
        )
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, ["url", "norm_text", "text_md5"])
    cfg = BlockingConfig(max_block_size=64)
    pairs, stats = candidate_pairs(df, cfg)
    n_pairs = pairs.count()
    # all-pairs would be C(600,2) = 179 700 per hot band key ACROSS 48
    # bands; bounded sub-blocks keep the dedup'd union well below that
    assert n_pairs < 120_000, n_pairs
    assert stats.count() > 0  # the split ledger recorded the hot blocks
    assign = connected_components(
        _url_edges(pairs, df), all_nodes=df.select("url")
    )
    assert assign.select("cluster_id").distinct().count() == 1


def test_lsh_only_strategy_keeps_exact_clones_connected(spark):
    """lsh-ONLY configs must band every clone (no champion dedup):
    without the exact star, champion-per-md5 banding would leave
    non-champion clones as silent singletons (round-2 ADVICE)."""
    from entity_resolution_engine_spark.operators.cluster import (
        connected_components,
    )
    from entity_resolution_engine_spark.operators.normalize_stage import (
        normalize_pages,
    )

    text = "shared boilerplate body with enough words to shingle and band properly"
    rows = [(f"https://s{i}.org/p", text) for i in range(4)] + [
        ("https://z.org/other", "a completely unrelated document about different topics entirely")
    ]
    pages = spark.createDataFrame(rows, ["url", "text"]).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    normalized = normalize_pages(pages).cache()
    pairs, _ = candidate_pairs(normalized, BlockingConfig(strategies=("lsh",)))
    assign = connected_components(
        _url_edges(pairs, normalized), all_nodes=normalized.select("url")
    )
    clusters = {r.url: r.cluster_id for r in assign.collect()}
    clones = {clusters[f"https://s{i}.org/p"] for i in range(4)}
    assert len(clones) == 1, f"clones split across clusters: {clusters}"
    assert clusters["https://z.org/other"] not in clones
    normalized.unpersist()


def test_exact_pairs_score_one(normalized):
    """score_pairs skips the feature UDF for exact-strategy pairs and
    reports 1.0 for their four features and score.  That shortcut is
    semantics-free: exact pairs are byte-identical on norm_text, so the
    UDF itself returns 1.0 for its three features on their match keys
    (the fourth, length_ratio, is a JVM column over the full lengths)."""
    from entity_resolution_engine_spark.config import ScoringConfig
    from entity_resolution_engine_spark.functions.similarity import pair_features_udf
    from entity_resolution_engine_spark.operators.scoring import score_pairs

    cfg = ScoringConfig()
    udf_feats = ["jaro_winkler", "token_jaccard", "levenshtein_sim"]
    feats = udf_feats + ["length_ratio"]
    pairs, _ = candidate_pairs(normalized, BlockingConfig())
    exact = pairs.filter(F.col("strategy") == "exact")
    key = normalized.select(
        uid_col().alias("uid"),
        F.substring("norm_text", 1, cfg.match_key_chars).alias("mk"),
    )
    keyed = exact.join(
        key.select(F.col("uid").alias("uid_a"), F.col("mk").alias("mk_a")), "uid_a"
    ).join(key.select(F.col("uid").alias("uid_b"), F.col("mk").alias("mk_b")), "uid_b")
    udf_rows = keyed.select(pair_features_udf("mk_a", "mk_b").alias("f")).select("f.*").collect()
    assert udf_rows, "corpus has no exact pairs — fixture regressed"
    assert all(r[c] == 1.0 for r in udf_rows for c in udf_feats)

    scored = score_pairs(pairs, normalized, cfg).filter(F.col("strategy") == "exact")
    rows = scored.select(*feats, "score").collect()
    assert len(rows) == len(udf_rows)
    assert all(r[c] == 1.0 for r in rows for c in feats + ["score"])


def test_length_ratio_uses_full_norm_text(spark):
    """score_pairs' length_ratio is similarity.length_ratio over the
    FULL norm_text, not over the match key: two pages longer than
    match_key_chars, of different lengths, get their true ratio, where
    the truncated keys would give 1.0."""
    from entity_resolution_engine_spark.config import ScoringConfig
    from entity_resolution_engine_spark.functions.similarity import length_ratio
    from entity_resolution_engine_spark.operators.scoring import score_pairs

    cfg = ScoringConfig()
    body = " ".join(f"word{i}" for i in range(200))
    rows = [("https://a.org/p", body), ("https://b.org/p", body + " " + body)]
    pages = spark.createDataFrame(rows, ["url", "text"]).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    normalized = normalize_pages(pages)
    norm = {r.url: r.norm_text for r in normalized.select("url", "norm_text").collect()}
    a, b = norm["https://a.org/p"], norm["https://b.org/p"]
    assert min(len(a), len(b)) > cfg.match_key_chars and len(a) != len(b)
    candidates = spark.range(1).select(
        uid_col(F.lit("https://a.org/p")).alias("uid_a"),
        uid_col(F.lit("https://b.org/p")).alias("uid_b"),
        F.lit("lsh").alias("strategy"),
    )
    (row,) = score_pairs(candidates, normalized, cfg).select("length_ratio").collect()
    assert row.length_ratio == length_ratio(a, b)
    assert row.length_ratio < 1.0
