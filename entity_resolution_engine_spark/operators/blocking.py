"""Stage 2 — blocking: candidate-pair generation without the cross join.

The reference scores every left row against every right row —
O(|A|·|B|) nested loops (/root/reference/entity_resolution_engine/
matchers/teams_matcher.py:38-49) — which is exactly what cannot exist
at 10^12 documents.  This stage replaces it with two composable
blocking strategies (SURVEY.md §4.1):

- **exact**: equality on ``md5(norm_text)``.  Within an exact block we
  do NOT emit all O(k²) pairs — a star to the block's minimum id is
  enough for the transitive-clustering stage and turns a 10^6-copy
  boilerplate page from 10^12 pairs into 10^6 edges.
- **lsh**: MinHash-LSH over word-shingles.  Token base-hashing is one
  flat JVM pass (``functions/hashing.py``); shingle folding, the
  signature, and band keys are ONE numpy-vectorized pandas UDF;
  candidate pairs come from a self-equi-join on the band key.

**One candidate phase.**  ``bucket_pairs`` is the engine's one bucket
self-join entry point: ER's LSH strategy here and all five LSH-style
dedup joins (``operators/dedup.py``) hand it (id, buckets array<long>,
payload…) rows, and it checks the cap, persists the rows, explodes the
buckets and runs ``bounded_block_pairs``.  In ER's default config the
rows come from ONE ``groupBy`` on the binary md5 over the band-UDF
output — (min uid, count, band array) per distinct text — and the same
persisted rows give the exact star its roots, so the md5 is aggregated
once.

**Integer-surrogate byte diet (round 5).**  The block+score stage is
memory-bandwidth-bound on this class of hardware (BASELINE.md round-4
Amdahl ledger: 2.1-2.3x speedup for 4x threads with <0.5% serial
share), so every column crossing an exchange here is sized for bytes:

- documents travel as ``uid = xxhash64(url)`` (8 B) instead of the url
  string (~40-60 B on web corpora).  Urls re-attach in the scoring
  stage's enrichment join — which exists anyway to fetch match keys —
  so pair generation never ships a string.  Same surrogate policy as
  ``operators/cluster.py`` (which derives the identical ids and FAILS
  LOUDLY on a collision via its id-map cardinality check; widen to a
  2x64-bit composite if a corpus approaches ~2^32 documents).
- LSH block keys stay 64-bit LONGS end-to-end (the round-1..4 design
  cast them to ~20-byte decimal strings for the '#'-suffix sub-block
  naming); sub-block splits are a separate small int column.
- exact blocks group on ``unhex(text_md5)`` (16 B binary) instead of
  the 32-char hex string.

Skew handling ("no silent caps"): ``bounded_block_pairs`` is the one
hot-bucket self-join in the engine, reached through ``bucket_pairs``.
It first collects the split ledger (key, size, n_subblocks) of the
blocks larger than ``max_block_size`` to the driver, in one eager
collect, and builds only what that ledger names.  With no block over
the cap, the pairs are one equi-join on the block key.  Otherwise the
oversized blocks are *split* deterministically by uid into sub-blocks
(all-pairs within each) and re-linked through their per-sub-block
representatives — connectivity is preserved for clustering while
per-block pair count stays bounded.  The ledger is returned as a local
DataFrame next to the pairs.  A cap below 1 raises ``ValueError``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BlockingConfig
from ..functions import hashing as H
from ..session import local_frame


def uid_col(url=None) -> F.Column:
    """The 8-byte document surrogate: xxhash64(url) — pure function,
    identical on every executor, no dictionary join to create it.  The
    one definition: blocking, ``scoring.score_pairs`` and the cluster
    id map and edges all build their ids with it."""
    return F.xxhash64(F.col("url") if url is None else url)


def attach_urls(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """(uid_a, uid_b, …) pairs → (url_a, url_b, …): re-attach the url
    strings from a nodes frame carrying ``url``.  The production path
    does this inside score_pairs' enrichment join for free; this
    helper exists for tests/debugging and for consumers that want raw
    candidate pairs in url space."""
    ids = nodes.select(uid_col().alias("uid"), "url")
    rest = [c for c in pairs.columns if c not in ("uid_a", "uid_b")]
    return (
        pairs.join(ids.select(F.col("uid").alias("uid_a"), F.col("url").alias("url_a")), "uid_a")
        .join(ids.select(F.col("uid").alias("uid_b"), F.col("url").alias("url_b")), "uid_b")
        .select("url_a", "url_b", *rest)
    )


def _pairs_within_blocks(members: DataFrame) -> DataFrame:
    """All-pairs self-join within (bounded-size) blocks.

    ``members``: (block_key: long, sub: int, uid: long).  Emits
    (uid_a < uid_b, block_key).  The join shuffles both sides on
    (block_key, sub) once — 12 bytes of key — and AQE splits any
    residual skew.
    """
    a = members.select("block_key", "sub", F.col("uid").alias("uid_a"))
    b = members.select("block_key", "sub", F.col("uid").alias("uid_b"))
    return (
        a.join(b, ["block_key", "sub"])
        .filter(F.col("uid_a") < F.col("uid_b"))
        # every output re-aliased: the downstream union with
        # rep_star_edges (built from the SAME members frame) must not
        # share attribute ids across branches — Spark 4.1's union
        # constraint rewrite fails with `key not found` otherwise
        .select(
            F.col("uid_a").alias("uid_a"),
            F.col("uid_b").alias("uid_b"),
            F.col("block_key").alias("block_key"),
        )
    )


def _md5_members(normalized: DataFrame, *cols) -> DataFrame:
    """The non-empty documents as (uid, mk = binary md5, *cols); with
    no ``cols``, the exact star's members."""
    return normalized.filter(
        F.col("norm_text").isNotNull() & (F.col("norm_text") != "")
    ).select(uid_col().alias("uid"), F.unhex("text_md5").alias("mk"), *cols)


def _md5_groups(docs: DataFrame, *aggs: F.Column) -> DataFrame:
    """(uid, mk, …) documents → one row per distinct text: (mk, id =
    min uid, n = copies, *aggs).  The min uid is both the exact star's
    root and the text's LSH champion."""
    return docs.groupBy("mk").agg(
        F.min("uid").alias("id"), F.count("*").alias("n"), *aggs
    )


def _exact_star(members: DataFrame, groups: DataFrame) -> DataFrame:
    """Star-to-min edges (uid_a = root, uid_b, strategy 'exact') of
    every md5 group with more than one member."""
    roots = groups.filter(F.col("n") > 1).select("mk", F.col("id").alias("root"))
    return (
        members.join(roots, "mk")
        .filter(F.col("uid") != F.col("root"))
        # re-aliased: in candidate_pairs the LSH pairs read the same
        # cached groups, and Spark 4.1's union constraint rewrite fails
        # on attribute ids shared across branches (_pairs_within_blocks)
        .select(
            F.col("root").alias("uid_a"),
            F.col("uid").alias("uid_b"),
            F.lit("exact").alias("strategy"),
        )
    )


def exact_candidates(normalized: DataFrame) -> DataFrame:
    """Exact-duplicate edges (uid_a, uid_b, strategy): star-to-min
    within each md5 block.

    Skew-safe shape: block minima come from a groupBy (partial
    aggregation combines map-side, so a 10^6-copy boilerplate page
    costs each task only one row) and members re-join on the BINARY
    md5 (16 B vs 32 B hex) with AQE skew-join splitting the hot key's
    shuffle partition.  The earlier window formulation sorted each md5
    block inside ONE task — exactly the hot-key failure mode the
    north_rule calls out.  Emits nothing for singleton blocks."""
    members = _md5_members(normalized)
    return _exact_star(members, _md5_groups(members))


_LEDGER_SCHEMA = "block_key long, block_size long, n_subblocks long"


def check_block_cap(max_block_size: int) -> None:
    """Raise ``ValueError`` for a block cap below 1 — the one check
    shared by the splitter and ``bucket_pairs``, which calls it before
    it persists anything or starts a job."""
    if max_block_size < 1:
        raise ValueError(f"max_block_size must be >= 1, got {max_block_size!r}")


def split_oversized_blocks(
    members: DataFrame, max_block_size: int
) -> tuple[DataFrame, DataFrame, bool]:
    """Bound block sizes: blocks ≤ max_block_size pass through with
    ``sub = -1``; larger blocks are split by uid into
    ceil(size/max) sub-blocks numbered 0..n_sub-1 in a separate int
    column (keys stay longs — no string concat).  Connectivity across
    the pieces is restored by ``rep_star_edges`` over the bounded
    membership: a star (not an all-pairs rep block) keeps the bound —
    a 10^6-copy page with max=64 yields ~15 625 reps; all-pairs over
    them would be ~1.2e8 pairs from ONE block, while the star adds
    exactly n_subblocks-1 edges (connectivity is all the clustering
    stage needs, mirroring exact_candidates).

    Returns (bounded_members, block_stats, split):
    - bounded_members: (block_key, sub, uid), every (block_key, sub)
      group ≤ ~max_block_size
    - block_stats reports every split block (key, size, n_subblocks) —
      the no-silent-caps ledger.
    - split: whether any block was split; ``bounded_block_pairs`` reads
      it to skip the split machinery when nothing is over the cap.

    The ledger is computed FIRST and EAGERLY, at call time: one
    partial-aggregated ``groupBy(block_key).count()`` filtered to the
    oversized keys (a tiny set — the Zipf head) is collected to the
    driver, and comes back as a ``session.local_frame`` with
    ``n_subblocks = ceil(size/max)`` in integer arithmetic.  These are
    the rows a broadcast of the hot keys ships through the driver
    anyway, so the scale assumption is the same, and readers of the
    ledger (``Pipeline.run``'s ``block_splits``) never re-run the size
    aggregation.  ``members`` is read twice (the collect, then the
    membership), so it should come from a persisted frame, as it does
    for every caller.  With an empty ledger the bounded membership is
    ``members`` with ``sub = -1`` — no join at all.  Otherwise only the
    ledger's keys are broadcast back, so the overwhelming
    singleton/small majority of members passes through with NO sort
    and NO wide join.  Sub-block assignment is ``pmod(uid, n_sub)`` —
    uid-global, windowless: a pair of uids that co-occurs in MANY
    oversized buckets (48 LSH bands all hot for the same page family)
    lands in the same sub-index everywhere, so the cross-band pair
    union dedups to ~one band's worth instead of re-slicing per band
    (the earlier rank round-robin emitted ~88% of all-pairs across
    bands for a 600-doc family).  The per-sub-block size bound is
    probabilistic, not hard: sub-block sizes scatter around
    size/n_sub ≤ max_block_size — AQE's skew split absorbs the tail.
    A ``max_block_size`` below 1 raises ``ValueError`` before any
    Spark job runs.
    """
    check_block_cap(max_block_size)
    hot = (
        members.groupBy("block_key")
        .agg(F.count("*").alias("block_size"))
        .filter(F.col("block_size") > max_block_size)
        .collect()
    )
    rows = sorted(
        (r.block_key, r.block_size, -(-r.block_size // max_block_size)) for r in hot
    )
    stats = local_frame(members.sparkSession, rows, _LEDGER_SCHEMA)
    if not rows:
        return members.select("block_key", F.lit(-1).alias("sub"), "uid"), stats, False
    # the hint goes on the join, not on ``stats``: the ledger is also
    # written as ``block_splits``, and a hint outside a join is logged
    # as an error
    tagged = members.join(
        F.broadcast(stats.select("block_key", "n_subblocks")), "block_key", "left"
    )
    small = tagged.filter(F.col("n_subblocks").isNull()).select(
        "block_key", F.lit(-1).alias("sub"), "uid"
    )
    sub_members = tagged.filter(F.col("n_subblocks").isNotNull()).select(
        "block_key",
        F.pmod(F.col("uid"), F.col("n_subblocks")).cast("int").alias("sub"),
        "uid",
    )
    return small.unionByName(sub_members), stats, True


def rep_star_edges(bounded_members: DataFrame) -> DataFrame:
    """Star edges re-linking a split block's sub-blocks through their
    representatives: for each split base key, every sub-block's min uid
    points at the global min.  Computed FROM the bounded membership
    (which ``bounded_block_pairs`` persists whenever a block splits) —
    split rows carry ``sub >= 0``, so two small aggregations over the
    (rare) split rows suffice.  An earlier formulation derived these
    from the pre-split frame and recomputed the whole 10M-row explode +
    hot-count shuffle twice per action — measured 30s for zero output
    rows at 250k pages."""
    split = bounded_members.filter(F.col("sub") >= 0)
    reps = split.groupBy("block_key", "sub").agg(F.min("uid").alias("rep"))
    # roots from the membership directly (min of sub-mins == block min);
    # deriving them from `reps` makes the join self-referencing, which
    # trips Spark 4.1's union constraint rewrite (key not found: dst#N)
    roots = split.groupBy("block_key").agg(F.min("uid").alias("root"))
    return (
        reps.join(roots, "block_key")
        .filter(F.col("rep") != F.col("root"))
        .select(
            F.col("root").alias("uid_a"),  # root is the min rep: a < b holds
            F.col("rep").alias("uid_b"),
            F.col("block_key").alias("block_key"),
        )
    )


def bounded_block_pairs(
    members: DataFrame, max_block_size: int, caches: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """(block_key long, uid long) membership → ((uid_a < uid_b,
    block_key) pairs, split ledger): the bucket self-join with hot
    buckets split and star-linked (``split_oversized_blocks`` +
    ``_pairs_within_blocks`` + ``rep_star_edges``).

    The pairs are NOT deduped: a pair sharing k blocks appears k times.
    Callers dedup where it is cheapest — before a verify join that
    ships per-doc payloads, or after a verify filter that keeps a tiny
    share of the candidates.

    One eager collect runs at call time: the split ledger's (see
    ``split_oversized_blocks``; two Spark jobs under AQE, the
    aggregate's map stage and its result).  That is safe because
    ``bucket_pairs`` explodes ``members`` from rows it has persisted, so
    the collect fills that cache and the pairs read it again instead
    of re-running the rows' UDF.  Only what the ledger names is built:

    - empty ledger (no block over the cap — the common case): the pairs
      are one self-join of ``members`` with ``sub = -1``; no broadcast,
      no persisted membership, no rep star, no union, and nothing is
      added to ``caches``.
    - hot keys: the bounded membership is persisted, because the
      self-join and the star aggregations reference it four times and
      without the cache each reference would re-run the explode and the
      broadcast join that build it.  It is small relative to the corpus
      (16 B: long key + int sub + long uid).  ``caches`` (when given)
      collects it so the caller can unpersist once the pairs are
      materialized — otherwise the cache outlives the stage and
      pressures executor storage across runs."""
    bounded, stats, split = split_oversized_blocks(members, max_block_size)
    if not split:
        return _pairs_within_blocks(bounded), stats
    bounded = bounded.persist()
    if caches is not None:
        caches.append(bounded)
    pairs = _pairs_within_blocks(bounded).unionByName(
        rep_star_edges(bounded)  # reads the cache — tiny split-only aggs
    )
    return pairs, stats


def bucket_pairs(
    rows: DataFrame, max_bucket_size: int, caches: list | None
) -> tuple[DataFrame, DataFrame]:
    """(id, buckets array<long>, payload…) rows → ((id_a < id_b)
    candidate pairs, split ledger): the engine's one candidate phase.
    ER's LSH strategy (``candidate_pairs``) and the five LSH-style dedup
    joins all reach ``bounded_block_pairs`` through here, so hot buckets
    are split and star-linked the same way everywhere.  NOT deduped: a
    pair sharing k buckets appears k times, so each caller dedups
    before or after its verify.

    A ``max_bucket_size`` below 1 raises ``ValueError`` before anything
    is persisted or any job runs.  Otherwise ``rows`` is persisted in
    place and appended to ``caches``, and the buckets are exploded from
    that cache: an explode straight over a signature UDF runs the UDF
    once per reference (measured 2.5x on ER's blocking stage), from
    the cache it runs once (pinned by ``tests/test_plans.py::
    test_candidate_phase_groups_md5_once_and_bands_once``).  The split
    ledger's eager collect fills the cache; the pairs and any join-back
    of the payload read it.  A null bucket array emits nothing.  A hot
    bucket also adds the persisted bounded membership to ``caches``.
    Ids must be integral (the sub-bucket assignment is ``pmod(id,
    n_sub)``)."""
    check_block_cap(max_bucket_size)
    rows.persist()  # returns ``rows`` itself: the caller's frame is cached
    if caches is not None:
        caches.append(rows)
    members = rows.select(
        F.explode("buckets").alias("block_key"), F.col("id").alias("uid")
    )
    pairs, stats = bounded_block_pairs(members, max_bucket_size, caches)
    return pairs.select(F.col("uid_a").alias("id_a"), F.col("uid_b").alias("id_b")), stats


def candidate_pairs(
    normalized: DataFrame, cfg: BlockingConfig, caches: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """Union of blocking strategies, deduped on (uid_a, uid_b), and the
    split ledger.

    Output schema: (uid_a long, uid_b long, strategy string) — integer
    surrogates: the dedup here is the one mandatory wide shuffle of the
    blocking stage (SURVEY.md §2.6) and ships 16 B of ids per row
    instead of ~100 B of url strings; urls re-attach in score_pairs'
    enrichment join (or via ``attach_urls``).  A pair found by both
    strategies scores once, as 'exact' (the min of the two names).

    LSH rows: token base-hashing is JVM, signature + banding ONE fused
    pandas-UDF call (``hashing.make_minhash_band_udf``).  With the exact
    strategy on (the default), exact-duplicate texts enter the band
    join through ONE champion per md5: clones are already
    star-connected, and banding each one would re-find every
    intra-clone pair once per agreeing band.  The rows are one
    ``groupBy(mk)`` over the post-UDF doc-level rows — (min uid, count,
    first band array; identical texts have identical bands) — so
    neither text nor the 48x-larger exploded membership is shuffled,
    and the same persisted rows give the exact star its roots: the md5
    is aggregated once.  An lsh-only config bands EVERY document
    (without the star, non-champion clones would silently become
    singletons — round-2 ADVICE); an exact-only config runs one md5
    aggregation and no band UDF, and returns an empty ledger.

    ``compose_domain`` folds the domain into each band key as
    ``xxhash64(domain, band_hash)`` — still one 8-byte long; a
    champion's domain is that of its min uid."""
    exact = "exact" in cfg.strategies
    if "lsh" not in cfg.strategies:
        if not exact:
            raise ValueError(f"no known blocking strategies in {cfg.strategies!r}")
        # exact star edges are unique by construction — no dedup shuffle
        return exact_candidates(normalized), local_frame(
            normalized.sparkSession, [], _LEDGER_SCHEMA
        )
    band_udf = H.make_minhash_band_udf(cfg.num_hashes, cfg.lsh_bands, cfg.shingle_size)
    th = H.token_hashes_col(H.tokens_col(F.col("norm_text")))
    buckets = F.col("band_arr")
    domain, champ_domain = [], []
    if cfg.compose_domain:
        # composite blocking key (north_star): domain + LSH band,
        # folded into one long
        buckets = F.transform(buckets, lambda b: F.xxhash64(F.col("domain"), b))
        domain, champ_domain = ["domain"], [F.min_by("domain", "uid").alias("domain")]
    docs = _md5_members(normalized, *domain, band_udf(th).alias("band_arr"))
    if exact:
        # band arrays are identical across an md5 group
        rows = _md5_groups(docs, F.first("band_arr").alias("band_arr"), *champ_domain)
    else:
        rows = docs.withColumnRenamed("uid", "id")
    rows = rows.select(
        *(["mk", "id", "n"] if exact else ["id"]), buckets.alias("buckets")
    )
    pairs, stats = bucket_pairs(rows, cfg.max_block_size, caches)
    lsh = pairs.select(
        F.col("id_a").alias("uid_a"), F.col("id_b").alias("uid_b"),
        F.lit("lsh").alias("strategy"),
    )
    if not exact:
        # a pair can surface from several band buckets — dedup it
        return lsh.dropDuplicates(["uid_a", "uid_b"]), stats
    pairs = (
        _exact_star(_md5_members(normalized), rows)
        .unionByName(lsh)
        .groupBy("uid_a", "uid_b")
        .agg(F.min("strategy").alias("strategy"))
    )
    return pairs, stats
