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
hot-bucket self-join in the engine — ER blocking here and all five
LSH-style dedup joins (``operators/dedup.py``) run on it.  It first
collects the split ledger (key, size, n_subblocks) of the blocks
larger than ``max_block_size`` to the driver, in one eager collect,
and builds only what that ledger names.  With no block over the cap, the
pairs are one equi-join on the block key.  Otherwise the oversized
blocks are *split* deterministically by uid into sub-blocks (all-pairs
within each) and re-linked through their per-sub-block representatives
— connectivity is preserved for clustering while per-block pair count
stays bounded.  The ledger is returned as a local DataFrame next to the
pairs.  A cap below 1 raises ``ValueError``.
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


def exact_candidates(normalized: DataFrame) -> DataFrame:
    """Exact-duplicate edges: star-to-min within each md5 block.

    Skew-safe shape: block minima come from a groupBy (partial
    aggregation combines map-side, so a 10^6-copy boilerplate page
    costs each task only one row) and members re-join on the BINARY
    md5 (16 B vs 32 B hex) with AQE skew-join splitting the hot key's
    shuffle partition.  The earlier window formulation sorted each md5
    block inside ONE task — exactly the hot-key failure mode the
    north_rule calls out.  Emits nothing for singleton blocks.
    ``block_key`` provenance is xxhash64 of the md5 (joinable back to
    normalized.text_md5 when debugging)."""
    members = normalized.filter(
        F.col("norm_text").isNotNull() & (F.col("norm_text") != "")
    ).select(F.unhex("text_md5").alias("mk"), uid_col().alias("uid"))
    roots = members.groupBy("mk").agg(
        F.min("uid").alias("root"), F.count("*").alias("n")
    ).filter(F.col("n") > 1)
    return (
        members.join(roots, "mk")
        .filter(F.col("uid") != F.col("root"))
        .select(
            F.col("root").alias("uid_a"),
            F.col("uid").alias("uid_b"),
            F.xxhash64("mk").alias("block_key"),
            F.lit("exact").alias("strategy"),
        )
    )


def lsh_blocks(
    normalized: DataFrame,
    cfg: BlockingConfig,
    caches: list | None = None,
    champions: bool = True,
) -> DataFrame:
    """normalized_pages → (block_key: long, uid: long) LSH band
    membership.

    Shingling/base-hashing is JVM; signature + banding is ONE fused
    pandas-UDF call (hashing.make_minhash_band_udf).  The band-array
    frame is persisted BEFORE the explode: ``explode(udf(...))`` makes
    Catalyst evaluate the Python UDF twice (one ArrowEvalPython per
    reference under the Generate — measured 2.5x on this stage), while
    exploding from the cache runs it exactly once.  ``explode`` of a
    null band array (empty doc) emits nothing, subsuming the null
    filter.

    Exact-duplicate texts enter the band join through ONE champion per
    text_md5: clones are already star-connected by exact_candidates,
    so banding each clone would re-find every intra-clone pair once per
    agreeing band — quadratic waste on a boilerplate-heavy web corpus
    (a 10^6-copy page would otherwise contribute 10^6 members to all
    48 of its band buckets).  The dedup groupBy runs on the POST-UDF
    doc-level rows (uid 8 B, binary md5 16 B, 48-band array ≈ 0.4 KB) —
    identical texts have identical band arrays, the UDF runs once
    map-side, and neither document text nor the 48x-larger exploded
    membership is ever shuffled.  Clusters still form transitively:
    clone → champion (exact star) → near-dup neighbors (LSH).

    ``compose_domain`` composes the domain into the band key as
    ``xxhash64(domain, band_hash)`` — still one 8-byte long (the
    string-concat composite of rounds 1-4 shipped ~30 B per membership
    row).

    ``champions=False`` bands EVERY document instead: the champion
    dedup is only sound when exact_candidates supplies the
    clone→champion star alongside — in an lsh-ONLY strategy config the
    non-champion clones would otherwise get no candidate edges at all
    and silently become singletons (round-2 ADVICE).  candidate_pairs
    sets this from the strategy set."""
    tokens = H.tokens_col(F.col("norm_text"))
    th = H.token_hashes_col(tokens)
    band_udf = H.make_minhash_band_udf(
        cfg.num_hashes, cfg.lsh_bands, cfg.shingle_size
    )
    raw = normalized.filter(
        F.col("norm_text").isNotNull() & (F.col("norm_text") != "")
    ).select(
        uid_col().alias("uid"),
        F.unhex("text_md5").alias("mk"),
        *([F.col("domain")] if cfg.compose_domain else []),
        band_udf(th).alias("band_arr"),
    )
    cols = ["uid"] + (["domain"] if cfg.compose_domain else [])
    if champions:
        champ_aggs = [
            F.min("uid").alias("uid"),
            F.first("band_arr").alias("band_arr"),  # identical across the md5 group
        ]
        if cfg.compose_domain:
            champ_aggs.append(F.min_by("domain", "uid").alias("domain"))
        banded = raw.groupBy("mk").agg(*champ_aggs).select(
            *cols, "band_arr"
        ).persist()
    else:
        banded = raw.select(*cols, "band_arr").persist()
    if caches is not None:
        caches.append(banded)
    exploded = banded.select(*cols, F.explode("band_arr").alias("band_hash"))
    if cfg.compose_domain:
        # composite blocking key (north_star): domain + LSH band,
        # folded into one long
        key = F.xxhash64(F.col("domain"), F.col("band_hash"))
    else:
        key = F.col("band_hash")
    return exploded.select(key.alias("block_key"), "uid")


_LEDGER_SCHEMA = "block_key long, block_size long, n_subblocks long"


def check_block_cap(max_block_size: int) -> None:
    """Raise ``ValueError`` for a block cap below 1 — the one check
    shared by the splitter and dedup's joins, which call it before
    they persist anything or start a job."""
    if max_block_size < 1:
        raise ValueError(f"max_block_size must be >= 1, got {max_block_size!r}")


def _split(
    members: DataFrame, max_block_size: int
) -> tuple[DataFrame, DataFrame, bool]:
    """(bounded_members, split ledger, any block split?) — the body of
    ``split_oversized_blocks``; ``bounded_block_pairs`` reads the flag
    to skip the split machinery when nothing is over the cap."""
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


def split_oversized_blocks(
    members: DataFrame, max_block_size: int
) -> tuple[DataFrame, DataFrame]:
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

    Returns (bounded_members, block_stats):
    - bounded_members: (block_key, sub, uid), every (block_key, sub)
      group ≤ ~max_block_size
    - block_stats reports every split block (key, size, n_subblocks) —
      the no-silent-caps ledger.

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
    bounded, stats, _ = _split(members, max_block_size)
    return bounded, stats


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
    aggregate's map stage and its result).  That is safe because every caller
    explodes ``members`` from a frame it has persisted (``lsh_blocks``'
    band arrays, the rows of dedup's ``_bucket_pairs``), so the
    collect fills that cache and the pairs read it again instead of
    re-running its UDF.  Only what the ledger names is built:

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
    bounded, stats, split = _split(members, max_block_size)
    if not split:
        return _pairs_within_blocks(bounded), stats
    bounded = bounded.persist()
    if caches is not None:
        caches.append(bounded)
    pairs = _pairs_within_blocks(bounded).unionByName(
        rep_star_edges(bounded)  # reads the cache — tiny split-only aggs
    )
    return pairs, stats


def lsh_candidates(
    normalized: DataFrame,
    cfg: BlockingConfig,
    caches: list | None = None,
    champions: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """MinHash-LSH candidate pairs (uid_a, uid_b, block_key, strategy)
    + block-split stats, pairs not yet deduped.  ``caches`` collects
    the band-array cache of ``lsh_blocks`` and, when a block splits,
    the bounded membership of ``bounded_block_pairs``."""
    blocks = lsh_blocks(
        normalized, cfg, caches, champions=champions
    )  # persists pre-explode internally
    pairs, stats = bounded_block_pairs(blocks, cfg.max_block_size, caches)
    return pairs.withColumn("strategy", F.lit("lsh")), stats


def candidate_pairs(
    normalized: DataFrame, cfg: BlockingConfig, caches: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """Union of blocking strategies, deduped on (uid_a, uid_b).

    Output schema: (uid_a long, uid_b long, block_key long, strategy
    string) — integer surrogates, by design: the dedup here is the one
    mandatory wide shuffle of the blocking stage (SURVEY.md §2.6) and
    it ships 16 B of ids per row instead of ~100 B of url strings.
    Urls re-attach in score_pairs' enrichment join (or via
    ``attach_urls`` for direct consumers).  UNION DISTINCT across
    strategies so a pair found by both exact and LSH scores once;
    ``strategy`` keeps the highest-precision provenance (exact < lsh
    lexicographically — min picks 'exact' deterministically).
    """
    parts = []
    stats = None
    if "exact" in cfg.strategies:
        parts.append(exact_candidates(normalized))
    if "lsh" in cfg.strategies:
        # champion-per-md5 banding is only sound when the exact star
        # edges accompany it; lsh-only configs must band every doc
        lsh, stats = lsh_candidates(
            normalized, cfg, caches, champions="exact" in cfg.strategies
        )
        parts.append(lsh)
    if not parts:
        raise ValueError(f"no known blocking strategies in {cfg.strategies!r}")
    if stats is None:  # exact-only: empty split ledger, same schema
        stats = local_frame(normalized.sparkSession, [], _LEDGER_SCHEMA)
    if len(parts) == 1:
        if "lsh" in cfg.strategies:
            # a pair can surface from several band buckets — dedup it
            return parts[0].dropDuplicates(["uid_a", "uid_b"]), stats
        # exact star edges are unique by construction — no shuffle
        return parts[0], stats
    pairs = (
        parts[0].unionByName(parts[1])
        .groupBy("uid_a", "uid_b")
        .agg(
            F.min("strategy").alias("strategy"),
            F.min("block_key").alias("block_key"),
        )
        .select("uid_a", "uid_b", "block_key", "strategy")
    )
    return pairs, stats
