"""Deduplication suite for large-scale training-data pipelines.

Five dedup families over a ``documents``-shaped table
(doc_id, text, lang, source, n_chars), each usable standalone and each
exposed as a driver-contract query (__spark_entry__.py):

- **exact**        — md5-groupBy; JVM only, one shuffle.
- **MinHash+LSH**  — shingle → band keys → bucket-join → exact verify
                     (shares its band-key kernel in functions/hashing.py
                     with the ER pipeline's blocking).
- **SimHash**      — 64-bit signature; near-dups = identical signature
                     or Hamming ≤ k via the block-permutation trick
                     (split the 64 bits into k+1 blocks; duplicates
                     agree exactly on ≥1 block — pigeonhole).
- **n-gram Jaccard** — exact token-n-gram Jaccard over one-row
                     MinHash band blocks (an md5 oracle-parity path and
                     a fast path on the same kernel as MinHash+LSH).
- **embedding cosine** — near-dup pairs by cosine ≥ τ, bucketed by
                     random-hyperplane signs (the scale path; the
                     brute-force baseline lives in operators/ann.py).

The five LSH-style joins (MinHash, SimHash, both n-gram paths,
embedding) share the engine's one candidate phase with ER blocking, and
one join-back.  Each family's signature UDF emits (id, buckets
array<long>, payload…) rows, and ``blocking.bucket_pairs`` checks the
cap, persists those rows, explodes the buckets and runs the bucket
self-join, ``blocking.bounded_block_pairs``: hot buckets are split into
ceil(size/max_bucket_size) sub-buckets and star-linked, so there is
never an unblocked self-join and never an unbounded bucket; pairs
always satisfy id_a < id_b (the split ledger is not used here).
``_attach`` joins the payload columns back onto both sides as
``<col>_a``/``<col>_b``, and the family's exact predicate decides each
pair.  What differs per family is the signature UDF, the predicate
and where the candidates are deduped.  MinHash and the fast n-gram
path share one signature phase too, ``_minhash_rows`` (the fused
MinHash kernel over every non-empty document), and differ only in
their band shape and dedup placement.  Ids must be integral (the
sub-bucket assignment is ``pmod(id, n_sub)``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from ..functions import hashing as H
from ..sources.readers import fan_out
from .blocking import bucket_pairs

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_duplicate_groups(documents: DataFrame) -> DataFrame:
    """md5(text) groups with >1 member: (text_md5, n_copies, keep_id).

    keep_id is the minimal doc_id — the deterministic survivor."""
    return (
        documents.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """One survivor (min doc_id) per distinct text — a window argmin,
    no join."""
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        documents.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# join-back and Jaccard verify (the five LSH-style joins)
# ---------------------------------------------------------------------------

def _attach(pairs: DataFrame, rows: DataFrame) -> DataFrame:
    """(id_a, id_b, …) pairs with the payload of ``bucket_pairs``' rows
    joined back on both sides: every column but ``id`` and ``buckets``
    arrives as ``<col>_a`` and ``<col>_b``."""
    payload = [c for c in rows.columns if c not in ("id", "buckets")]
    for side in ("a", "b"):
        pairs = pairs.join(
            rows.select(
                F.col("id").alias(f"id_{side}"),
                *[F.col(c).alias(f"{c}_{side}") for c in payload],
            ),
            f"id_{side}",
        )
    return pairs


def _jaccard_at_least(pairs: DataFrame, min_jaccard: float) -> DataFrame:
    """Attached pairs → (id_a, id_b, jaccard ≥ τ), exact.

    ``pairs`` carries ``grams_a``/``grams_b`` (array<long> DISTINCT gram
    hashes) and ``ng_a``/``ng_b`` (their sizes, ≥ 1).  Three round-6
    verify economies, all value-preserving:

    - size-ratio prefilter: i ≤ min(|A|,|B|) and u ≥ max(|A|,|B|), so
      J ≤ min/max — pairs failing min ≥ τ·max can never reach τ and
      skip the intersect entirely.  The threshold carries a 1e-9
      relative slack so double rounding can only ADMIT borderline
      pairs (the exact filter below still decides them), never drop
      one.
    - union by sizes: |A∪B| = |A|+|B|−|A∩B| for distinct-element
      arrays — no array_union build per pair.
    - int64 gram hashes instead of gram strings: integer set intersect,
      and the pair join ships 8 B per gram."""
    ratio_ok = F.least("ng_a", "ng_b").cast("double") >= (
        F.lit(min_jaccard) * F.greatest("ng_a", "ng_b").cast("double") * (1.0 - 1e-9)
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    scored = pairs.filter(ratio_ok).select(
        "id_a", "id_b", inter.alias("i"), "ng_a", "ng_b"
    )
    jac = F.col("i") / (F.col("ng_a") + F.col("ng_b") - F.col("i"))
    return (
        scored.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_rows(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_size: int,
) -> DataFrame:
    """``bucket_pairs`` rows for the two joins on the shared MinHash
    kernel: (id, buckets, grams, ng) per document with at least one
    token.  ``lower(text)`` is tokenized and hashed in the JVM, then ONE
    fused Arrow pass (``make_minhash_band_gram_udf``) emits the band
    keys and the DISTINCT shingle-hash set (``ng`` is its size)."""
    documents = fan_out(documents)  # round 6: see readers.fan_out
    tokens = H.tokens_col(F.lower(F.col(text_col)))
    docs = documents.select(
        F.col(id_col).alias("id"), H.token_hashes_col(tokens).alias("th")
    ).filter(F.size("th") > 0)
    bg_udf = H.make_minhash_band_gram_udf(num_hashes, bands, shingle_size)
    return docs.select("id", bg_udf("th").alias("bg")).select(
        "id",
        F.col("bg.bands").alias("buckets"),
        F.col("bg.grams").alias("grams"),
        F.size("bg.grams").alias("ng"),
    )


def minhash_verified_near_duplicates(
    documents: DataFrame,
    shingle_size: int = 2,
    num_hashes: int = 192,
    bands: int = 48,
    min_jaccard: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 2000,
    caches: list | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) near-duplicate pairs with EXACT shingle
    Jaccard: MinHash-LSH generates the candidates (ids only through the
    band shuffle), then the distinct word-shingle sets join back and
    ``array_intersect`` and the set sizes give the true Jaccard — pure
    JVM, no estimate.

    Precision is 1.0 by construction (every emitted pair is exactly
    verified); recall is the LSH band recall — at min_jaccard 0.8 with
    48 bands × 4 rows, P(miss) = (1 − J⁴)⁴⁸ ≈ 1e-11, i.e. ≈ 1.  This
    makes the output equal to the full all-pairs Jaccard join with
    near-certainty, which is what lets a DuckDB all-pairs oracle
    value-check the whole signature→band→bucket-join pipeline
    (__spark_entry__.py ``minhash_near_dup``); any gap *measures* LSH
    recall rather than hiding it.  At scale the verify join ships one
    distinct-gram array per doc side — bounded by doc length, and only
    for candidate pairs (linear-ish), never all pairs.

    Round-6 shape (same output): ONE fused Arrow kernel
    (``make_minhash_band_gram_udf``) shingles each doc once and emits
    both the 48 LSH band keys and the DISTINCT shingle-hash set, so
    the corpus is tokenized/shingled once instead of twice (the verify
    side previously rebuilt STRING shingles through interpreted
    slice/concat HOFs) and no 192-long signature column ever
    materializes.  Band keys are the FNV fold the blocking stage uses
    (``make_minhash_band_udf`` semantics — minima over the distinct
    stream equal minima over the raw stream); band-hash family changes
    only move LSH recall within the same 1-(1-J^rows)^bands bound the
    docstring above pins (≈1e-11 miss at τ=0.8), exactly like the
    fast-ngram path's documented equivalence.  The verify join ships
    int64 shingle hashes and applies the _jaccard_at_least
    economies (size-ratio prefilter, union-by-sizes); hashed-shingle
    jaccard equals string-shingle jaccard absent 64-bit fold
    collisions.

    Every non-empty document is banded on its own, exact clones
    included, so a hot bucket is split by the same bounded-bucket rule
    as in every other family, counted in documents.  Candidates are
    deduped before the verify.  Banding one champion per distinct text
    and re-expanding its clones afterwards costs more than it saves:
    on the erbench ``near_dup`` seed-1 corpus (7 082 docs, half exact
    clones) that form ran 14 Spark jobs to this one's 8, for equal
    output rows (BASELINE.md, "Per-doc MinHash banding, parent vs
    change").  A ``max_bucket_size`` below 1 raises ``ValueError``
    before anything is persisted or any job runs."""
    docs = _minhash_rows(documents, id_col, text_col, num_hashes, bands, shingle_size)
    pair_ids, _ = bucket_pairs(docs, max_bucket_size, caches)
    pair_ids = pair_ids.dropDuplicates(["id_a", "id_b"])
    return _jaccard_at_least(_attach(pair_ids, docs), min_jaccard)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-doc SimHash over token hashes.

    ``hash_mode``: ``xxhash64`` (production — full 64-bit signatures)
    or ``md5_60`` (SQL-parity twin: token hash = first 15 hex chars of
    md5, a 60-bit value DuckDB reproduces exactly, so the signature —
    sign-of-sum per bit — is reproducible as 60 SQL aggregates and the
    whole near-dup query becomes oracle-checkable; bits 60–63 of the
    signature are structurally 0).  Same aggregation either way —
    the md5 twin value-checks the sign-sum/bit-pack machinery the
    production path shares."""
    if hash_mode not in ("xxhash64", "md5_60"):
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    documents = fan_out(documents)  # round 6: see readers.fan_out
    tokens = H.tokens_col(F.lower(F.col(text_col)))
    sigs = documents.select(F.col(id_col).alias("id"), tokens.alias("tk"))
    # empty docs all share the zero signature and would pair off at
    # hamming 0 — keep them out of the near-dup universe (mirrored in
    # the DuckDB oracle's len(toks) > 0 filter)
    sigs = sigs.filter(F.size("tk") > 0)
    if hash_mode == "xxhash64":
        th = F.transform(F.col("tk"), lambda t: F.xxhash64(t))
    else:
        th = F.transform(
            F.col("tk"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    return sigs.withColumn("simhash", H.simhash_udf(th)).drop("tk")


def simhash_near_duplicates(
    documents: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 2000,
    caches: list | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(simhash) ≤ max_hamming.

    Blocking by the pigeonhole/block-permutation scheme (Manku et al.,
    WWW'07 — public): split the signature bits into (max_hamming+1)
    blocks; any pair within distance max_hamming agrees exactly on at
    least one block, so candidates = equi-join per block.  Hamming
    distance is then verified with bit_count(xor) — pure JVM.  Empty
    docs are excluded (they would all collide at hamming 0).

    ``hash_mode='md5_60'`` is the SQL-parity twin (60-bit signatures,
    4×15-bit blocks at the default max_hamming) — the driver's DuckDB
    oracle reproduces it bit-for-bit; ``xxhash64`` stays the
    production path."""
    sigs = simhash_signatures(documents, id_col, text_col, hash_mode)
    nblocks = max_hamming + 1
    nbits = 60 if hash_mode == "md5_60" else 64
    width = nbits // nblocks
    # the LAST block absorbs the remainder bits when nblocks does not
    # divide nbits — otherwise nbits % nblocks high bits would be
    # covered by no block and a pair differing only there would break
    # the <= max_hamming pigeonhole recall guarantee (ADVICE r4; both
    # shipped configs 64/4 and 60/4 divide exactly, so this is purely
    # defensive for other max_hamming values)
    def _block_width(i: int) -> int:
        return width if i < nblocks - 1 else nbits - (nblocks - 1) * width
    # (block_idx, block_val) folds to one long bucket key: a 2^-64
    # xxhash64 collision only merges two buckets' candidate lists, and
    # the exact Hamming filter below still decides every pair
    buckets = F.array(
        *[
            F.xxhash64(
                F.lit(i),
                F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                    F.lit((1 << _block_width(i)) - 1)
                ),
            )
            for i in range(nblocks)
        ]
    )
    rows = sigs.select("id", buckets.alias("buckets"), "simhash")
    pair_ids, _ = bucket_pairs(rows, max_bucket_size, caches)
    pair_ids = pair_ids.dropDuplicates(["id_a", "id_b"])
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        _attach(pair_ids, rows)
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (md5 DuckDB-oracle-parity path)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    min_jaccard: float = 0.4,
    num_bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 2000,
    caches: list | None = None,
) -> DataFrame:
    """Exact token-n-gram Jaccard within min-gram-hash blocks.

    Blocking: ``num_bands`` single-row MinHash bands over the gram set,
    computed as min(md5(salt || gram)) — md5 so the DuckDB oracle can
    reproduce the exact same buckets (SQL-parity path).  A pair with
    Jaccard J shares ≥1 band with probability 1-(1-J)^num_bands
    (≥ 0.98 at J = 0.4, num_bands = 8).

    Round-6 shape (same output): gram construction + the md5 banding
    run in ONE Arrow-batched UDF (``make_md5_gram_bands_udf`` — the
    interpreted per-gram HOF md5 chain measured ~11.5s of the query at
    sf1.0, hashlib is sub-second for the identical bytes; band buckets
    byte-identical, so the candidate set is unchanged).  The verify
    join ships DISTINCT gram md5-prefix int64s instead of gram
    strings; jaccard = i / (|A| + |B| − i) over them — equal to the
    string-gram jaccard absent 64-bit md5-prefix collisions (the
    documented fast-path equivalence standard), with |A|+|B|−i
    replacing the array_union build and an exact size-ratio prefilter
    (J ≤ min/max) skipping the intersect for pairs that cannot reach
    min_jaccard — at sf1.0 the bands produce 8.2M candidates of which
    2.5k survive, so the prefilter is where the verify time goes."""
    documents = fan_out(documents)  # round 6: see readers.fan_out
    tokens = H.tokens_col(F.lower(F.col(text_col)))
    # empty/whitespace-only docs would all share the '' gram and pair
    # off at jaccard 1.0 — drop them before banding (mirrored in the
    # DuckDB oracle; the UDF returns null for them, matching)
    docs = documents.select(F.col(id_col).alias("id"), tokens.alias("toks")).filter(
        F.size("toks") > 0
    )
    gb_udf = H.make_md5_gram_bands_udf(n, num_bands)
    # bucket byte diet: the band STRING ("b|<32 hex>", ~35 B) only needs
    # its equality classes for the self-join — xxhash64 folds it to an
    # 8 B long (a 2^-64 bucket-string collision merely merges two
    # buckets' candidate lists, which the exact verify then filters; an
    # output change additionally needs the spurious pair to clear the
    # jaccard threshold — the same negligible-collision standard as the
    # gram hashes).
    docs = docs.select("id", gb_udf("toks").alias("gb")).select(
        "id",
        F.transform("gb.bands", lambda b: F.xxhash64(b)).alias("buckets"),
        F.col("gb.grams").alias("grams"),
        F.size("gb.grams").alias("ng"),
    )
    # Pair dedup runs after the verify filter.  The result equals
    # deduping first, because jaccard is a pure function of the pair;
    # which placement is cheaper depends on how many candidates
    # survive.  Medians of 5 interleaved pairs on a 4-core host: this
    # path at sf0.1 (86k raw candidates, 256 survivors) took 2.27 s,
    # and 2.69 s with dedup first; ngram_jaccard_pairs_fast on the
    # erbench near_dup seed-1 corpus (109k raw candidates, 17k
    # distinct, 17k survivors) took 2.38 s, and 2.26 s with dedup
    # first.  Both n-gram paths keep dedup-after-verify.
    pair_ids, _ = bucket_pairs(docs, max_bucket_size, caches)
    return _jaccard_at_least(_attach(pair_ids, docs), min_jaccard).dropDuplicates(
        ["id_a", "id_b"]
    )


def ngram_jaccard_pairs_fast(
    documents: DataFrame,
    n: int = 3,
    min_jaccard: float = 0.4,
    num_bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 2000,
    caches: list | None = None,
) -> DataFrame:
    """Production variant of ``ngram_jaccard_pairs`` — identical
    semantics (exact token-n-gram Jaccard within min-gram-hash blocks),
    with all per-gram hashing fused into ONE Arrow-batched pandas UDF:
    token xxhash64 stays a flat JVM pass, then the shared MinHash kernel
    (``make_minhash_band_gram_udf`` with ``num_bands`` one-row bands)
    folds grams, dedups them per row and takes ``num_bands`` salted
    minima, vectorized in numpy.  The SQL-parity path's interpreted
    md5-per-gram HOF expressions (num_bands salts × every gram, hex
    strings) are the cost this removes; blocking recall is the same
    1-(1-J)^num_bands and the final Jaccard filter is exact either way
    (set intersection over the distinct gram-hash sets — equal to
    string-gram Jaccard absent 64-bit collisions), so both variants
    return the same pairs UP TO LSH BLOCKING RECALL: the two paths use
    different band hash functions, so a borderline pair (J barely above
    min_jaccard) can be blocked by one and missed by the other with
    probability up to (1-J)^num_bands (~1.7% at J=0.4, 8 bands); on
    pairs well above the S-curve knee the outputs are identical.
    Pytest (and the `ngram_fast_parity_diff` contract query) pin
    sf-scale equality on the test corpus, whose near-dup pairs sit far
    above the knee; the md5 path remains the DuckDB-oracle query.

    The rows come from ``_minhash_rows``, the signature phase
    ``minhash_verified_near_duplicates`` uses, with ``num_bands``
    one-row bands; this path differs from MinHash only in that shape
    and in deduping its pairs after the verify, not before."""
    docs = _minhash_rows(documents, id_col, text_col, num_bands, num_bands, n)
    # same verify economies and post-verify pair dedup as
    # ngram_jaccard_pairs (see the measurement there) — grams here are
    # already distinct int64 hashes, so jaccard values are unchanged
    pair_ids, _ = bucket_pairs(docs, max_bucket_size, caches)
    return _jaccard_at_least(_attach(pair_ids, docs), min_jaccard).dropDuplicates(
        ["id_a", "id_b"]
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (LSH-bucketed scale path)
# ---------------------------------------------------------------------------

_HYPERPLANE_SEED = 0xA11CE


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.default_rng(_HYPERPLANE_SEED)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def srp_band_params(
    min_cosine: float,
    target_recall: float = 0.95,
    max_bands: int = 32,
    max_planes: int = 16,
) -> tuple[int, int]:
    """(planes_per_band, n_bands) for OR-amplified SRP LSH.

    Per Charikar (STOC'02), two vectors at angle θ agree on one
    hyperplane sign with p = 1 − θ/π.  An AND-only bucket of r planes
    has recall p^r — at min_cosine 0.35 and r = 8 that is ~2%, which is
    the round-1 recall bug.  OR-amplification over b band tables gives
    recall 1 − (1 − p^r)^b at the threshold; this picks the LARGEST r
    (most selective buckets → smallest candidate blocks) whose required
    b = ln(1−target)/ln(1−p^r) still fits max_bands."""
    p = 1.0 - float(np.arccos(np.clip(min_cosine, -1.0, 1.0))) / np.pi
    for r in range(max_planes, 0, -1):
        miss = 1.0 - p**r
        if miss <= 0.0:
            return r, 1
        b = int(np.ceil(np.log(1.0 - target_recall) / np.log(miss)))
        if b <= max_bands:
            return r, max(b, 1)
    return 1, max_bands


def make_srp_bands_udf(dim: int, planes_per_band: int, n_bands: int):
    """embedding → array of n_bands bucket ids: ONE matmul against all
    n_bands·planes_per_band hyperplanes per Arrow batch, sign bits
    packed per band, band index mixed in so buckets never collide
    across bands."""
    planes = _hyperplanes(dim, n_bands * planes_per_band)
    weights = 1 << np.arange(planes_per_band, dtype=np.int64)
    band_offsets = np.arange(n_bands, dtype=np.int64) << np.int64(planes_per_band)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def srp_bands_udf(emb: pd.Series) -> pd.Series:
        mat = np.stack(
            [
                np.asarray(e, dtype=np.float64) if e is not None else np.zeros(dim)
                for e in emb
            ]
        )
        signs = (mat @ planes.T) > 0  # (n, b*r)
        bits = signs.reshape(len(mat), n_bands, planes_per_band) @ weights
        buckets = bits.astype(np.int64) + band_offsets
        return pd.Series(list(buckets))

    return srp_bands_udf


def cosine_sim_col(a: F.Column, b: F.Column, dim: int) -> F.Column:
    """Cosine similarity over two array<double> columns of exactly
    ``dim`` elements — pure JVM, no Python.

    The dot product and both norms are ``aggregate`` folds from a 0.0
    seed in index order.  Those higher-order lambdas run interpreted,
    but an unrolled chain of ``dim`` element_at multiply-adds is slower:
    at dim=64 its generated code passes 64 KB, whole-stage codegen
    fails and the plan falls back (sf0.1 brute-force top-5 over 10
    queries, medians of 5 interleaved runs on a 4-core host: fold
    0.60 s, unrolled 2.77 s, identical rows).  A row where either
    array's size differs from ``dim`` raises (``raise_error``) instead
    of truncating a longer array or reading past a shorter one.  A
    NULL array gives 0.0."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when(
        (F.array_size(a) != dim) | (F.array_size(b) != dim),
        F.raise_error(F.lit(f"cosine_sim_col: array size differs from dim={dim}")),
    ).otherwise(F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0)))


def embedding_near_duplicates(
    embeddings: DataFrame,
    dim: int,
    min_cosine: float = 0.95,
    planes_per_band: int | None = None,
    n_bands: int | None = None,
    target_recall: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 2000,
    caches: list | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine ≥ min_cosine.

    Candidates come from OR-amplified SRP LSH: b band tables of r
    hyperplane-sign bits each (auto-sized from min_cosine via
    ``srp_band_params`` for ≥ target_recall at the threshold, unless
    given explicitly); a pair qualifies as a candidate if it shares ANY
    band bucket, mirroring ``minhash_verified_near_duplicates``.  Every
    candidate is then verified with the exact JVM cosine, so precision
    is 1.0 — the LSH only bounds recall, and the (r, b) choice bounds
    that at target_recall.  Candidate generation ships ids only; the
    dim-sized vectors join back for the verify step."""
    if planes_per_band is None or n_bands is None:
        planes_per_band, n_bands = srp_band_params(min_cosine, target_recall)
    srp = make_srp_bands_udf(dim, planes_per_band, n_bands)
    embeddings = fan_out(embeddings)  # round 6: see readers.fan_out
    vecs = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("buckets", srp(F.col("v")))
    pair_ids, _ = bucket_pairs(vecs, max_bucket_size, caches)
    pair_ids = pair_ids.dropDuplicates(["id_a", "id_b"])
    return (
        _attach(pair_ids, vecs)
        .withColumn("cosine", cosine_sim_col(F.col("v_a"), F.col("v_b"), dim))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )
