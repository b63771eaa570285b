"""MinHash band keys and SimHash signatures as Arrow-batched pandas
UDFs, plus the JVM-side tokenizer every token-based operator shares.

The blocking design (SURVEY.md §2.3, §4.1): token base-hashing runs
JVM-side (ONE flat ``F.transform`` + ``xxhash64`` pass — per-shingle
string slicing in interpreted higher-order expressions was the
dominant CPU cost of the blocking stage and is gone), while shingle
folding, the MinHash signature, and LSH banding are fused into one
pandas UDF whose folds, signature and banding are numpy-vectorized over
the batch (``shingle_flat`` + segment reductions).  Some per-row Python
remains: ``_flatten_ragged`` copies each row's array into the flat
buffer one row at a time, ``shingle_flat`` folds each non-empty row
shorter than the shingle size in a Python loop, and ``_row_lists`` and
the grams output turn each row back into a Python list with
``.tolist()``.  On the ~7.1k-doc ``near_dup`` benchmark corpus those
conversions were about 0.06 s of the MinHash kernel's 0.3 s CPU.

One MinHash kernel family: ``_band_keys`` (the cache-blocked
``_chunked_min_fold`` signature, then the FNV ``_band_fold``) sits
behind both MinHash UDF factories — ``make_minhash_band_udf`` (ER
blocking: band keys) and ``make_minhash_band_gram_udf`` (the verified
MinHash and n-gram near-dup joins: band keys plus each row's distinct
shingle hashes).  ``make_md5_gram_bands_udf`` is the md5 reference
path the DuckDB oracle reproduces, not part of that family.

``simhash_udf`` packs the per-bit sign sums of each row's token hashes
into one 64-bit SimHash.  ``tokens_col`` (text split on single
spaces, empties dropped; callers pass normalized or lower-cased text)
is the one tokenizer: blocking, the near-duplicate joins, normalize's
token count, decontam, terms and textstats all use it.  Winnowing
fingerprints are pure JVM expressions in
``textstats.document_fingerprints_md5``.

All hash parameters derive from fixed seeds so signatures are
deterministic across executors, runs, and cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MINHASH_SEED = 0x5EED_CAFE
_EMPTY_SENTINEL = np.uint64(0xFFFFFFFFFFFFFFFF)


def _minhash_params(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic multiply-shift parameters (odd a, any b), uint64
    wrap-around arithmetic."""
    rng = np.random.default_rng(_MINHASH_SEED)
    a = rng.integers(1, 2**63, size=num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    return a, b


def _flatten_ragged(arrays: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """list-of-int64-arrays column → (flat uint64, start offsets, lengths)."""
    lengths = np.fromiter(
        (0 if x is None else len(x) for x in arrays), dtype=np.int64, count=len(arrays)
    )
    offsets = np.zeros(len(arrays) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    total = int(offsets[-1])
    flat = np.empty(total, dtype=np.int64)
    pos = 0
    for x in arrays:
        if x is None or len(x) == 0:
            continue
        n = len(x)
        flat[pos : pos + n] = np.asarray(x, dtype=np.int64)
        pos += n
    return flat.view(np.uint64), offsets, lengths


_SHINGLE_PRIME = np.uint64(0x100000001B3)


def shingle_flat(
    flat: np.ndarray, lengths: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Ragged token-hash arrays → ragged word-k-shingle hashes, fully
    vectorized: shingle hash = polynomial fold of k consecutive token
    hashes (uint64 wrap-around).  Rows shorter than k (but non-empty)
    yield ONE shingle folding all their tokens — same semantics as the
    earlier string-shingle form (tiny docs still block).

    Replaces JVM-side string shingling (slice+concat_ws per shingle is
    an interpreted higher-order expression — measured ~15ms CPU per
    document; this path is ~50x cheaper)."""
    n = len(lengths)
    out_lengths = np.where(
        lengths >= k, lengths - k + 1, np.where(lengths > 0, 1, 0)
    ).astype(np.int64)
    if k <= 1 or flat.size == 0:
        return flat, (lengths if k <= 1 else out_lengths)
    N = flat.size
    in_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=in_off[1:])
    out_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_lengths, out=out_off[1:])
    out = np.empty(int(out_off[-1]), dtype=np.uint64)

    rid = np.repeat(np.arange(n, dtype=np.int64), lengths)
    m_len = N - k + 1
    if m_len > 0:
        m = flat[:m_len].copy()
        for i in range(1, k):
            m = m * _SHINGLE_PRIME ^ flat[i : m_len + i]
        valid = rid[:m_len] == rid[k - 1 :]
        pos = np.nonzero(valid)[0]
        r = rid[pos]
        dest = out_off[r] + (pos - in_off[r])
        out[dest] = m[pos]
    # non-empty rows shorter than k: one fold over all their tokens
    for r in np.nonzero((lengths > 0) & (lengths < k))[0]:
        seg = flat[in_off[r] : in_off[r + 1]]
        acc = seg[0]
        for v in seg[1:]:
            acc = acc * _SHINGLE_PRIME ^ v
        out[out_off[r]] = acc
    return out, out_lengths


# Cache-block size for the signature inner loops, in uint64 elements
# (256 KB — the measured sweet spot on this host's L2; 64 KB-1 MB are
# all within ~10%).  The un-blocked form streams num_hashes full passes
# over the batch's flat shingle array (~16 MB at Arrow batch size)
# through DRAM; under local[32] every worker contends for the same
# memory bus — the measured block+score saturation at 2.1-2.3x for 4x
# threads.  Blocking keeps each pass's working set resident on-core:
# measured (scripts/bench_minhash_kernel.py) 2.0x single-process and
# 5.2x under 32-process contention, with BIT-IDENTICAL output.
_CHUNK_ELEMS = 1 << 15


def _chunk_runs(flat: np.ndarray, offsets: np.ndarray, ne_rows: np.ndarray, dtype):
    """Cache-blocked runs over the non-empty rows ``ne_rows`` of a
    ragged batch, shared by the MinHash and SimHash kernels.  Yields
    ``(rows, seg, starts, w)``: consecutive rows whose flat segments fit
    one scratch buffer of ``_CHUNK_ELEMS`` + the longest segment (a run
    always admits at least one row), their flat slice ``seg``, each
    row's start within it, and a ``dtype`` scratch view of seg's length.
    The buffer is allocated once per batch."""
    if not flat.size or not ne_rows.size:
        return
    seg_lens = offsets[ne_rows + 1] - offsets[ne_rows]
    buf = np.empty(
        min(int(_CHUNK_ELEMS + seg_lens.max()), int(flat.size)), dtype=dtype
    )
    row_lo = 0
    while row_lo < ne_rows.size:
        start_elem = int(offsets[ne_rows[row_lo]])
        row_hi = row_lo + 1
        while (
            row_hi < ne_rows.size
            and offsets[ne_rows[row_hi] + 1] - start_elem <= buf.size
        ):
            row_hi += 1
        rows = ne_rows[row_lo:row_hi]
        seg = flat[start_elem : int(offsets[rows[-1] + 1])]
        starts = (offsets[rows] - start_elem).astype(np.int64)
        yield rows, seg, starts, buf[: seg.size]
        row_lo = row_hi


def _chunked_min_fold(
    flat: np.ndarray,
    offsets: np.ndarray,
    ne_rows: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    out: np.ndarray,
) -> None:
    """Fill ``out[row, k] = min over row's segment of flat*a[k]+b[k]``
    for the non-empty rows ``ne_rows``: all ``len(a)`` hash functions
    run over each cache-resident ``_chunk_runs`` run before moving on.
    No per-iteration allocation beyond reduceat's (n_run_rows,) result."""
    for rows, seg, starts, w in _chunk_runs(flat, offsets, ne_rows, np.uint64):
        for k in range(len(a)):
            np.multiply(seg, a[k], out=w)  # uint64 wrap-around
            w += b[k]
            out[rows, k] = np.minimum.reduceat(w, starts)


_FNV_OFFSET = np.uint64(1469598103934665603)
_FNV_PRIME = np.uint64(1099511628211)
_BAND_MIX = np.uint64(0x9E3779B97F4A7C15)


def _band_fold(sig: np.ndarray, bands: int) -> np.ndarray:
    """(n, bands·rows) signature matrix → (n, bands) FNV-1a band keys
    with the band index mixed in."""
    n = sig.shape[0]
    m = sig.reshape(n, bands, sig.shape[1] // bands)
    h = np.full((n, bands), _FNV_OFFSET, dtype=np.uint64)
    for r in range(m.shape[2]):
        h = (h ^ m[:, :, r]) * _FNV_PRIME
    h ^= np.arange(bands, dtype=np.uint64) * _BAND_MIX
    return h


def _band_keys(
    flat: np.ndarray, offsets: np.ndarray, a: np.ndarray, b: np.ndarray, bands: int
) -> np.ndarray:
    """The one MinHash band-key core: ragged batch (flat uint64 hashes,
    row offsets) → (n, bands) uint64 band keys.  The ``len(a)``-long
    signature comes from ``_chunked_min_fold`` (sentinel for empty rows,
    whose keys are meaningless — callers emit null for them), then
    ``_band_fold`` folds each band's ``len(a) // bands`` rows."""
    n = len(offsets) - 1
    sig = np.full((n, len(a)), _EMPTY_SENTINEL, dtype=np.uint64)
    _chunked_min_fold(flat, offsets, np.nonzero(np.diff(offsets))[0], a, b, sig)
    return _band_fold(sig, bands)


def _row_lists(mat: np.ndarray, nonempty: np.ndarray) -> list[list[int] | None]:
    """(n, k) uint64 matrix → per-row int64 lists, None where empty."""
    m = mat.view(np.int64)
    return [m[i].tolist() if nonempty[i] else None for i in range(len(nonempty))]


def make_minhash_band_udf(num_hashes: int, bands: int, shingle_size: int = 1):
    """array<bigint> token hashes → array<bigint> of LSH band keys
    (vectorized shingling + signature + banding fused in one UDF; null
    for an empty row).

    Fusing keeps the whole blocking computation in ONE pandas-UDF
    evaluation — banding JVM-side would reference the signature column
    ``bands`` times and Catalyst re-evaluates Python UDFs per reference
    (measured 4-5x slowdown on the blocking stage).  The raw shingle
    stream feeds ``_band_keys`` as is: minima ignore multiplicity, and
    deduping first measured slower for the few repeated shingles of
    blocking's corpora."""
    a, b = _minhash_params(num_hashes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_udf(hashes: pd.Series) -> pd.Series:
        flat, _off, lengths = _flatten_ragged(hashes)
        flat, lengths = shingle_flat(flat, lengths, shingle_size)
        offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        keys = _band_keys(flat, offsets, a, b, bands)
        return pd.Series(_row_lists(keys, lengths > 0), dtype="object")

    return band_udf


def _dedup_ragged(gflat: np.ndarray, glens: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ragged gram-hash stream → per-row DISTINCT hashes: one lexsort by
    (row, hash) over the flat batch, keep first of each run.  Returns
    (distinct_flat, distinct_lengths, offsets)."""
    nrows = len(glens)
    if gflat.size:
        rid = np.repeat(np.arange(nrows, dtype=np.int64), glens)
        order = np.lexsort((gflat, rid))
        sr, sh = rid[order], gflat[order]
        keep = np.ones(sh.size, dtype=bool)
        keep[1:] = (sr[1:] != sr[:-1]) | (sh[1:] != sh[:-1])
        dh = sh[keep]
        dlens = np.bincount(sr[keep], minlength=nrows).astype(np.int64)
    else:
        dh = np.empty(0, dtype=np.uint64)
        dlens = np.zeros(nrows, dtype=np.int64)
    offs = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(dlens, out=offs[1:])
    return dh, dlens, offs


def make_minhash_band_gram_udf(num_hashes: int, bands: int, shingle_size: int):
    """array<bigint> token hashes → struct(bands: array<bigint>,
    grams: array<bigint>): ONE fused kernel producing both the LSH band
    keys (shingle fold → distinct → ``_band_keys``) and the row's
    DISTINCT shingle-hash set for an exact verify join.  Both fields
    are null for an empty row.

    Behind both verified joins: the MinHash near-dup join (e.g. 48
    bands × 4 rows) and the n-gram join (``bands == num_hashes``: one
    row per band, so a pair with Jaccard J agrees on a band with
    probability J).  Shingling once and deriving both outputs makes the
    whole candidates+verify pipeline one Arrow pass — no string
    shingles, no signature column.  MinHash minima over the DISTINCT
    stream equal minima over the raw stream (min ignores multiplicity),
    so band keys are identical to ``make_minhash_band_udf``'s."""
    a, b = _minhash_params(num_hashes)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("bands", T.ArrayType(T.LongType())),
                T.StructField("grams", T.ArrayType(T.LongType())),
            ]
        )
    )
    def band_gram_udf(hashes: pd.Series) -> pd.DataFrame:
        flat, _off, lengths = _flatten_ragged(hashes)
        gflat, glens = shingle_flat(flat, lengths, shingle_size)
        dh, dlens, offs = _dedup_ragged(gflat, glens)
        nonempty = dlens > 0
        dh_i64 = dh.view(np.int64)
        return pd.DataFrame(
            {
                "bands": _row_lists(_band_keys(dh, offs, a, b, bands), nonempty),
                "grams": [
                    dh_i64[offs[i] : offs[i + 1]].tolist() if nonempty[i] else None
                    for i in range(len(dlens))
                ],
            }
        )

    return band_gram_udf


def make_md5_gram_bands_udf(n: int, num_bands: int):
    """array<string> tokens → struct(grams: array<bigint>,
    bands: array<string>): the md5 SQL-parity banding of
    ``ngram_jaccard_pairs``, computed in one Arrow batch pass
    (round 6).

    Byte-identical band buckets to the HOF formulation it replaces:
    band b = ``f"{b}|" + min over grams of md5(f"s{b}|{gram}")`` —
    min is taken over raw 16-byte digests, which orders exactly like
    the lowercase-hex strings (hex encoding is byte-order-preserving),
    then hex-encoded once.  The interpreted per-gram HOF md5 chain
    (num_bands salts × every gram, built via slice/concat_ws) measured
    ~11.5s at sf1.0; hashlib over the same bytes is sub-second.
    ``grams`` carries the first 8 md5 bytes of each DISTINCT gram as a
    big-endian int64 — the verify join's stand-in for the gram string
    (same absent-64-bit-collisions equivalence the fast path documents)."""
    import hashlib

    salts = [f"s{b}|".encode() for b in range(num_bands)]
    prefixes = [f"{b}|" for b in range(num_bands)]

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("grams", T.ArrayType(T.LongType())),
                T.StructField("bands", T.ArrayType(T.StringType())),
            ]
        )
    )
    def md5_gram_bands_udf(tokens: pd.Series) -> pd.DataFrame:
        md5 = hashlib.md5
        grams_out: list[list[int] | None] = []
        bands_out: list[list[str] | None] = []
        for toks in tokens:
            if toks is None or len(toks) == 0:
                grams_out.append(None)
                bands_out.append(None)
                continue
            if len(toks) >= n:
                grams = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
            else:
                grams = {" ".join(toks)}
            genc = [g.encode("utf-8") for g in grams]
            digs = [md5(ge).digest() for ge in genc]
            # sorted: set order varies with PYTHONHASHSEED
            grams_out.append(
                sorted(int.from_bytes(d[:8], "big", signed=True) for d in digs)
            )
            bands_out.append(
                [
                    prefixes[bi] + min(md5(s + ge).digest() for ge in genc).hex()
                    for bi, s in enumerate(salts)
                ]
            )
        return pd.DataFrame({"grams": grams_out, "bands": bands_out})

    return md5_gram_bands_udf


def simhash64(hash_arrays: pd.Series) -> np.ndarray:
    """Batch 64-bit SimHash over per-row token-hash arrays: per bit
    position, sum ±1 contributions per row (``np.add.reduceat``), sign
    gives the bit.  Cache-blocked by the same ``_chunk_runs`` as the
    MinHash kernel — the 64 per-bit passes otherwise stream the whole
    flat batch through DRAM (same contention pathology; same
    bit-identical fix)."""
    flat, offsets, lengths = _flatten_ragged(hash_arrays)
    sig = np.zeros(len(lengths), dtype=np.uint64)
    ne_rows = np.nonzero(lengths > 0)[0]
    for rows, seg, starts, w in _chunk_runs(flat, offsets, ne_rows, np.int64):
        for bit in range(64):
            np.right_shift(seg, np.uint64(bit), out=w.view(np.uint64))
            wv = w.view(np.uint64)
            wv &= np.uint64(1)
            w *= 2
            w -= 1
            sums = np.add.reduceat(w, starts)
            sig[rows] |= ((sums > 0).astype(np.uint64)) << np.uint64(bit)
    return sig.view(np.int64)


@F.pandas_udf(T.LongType())
def simhash_udf(hashes: pd.Series) -> pd.Series:
    return pd.Series(simhash64(hashes))


# ---------------------------------------------------------------------------
# JVM-side tokenizing / base-hashing helpers (no Python in these paths)
# ---------------------------------------------------------------------------

def tokens_col(norm_text: Column) -> Column:
    """normalized text → token array (JVM split)."""
    return F.filter(F.split(norm_text, " "), lambda t: t != "")


def token_hashes_col(tokens: Column) -> Column:
    """token array → array<bigint> of xxhash64(token) — ONE flat
    higher-order pass (no per-shingle string slicing: interpreted HOF
    string work measured ~15ms CPU/doc; shingle combination happens
    vectorized inside the MinHash UDF, see ``shingle_flat``)."""
    return F.transform(tokens, lambda t: F.xxhash64(t))

