"""MinHash / SimHash / winnowing determinism and statistical sanity."""

from __future__ import annotations

import numpy as np
import pandas as pd

from entity_resolution_engine_spark.functions.hashing import (
    make_minhash_band_gram_udf,
    make_minhash_band_udf,
    simhash64,
)
from entity_resolution_engine_spark.operators.textstats import (
    document_fingerprints_md5,
)


def _hashes(tokens: list[str]) -> list[int]:
    # any deterministic int64 per token works for these unit tests
    return [hash_stable(t) for t in tokens]


def hash_stable(t: str) -> int:
    import zlib

    return zlib.crc32(t.encode()) * 2654435761 % (2**63)


def one_row_band_keys(hash_arrays: pd.Series, num_hashes: int) -> list:
    """Per-row keys of the shared band-key core with one signature row
    per band: key k is a bijection of signature position k, so two
    rows' keys agree exactly where their MinHash signatures do."""
    return make_minhash_band_udf(num_hashes, num_hashes).func(hash_arrays).tolist()


def test_minhash_estimates_jaccard():
    a = [f"tok{i}" for i in range(100)]
    b = [f"tok{i}" for i in range(20, 120)]  # true J = 80/120 ≈ 0.667
    sigs = one_row_band_keys(
        pd.Series([_hashes(a), _hashes(b)], dtype="object"), num_hashes=256
    )
    sa, sb = np.array(sigs[0]), np.array(sigs[1])
    est = (sa == sb).mean()
    assert abs(est - 80 / 120) < 0.12


def test_minhash_empty_is_null():
    sigs = one_row_band_keys(pd.Series([[], _hashes(["a"])], dtype="object"), 16)
    assert sigs[0] is None and sigs[1] is not None


def test_minhash_deterministic():
    s1 = one_row_band_keys(pd.Series([_hashes(["x", "y"])], dtype="object"), 64)
    s2 = one_row_band_keys(pd.Series([_hashes(["x", "y"])], dtype="object"), 64)
    assert s1 == s2


def test_chunked_kernels_bit_identical_to_dense():
    """The round-5 cache-blocked inner loops (minhash + simhash) must
    reproduce the un-blocked DRAM-streaming forms bit for bit, across
    ragged batches that straddle chunk boundaries (rows longer than the
    chunk, empty rows, singleton rows)."""
    from entity_resolution_engine_spark.functions import hashing as H

    rng = np.random.default_rng(42)
    lengths = np.concatenate(
        [
            rng.poisson(50, 300),
            [0, 1, 0],
            [int(H._CHUNK_ELEMS + 1000)],  # one row longer than a chunk
            rng.poisson(5, 50),
        ]
    ).astype(np.int64)
    flat = rng.integers(0, 2**63, size=int(lengths.sum()), dtype=np.uint64)

    # dense reference (the pre-round-5 form, verbatim)
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    a, b = H._minhash_params(24)
    ref = np.full((n, 24), H._EMPTY_SENTINEL, dtype=np.uint64)
    nonempty = lengths > 0
    starts = offsets[:-1][nonempty]
    for k in range(24):
        imgs = flat * a[k] + b[k]
        ref[nonempty, k] = np.minimum.reduceat(imgs, starts)
    got = np.full((n, 24), H._EMPTY_SENTINEL, dtype=np.uint64)
    H._chunked_min_fold(flat, offsets, np.nonzero(nonempty)[0], a, b, got)
    assert np.array_equal(ref, got)
    # the band-key core is that fold plus the band fold
    assert np.array_equal(
        H._band_fold(ref, 6), H._band_keys(flat, offsets, a, b, 6)
    )

    # simhash dense reference
    sig_ref = np.zeros(n, dtype=np.uint64)
    for bit in range(64):
        contrib = ((flat >> np.uint64(bit)) & np.uint64(1)).astype(np.int64) * 2 - 1
        sums = np.add.reduceat(contrib, starts)
        sig_ref[nonempty] |= (sums > 0).astype(np.uint64) << np.uint64(bit)
    arrays = pd.Series(
        [flat[offsets[i] : offsets[i + 1]].view(np.int64) for i in range(n)],
        dtype="object",
    )
    assert np.array_equal(
        sig_ref.view(np.int64), np.asarray(simhash64(arrays))
    )


def test_band_udf_and_band_gram_udf_agree_on_band_keys():
    """Both MinHash factories reach the same band-key core: the raw
    shingle stream (blocking) and the distinct one (near-dup joins) give
    byte-equal keys, including on repeated shingles, rows shorter than
    the shingle size, an empty row and a null row."""
    rows = [
        _hashes(["a", "b", "a", "b", "a", "b", "c"]),  # repeated 2-shingles
        _hashes(["x"]),  # shorter than the shingle size
        [],
        None,
        _hashes([f"t{i}" for i in range(300)] * 2),
        _hashes(["p", "q", "r", "s"]),
    ]
    series = pd.Series(rows, dtype="object")
    for num_hashes, bands, shingle in ((192, 48, 2), (8, 8, 3), (16, 4, 1)):
        keys = make_minhash_band_udf(num_hashes, bands, shingle).func(series)
        fused = make_minhash_band_gram_udf(num_hashes, bands, shingle).func(series)
        assert keys.tolist() == fused["bands"].tolist()
        assert [k is None for k in keys] == [False, False, True, True, False, False]
        for k in keys:
            if k is not None:
                assert len(k) == bands


def test_md5_gram_bands_independent_of_hash_seed():
    """The md5 parity UDF's output must not depend on PYTHONHASHSEED:
    its gram list comes out sorted, not in set order."""
    import json
    import os
    import subprocess
    import sys

    script = (
        "import json, pandas as pd\n"
        "from entity_resolution_engine_spark.functions.hashing import "
        "make_md5_gram_bands_udf\n"
        "toks = [f'w{i % 37}' for i in range(200)]\n"
        "s = pd.Series([toks, ['a', 'b'], None], dtype='object')\n"
        "out = make_md5_gram_bands_udf(3, 8).func(s)\n"
        "print(json.dumps(out.to_dict(orient='list')))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = []
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH=root)
        proc = subprocess.run(
            [sys.executable, "-c", script],
            env=env, capture_output=True, text=True, check=True,
        )
        outs.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    assert outs[0] == outs[1]
    grams = outs[0]["grams"][0]
    assert len(grams) == 37 and grams == sorted(grams)


def test_simhash_similar_docs_close():
    base = [f"w{i}" for i in range(200)]
    mutated = base[:195] + ["zz1", "zz2", "zz3", "zz4", "zz5"]
    other = [f"v{i}" for i in range(200)]
    sigs = simhash64(
        pd.Series(
            [_hashes(base), _hashes(mutated), _hashes(other)], dtype="object"
        )
    )
    d_sim = bin(int(sigs[0]) ^ int(sigs[1]) & 0xFFFFFFFFFFFFFFFF).count("1")
    d_diff = bin((int(sigs[0]) ^ int(sigs[2])) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert d_sim < d_diff


def test_winnow_deterministic_and_shift_invariant_overlap(spark):
    t = "the quick brown fox jumps over the lazy dog " * 4

    def fingerprints(text):
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        caches = []
        out = sorted(
            r.fingerprint for r in document_fingerprints_md5(df, caches=caches).collect()
        )
        for c in caches:
            c.unpersist()
        return out

    f1 = fingerprints(t)
    f2 = fingerprints(t)
    assert f1 == f2 and len(f1) > 0
    # a document containing the same long substring shares fingerprints
    f3 = fingerprints("PREFIX " + t + " SUFFIX")
    assert len(set(f1) & set(f3)) > 0
    assert fingerprints("") == []
    assert fingerprints("short") == []  # shorter than k=8
