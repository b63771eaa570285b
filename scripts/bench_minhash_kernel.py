"""Pure-numpy microbench for the MinHash band-key kernel — no Spark.

The band-key core behind both MinHash UDFs (functions/hashing.py::
_band_keys) spends its time in 192 multiply-shift passes over the
batch's flattened shingle array.  Un-blocked, each pass streams its
input and temp through DRAM (~16 MB at Arrow batch size); under
local[32] all workers contend for the same memory bus — the measured
2.1-2.3x block+score saturation.  The production kernel
(functions/hashing.py::_chunked_min_fold) cache-blocks the loop so the
working set stays L2-resident, without changing a single output bit.

This script keeps the OLD dense signature kernel as the reference
(followed by the same 48-band fold): it asserts bit-identical band
keys against production and times both, alone and under
n_procs concurrent processes (the contention regime that matters at
local[32]).  Measured on this host: 2.0x single-process, 4.4x at
8 procs, 5.2x at 32 procs.

Usage: python scripts/bench_minhash_kernel.py [n_docs] [avg_shingles]
       [n_procs]
"""

from __future__ import annotations

import multiprocessing as mp
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_resolution_engine_spark.functions.hashing import (  # noqa: E402
    _EMPTY_SENTINEL,
    _band_fold,
    _band_keys,
    _minhash_params,
)

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
AVG_SH = int(sys.argv[2]) if len(sys.argv) > 2 else 200
N_PROCS = int(sys.argv[3]) if len(sys.argv) > 3 else 8
NUM_HASHES = 192
BANDS = 48


def make_batch(seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    lengths = rng.poisson(AVG_SH, N_DOCS).astype(np.int64)
    flat = rng.integers(0, 2**63, size=int(lengths.sum()), dtype=np.uint64)
    return flat, lengths


def minhash_dense_reference(
    flat: np.ndarray, lengths: np.ndarray, num_hashes: int
) -> np.ndarray:
    """The pre-round-5 un-blocked signature kernel, kept verbatim as the
    bit-identity reference and DRAM-streaming baseline."""
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    a, b = _minhash_params(num_hashes)
    out = np.full((n, num_hashes), _EMPTY_SENTINEL, dtype=np.uint64)
    nonempty = lengths > 0
    starts = offsets[:-1][nonempty]
    if flat.size:
        for k in range(num_hashes):
            imgs = flat * a[k] + b[k]  # uint64 wrap-around (multiply-shift)
            out[nonempty, k] = np.minimum.reduceat(imgs, starts)
    return out


def dense_band_keys(flat: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    return _band_fold(minhash_dense_reference(flat, lengths, NUM_HASHES), BANDS)


def chunked_band_keys(flat: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """The production core, timed with its per-batch offsets cumsum."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    a, b = _minhash_params(NUM_HASHES)
    return _band_keys(flat, offsets, a, b, BANDS)


def time_fn(fn, *args, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(*args)
        best = min(best, time.perf_counter() - t0)
    return best


def _worker(kind: str, seed: int, q) -> None:
    flat, lengths = make_batch(seed)
    fn = dense_band_keys if kind == "dense" else chunked_band_keys
    fn(flat, lengths)  # warm
    t0 = time.perf_counter()
    fn(flat, lengths)
    q.put(time.perf_counter() - t0)


def contended(kind: str) -> tuple[float, float]:
    q: mp.Queue = mp.Queue()
    procs = [
        mp.Process(target=_worker, args=(kind, 100 + i, q))
        for i in range(N_PROCS)
    ]
    t0 = time.perf_counter()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    wall = time.perf_counter() - t0
    per = sorted(q.get() for _ in procs)
    return wall, per[len(per) // 2]


def main() -> None:
    flat, lengths = make_batch()
    mb = flat.size * 8 / 1e6
    print(f"batch: {N_DOCS} docs, {flat.size} shingles ({mb:.0f} MB flat)")
    ref = dense_band_keys(flat, lengths)
    prod = chunked_band_keys(flat, lengths)
    assert np.array_equal(ref, prod), "chunked production kernel differs!"
    print("bit-identity: OK")
    t_dense = time_fn(dense_band_keys, flat, lengths)
    t_chunk = time_fn(chunked_band_keys, flat, lengths)
    print(f"single-proc: dense {t_dense:.3f}s  chunked {t_chunk:.3f}s  "
          f"ratio {t_dense / t_chunk:.2f}x")
    wd, md = contended("dense")
    wc, mc = contended("chunked")
    print(f"{N_PROCS}-proc contention: dense wall {wd:.2f}s (median kernel "
          f"{md:.3f}s)  chunked wall {wc:.2f}s (median kernel {mc:.3f}s)  "
          f"ratio {wd / wc:.2f}x")


if __name__ == "__main__":
    main()
