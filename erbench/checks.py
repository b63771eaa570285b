"""Correctness checks of the workloads' outputs.

Pure functions of the materialized output, so that the self-tests can
feed them altered copies. Each returns a list of problems; an empty list
means the output is correct.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from collections.abc import Iterable

F1_MIN = 0.99
JACCARD_TOL = 1e-6


def shingles(text: str, k: int) -> frozenset:
    """Word k-shingles of ``lower(text)`` split on single spaces, as the
    engine's token kernels build them: a non-empty text shorter than k
    words is one shingle of all its words."""
    toks = [t for t in text.lower().split(" ") if t]
    if len(toks) < k:
        return frozenset([tuple(toks)]) if toks else frozenset()
    return frozenset(tuple(toks[i : i + k]) for i in range(len(toks) - k + 1))


def similar_pairs(sets: dict[int, frozenset], tau: float) -> dict[tuple[int, int], float]:
    """Every pair (a < b) whose exact Jaccard is at least ``tau``.

    All-pairs with prefix filtering (Bayardo et al., WWW 2007): in a
    global rare-first order, two sets with Jaccard >= tau share an
    element among the first |x| - ceil(tau |x|) + 1 of each. Exact."""
    freq = Counter(g for s in sets.values() for g in s)
    index: dict[tuple, list[int]] = defaultdict(list)
    out: dict[tuple[int, int], float] = {}
    for doc, s in sorted(sets.items(), key=lambda kv: (len(kv[1]), kv[0])):
        if not s:
            continue
        ordered = sorted(s, key=lambda g: (freq[g], g))
        prefix = len(ordered) - math.ceil(tau * len(ordered) - 1e-9) + 1
        cands: set[int] = set()
        for g in ordered[:prefix]:
            cands.update(index[g])
            index[g].append(doc)
        cands.discard(doc)
        for other in cands:
            o = sets[other]
            inter = len(s & o)
            jac = inter / (len(s) + len(o) - inter)
            if jac >= tau:
                out[(min(doc, other), max(doc, other))] = jac
    return out


def check_pairs(
    label: str,
    emitted: Iterable[tuple[int, int, float]],
    truth: dict[tuple[int, int], float],
    exact_recall: bool,
) -> tuple[list[str], int, int, int]:
    """Emitted (id_a, id_b, jaccard) pairs against the exact pairs.

    Every emitted pair must be ordered, unique, in ``truth`` and carry its
    exact Jaccard; with ``exact_recall`` none of ``truth`` may be missing.
    Returns (problems, true positives, false positives, false negatives)."""
    problems: list[str] = []
    seen: set[tuple[int, int]] = set()
    fp = 0
    for a, b, jac in emitted:
        key = (int(a), int(b))
        if key[0] >= key[1]:
            problems.append(f"{label}: pair {key} is not ordered id_a < id_b")
        if key in seen:
            problems.append(f"{label}: pair {key} emitted twice")
            continue
        seen.add(key)
        if key not in truth:
            fp += 1
            problems.append(f"{label}: pair {key} (jaccard {jac}) is below the threshold")
        elif abs(float(jac) - truth[key]) > JACCARD_TOL:
            problems.append(f"{label}: pair {key} jaccard {jac} != exact {truth[key]}")
    tp = len(seen) - fp
    fn = len(truth.keys() - seen)
    if exact_recall and fn:
        problems.append(f"{label}: {fn} of {len(truth)} exact pairs missing")
    return problems[:20], tp, fp, fn


def f1(tp: int, fp: int, fn: int) -> float:
    if tp + fp + fn == 0:
        return 1.0
    return 2 * tp / (2 * tp + fp + fn)


def check_assignments(
    rows: list[tuple[str, str]], urls: set[str], f1_value: float
) -> list[str]:
    """Cluster assignments (url, cluster_id): every input url exactly
    once, and pairwise F1 against the planted clusters at least F1_MIN."""
    problems = []
    got = Counter(u for u, _ in rows)
    dup = [u for u, n in got.items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} urls assigned more than once, e.g. {dup[0]}")
    if got.keys() != urls:
        problems.append(
            f"assigned urls differ from the input: {len(urls - got.keys())} missing, "
            f"{len(got.keys() - urls)} unknown"
        )
    if not f1_value >= F1_MIN:
        problems.append(f"pairwise F1 {f1_value:.4f} < {F1_MIN}")
    return problems


def partition_digest(rows: Iterable[tuple[str, str]]) -> str:
    """Digest of the partition the (url, cluster_id) rows describe,
    independent of row order and of the cluster labels."""
    members: dict[str, list[str]] = defaultdict(list)
    for url, cid in rows:
        members[cid].append(url)
    h = hashlib.sha256()
    for group in sorted(sorted(m) for m in members.values()):
        h.update("\x1f".join(group).encode())
        h.update(b"\x1e")
    return h.hexdigest()
