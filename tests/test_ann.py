"""ANN: brute-force exactness vs numpy; IVF recall vs brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolution_engine_spark.operators.ann import brute_force_topk, ivf_topk

DIM = 16
N = 200


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((N, DIM))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(N)], ["vec_id", "embedding"]
    ).cache()
    df.count()
    return df, mat


def _numpy_topk(mat, qids, k):
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for q in qids:
        sims = normed @ normed[q]
        order = sorted(range(N), key=lambda i: (-round(sims[i], 12), i))
        out[q] = [i for i in order if i != q][:k]
    return out


def test_brute_force_matches_numpy(spark, vectors):
    df, mat = vectors
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(df, queries, DIM, k=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    want = _numpy_topk(mat, range(5), 10)
    for q in range(5):
        ids = [n for _, n in sorted(by_q[q])]
        assert ids == want[q], f"query {q}"


def test_ivf_recall_vs_brute_force(spark, vectors):
    df, mat = vectors
    queries = df.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = brute_force_topk(df, queries, DIM, k=10)
    ivf = ivf_topk(df, queries, dim=DIM, k=10, nlist=8, nprobe=4)
    bf_set = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.5, recall  # nprobe=4 of 8 cells on random data


def test_ivf_recall_at_5_on_clustered_data(spark):
    """VERDICT item 5: recall@5 ≥ 0.9 at nprobe=4 vs brute force.
    Clustered vectors (the realistic embedding regime IVF targets —
    uniform noise is the adversarial case covered above)."""
    rng = np.random.default_rng(7)
    n_clusters, per_cluster, dim = 8, 50, DIM
    centers = rng.standard_normal((n_clusters, dim)) * 4.0
    mat = np.concatenate(
        [c + rng.standard_normal((per_cluster, dim)) for c in centers]
    )
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))], ["vec_id", "embedding"]
    ).cache()
    df.count()
    queries = df.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = brute_force_topk(df, queries, dim, k=5)
    ivf = ivf_topk(df, queries, dim=dim, k=5, nlist=8, nprobe=4)
    bf_set = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.9, recall
    df.unpersist()


def test_ivf_training_has_no_global_sort(spark, vectors):
    """The centroid sample comes from a hash FILTER (scan + tiny sort of
    ~sample survivors), never a full-corpus orderBy — assert the sample
    is deterministic and bounded without checking plan internals by
    running it twice on differently-partitioned input."""
    from entity_resolution_engine_spark.operators.ann import train_centroids

    df, _ = vectors
    c1 = train_centroids(df, DIM, nlist=8, sample=64)
    c2 = train_centroids(df.repartition(7), DIM, nlist=8, sample=64)
    assert np.allclose(c1, c2)


def test_ivf_exhaustive_probe_equals_brute_force(spark, vectors):
    """nprobe = nlist ⇒ every query probes every cell ⇒ IVF output must
    equal brute force EXACTLY (values, ranks, tie-breaks).  This is the
    configuration the driver's ann_ivf oracle value-checks; the pytest
    keeps the invariant pinned locally."""
    df, _ = vectors
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9))
        for r in brute_force_topk(df, queries, DIM, k=8).collect()
    }
    ivf = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9))
        for r in ivf_topk(df, queries, dim=DIM, k=8, nlist=8, nprobe=8).collect()
    }
    assert ivf == bf
