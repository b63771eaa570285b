"""Approximate-nearest-neighbor search over an embedding column.

Two paths, per the training-data-pipeline brief:

- **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set, JVM cosine per (query, row), window top-k.  At
  100 TB this is the pattern you run on a sampled/filtered corpus.
- **IVF top-k** — the scale path: coarse-quantize the corpus into
  nlist cells (deterministic k-means, trained on a sample with numpy),
  search only the nprobe closest cells per query.  Centroid assignment
  is a vectorized pandas UDF (one matmul per Arrow batch); the
  candidate join is an equi-join on cell id — never a cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import fan_out
from .dedup import cosine_sim_col


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-k by cosine.

    ``queries`` must be broadcast-small (it is sent to every executor);
    the corpus side streams — total work O(|corpus|·|queries|·dim), no
    shuffle until the final top-k.  Every vector must have ``dim``
    elements; a row of another size raises (see
    dedup.cosine_sim_col)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    # the per-(row, query) cosine runs on the corpus scan's partitions —
    # a single-row-group file would put all |corpus|·|queries| evals on
    # one core (round 6; see readers.fan_out)
    corpus = fan_out(corpus)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", cosine_sim_col(F.col("qv"), F.col("cv"), dim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------

def centroid_sample(
    corpus: DataFrame, sample: int = 4096, vec_col: str = "embedding"
) -> DataFrame:
    """The deterministic training sample as a DataFrame (~sample rows):
    hash FILTER at the scan, then a sort of only the survivors for a
    stable pick.  Exposed separately so its plan can be checked:
    ``tests/test_plans.py::test_centroid_sample_sorts_only_the_survivors``
    pins that the hash filter runs below the top-k pick and that no
    full-corpus sort or range exchange exists here."""
    h = F.xxhash64(F.col(vec_col).cast("string"))
    n_total = corpus.count()  # columnar count — no shuffle, no sort
    modulus = max(1, n_total // sample)
    return (
        corpus.select(F.col(vec_col).alias("v"), h.alias("h"))
        .filter(F.pmod(F.col("h"), F.lit(modulus)) == 0)
        .orderBy("h")
        .limit(sample)
    )


def train_centroids(
    corpus: DataFrame,
    dim: int,
    nlist: int = 16,
    sample: int = 4096,
    iters: int = 10,
    vec_col: str = "embedding",
    seed: int = 7,
) -> np.ndarray:
    """Deterministic mini k-means on a driver-side sample.

    The sample is a deterministic hash FILTER (reproducible across
    cluster sizes and partitionings), not a global sort: the round-1
    ``orderBy(xxhash64).limit(n)`` formulation sorted the ENTIRE corpus
    to pick 4 096 rows — a full-shuffle scale-killer at 100 TB.  The
    filter keeps ~sample rows; only that survivor set is sorted (tiny)
    so the final pick stays deterministic.  nlist centroids are
    driver-side metadata (KBs), broadcast implicitly via UDF closure."""
    rows = centroid_sample(corpus, sample=sample, vec_col=vec_col).collect()
    x = np.stack([np.asarray(r.v, dtype=np.float64) for r in rows])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(nlist, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for j in range(len(cents)):
            members = x[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cents[j] = c / max(np.linalg.norm(c), 1e-12)
    return cents


def make_cell_udf(centroids: np.ndarray, nprobe: int = 1):
    """embedding → array of the nprobe nearest cell ids (one matmul
    per Arrow batch)."""
    cents = centroids.astype(np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cell_udf(emb: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(e, dtype=np.float64) for e in emb])
        norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = (mat / norms) @ cents.T
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return cell_udf


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-partitioned top-k: corpus rows assigned to 1 cell, queries
    probe their nprobe nearest cells; cosine + window top-k within the
    probed cells only."""
    centroids = train_centroids(corpus, dim, nlist=nlist, vec_col=vec_col)
    assign_1 = make_cell_udf(centroids, nprobe=1)
    assign_n = make_cell_udf(centroids, nprobe=nprobe)

    corpus = fan_out(corpus)  # round 6: see readers.fan_out
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cell", F.element_at(assign_1(F.col("cv")), 1))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).withColumn("cell", F.explode(assign_n(F.col("qv"))))

    # no (query, neighbor) dedup needed: each corpus row lives in
    # exactly ONE cell, so the cell equi-join emits a pair at most once
    # (a dropDuplicates here cost a full extra exchange for nothing —
    # round-2 verdict item; re-add only if corpus rows ever multi-probe)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        c.join(q, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_sim_col(F.col("qv"), F.col("cv"), dim))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
