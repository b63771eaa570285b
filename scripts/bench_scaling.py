"""Scaling evidence for the north_rule's two-cluster-size criterion,
sandbox adaptation (no real cluster): run the SAME ER job on the SAME
input at N and 4N local cores (fresh JVM per level), report throughput
at both plus scaling efficiency = (T_N / T_4N) / 4.

The corpus is materialized to parquet ONCE and both levels read it —
a real deployment reads an Iceberg/parquet table, and the synthetic
generator's own cost (driver-side column expressions) must not pollute
the engine measurement.

Usage: python scripts/bench_scaling.py [n_rows] — writes one JSON line
to stdout; paste/record into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

if os.path.isdir("/dev/shm"):
    # children inherit the env; session.py's tmpfs redirect is opt-in
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 250000
# The north_rule asks for N and 4N *executors*; on a real cluster each
# executor brings its own memory bus, GC, and shuffle I/O.  This
# single-VM sandbox shares one memory bus across all threads, so the
# (8, 32) pair confounds "4x parallelism" with "4x bus contention".
# SPARK_GRAFT_SCALE_LEVELS="4,16" measures the same 4x ratio in a
# regime where the bus is not saturated at either level — closer to
# what per-executor buses give a real cluster.  Both pairs are valid
# N-vs-4N evidence; record which pair a ledger entry used.
LEVELS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "8,32").split(",")
)
assert len(LEVELS) == 2 and LEVELS[1] == 4 * LEVELS[0], (
    "LEVELS must be N,4N per the north_rule"
)
# The sandbox host oscillates between performance regimes on a scale of
# minutes (measured: identical memcpy microbenchmark 2.3-62 GB/s;
# identical 250k probe 9-55 s).  Running all of one level then all of
# the other confounds the level with the regime — interleave the levels
# ROUNDS times and keep each level's best run instead.
ROUNDS = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "2"))
# measured runs per child after warmup (per-child best is kept); at
# multi-million-page sizes one run per child × interleaved ROUNDS
# samples the regimes just as well and halves the wall
RUNS_PER_CHILD = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "2"))
# per-child subprocess timeout: local[8] at ~3.5M pages in a degraded
# host window exceeds the old fixed 3000s (measured 2026-08-17)
CHILD_TIMEOUT = int(os.environ.get("SPARK_GRAFT_SCALE_TIMEOUT", "3000"))
# reuse a pre-generated corpus dir (skips generation; dir is kept)
CORPUS_REUSE = os.environ.get("SPARK_GRAFT_SCALE_CORPUS", "")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the child programs run with `python -c`; this checkout goes first on their path
_ON_PATH = f"import sys\nsys.path.insert(0, {ROOT!r})\n"

_GEN = _ON_PATH + r"""
from entity_resolution_engine_spark.session import get_spark
from entity_resolution_engine_spark.sources.synth import generate_web_pages
out_dir, n_rows = sys.argv[1], int(sys.argv[2])
spark = get_spark(app_name="scale_gen", master="local[32]", shuffle_partitions=32)
pages, _ = generate_web_pages(spark, n_rows)
pages.write.mode("overwrite").parquet(out_dir + "/full")
# small warmup slice, same schema
pages.limit(5000).write.mode("overwrite").parquet(out_dir + "/warmup")
spark.stop()
"""

_CHILD = _ON_PATH + r"""
import json, sys, time
from pyspark.sql import functions as F
from entity_resolution_engine_spark.session import get_spark
from entity_resolution_engine_spark.config import DEFAULT_CONFIG
from entity_resolution_engine_spark.operators.blocking import candidate_pairs
from entity_resolution_engine_spark.operators.cluster import connected_components
from entity_resolution_engine_spark.operators.normalize_stage import normalize_pages
from entity_resolution_engine_spark.operators.router import route_pairs
from entity_resolution_engine_spark.operators.scoring import score_pairs

cpus, corpus_dir = int(sys.argv[1]), sys.argv[2]
spark = get_spark(app_name=f"scale_{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)

def run(subdir):
    t0 = time.monotonic()
    pages = spark.read.parquet(corpus_dir + "/" + subdir)
    normalized = normalize_pages(pages).persist()
    n_pages = normalized.count()
    t_norm = time.monotonic() - t0
    caches = []
    pairs, _stats = candidate_pairs(normalized, DEFAULT_CONFIG.blocking, caches=caches)
    scored = score_pairs(pairs, normalized, DEFAULT_CONFIG.scoring).persist()
    n_pairs = scored.count()
    t_scored = time.monotonic() - t0
    for c in caches:
        c.unpersist()
    routed = route_pairs(scored, DEFAULT_CONFIG.scoring, "scale")
    edges = routed.filter(F.col("routed_status") == "approved").select(
        F.col("url_a").alias("src"), F.col("url_b").alias("dst"))
    assignments = connected_components(edges, all_nodes=normalized.select("url"))
    n_clusters = assignments.select("cluster_id").distinct().count()
    wall = time.monotonic() - t0
    spark.catalog.clearCache()
    return n_pages, n_pairs, n_clusters, wall, t_scored, t_norm

# warm the JVM (JIT, codegen caches, Python workers) on a small slice,
# then take the best of two measured runs — first-run JIT variance on a
# fresh code path was measured at up to 3x
run("warmup")
best = None
for _ in range(int(sys.argv[3]) if len(sys.argv) > 3 else 2):
    r = run("full")
    if best is None or r[3] < best[3]:
        best = r
n_pages, n_pairs, n_clusters, wall, t_scored, t_norm = best
print("CHILD_RESULT " + json.dumps({
    "cpus": cpus, "pages": n_pages, "pairs_scored": n_pairs,
    "clusters": n_clusters, "wall_sec": round(wall, 2),
    "normalize_sec": round(t_norm, 2),
    "block_score_sec": round(t_scored - t_norm, 2),
    "cluster_sec": round(wall - t_scored, 2),
    "scored_sec": round(t_scored, 2),
    "pages_per_sec": round(n_pages / wall, 1),
    "pairs_scored_per_sec": round(n_pairs / t_scored, 1),
}))
spark.stop()
"""


def main() -> None:
    if CORPUS_REUSE:
        corpus_dir = CORPUS_REUSE
    else:
        corpus_dir = tempfile.mkdtemp(prefix="er_scale_corpus_")
        gen = subprocess.run(
            [sys.executable, "-c", _GEN, corpus_dir, str(N_ROWS)],
            capture_output=True,
            text=True,
            timeout=3000,
        )
        if gen.returncode != 0:
            sys.stderr.write(gen.stderr[-4000:])
            raise SystemExit("corpus generation failed")
    results = {}
    all_runs: list[dict] = []
    # a child JVM dying (this host's hypervisor kills one occasionally —
    # measured 2026-08-17: a mid-run py4j connection-reset 16 min into a
    # round-2 child) must not discard the samples already taken: log the
    # failure, keep interleaving, and require only ≥1 sample per level.
    # Each sample is also printed to stderr the moment it lands.
    for _round in range(ROUNDS):
        for cpus in LEVELS:
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
            try:
                out = subprocess.run(
                    [sys.executable, "-c", _CHILD, str(cpus), corpus_dir,
                     str(RUNS_PER_CHILD)],
                    capture_output=True,
                    text=True,
                    env=env,
                    timeout=CHILD_TIMEOUT,
                )
            except subprocess.TimeoutExpired:
                sys.stderr.write(f"SAMPLE_LOST local[{cpus}] round {_round}: timeout\n")
                continue
            line = [
                l for l in out.stdout.splitlines() if l.startswith("CHILD_RESULT ")
            ]
            if not line:
                sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
                sys.stderr.write(f"\nSAMPLE_LOST local[{cpus}] round {_round}: crashed\n")
                continue
            res = json.loads(line[-1][len("CHILD_RESULT "):])
            sys.stderr.write("SAMPLE " + json.dumps(res) + "\n")
            sys.stderr.flush()
            all_runs.append(res)
            if cpus not in results or res["wall_sec"] < results[cpus]["wall_sec"]:
                results[cpus] = res
    missing = [c for c in LEVELS if c not in results]
    if missing:
        raise SystemExit(f"no surviving sample at levels {missing}")

    if not CORPUS_REUSE:
        shutil.rmtree(corpus_dir, ignore_errors=True)
    lo, hi = LEVELS
    speedup = results[lo]["wall_sec"] / results[hi]["wall_sec"]
    ideal = hi / lo
    out = {
        "metric": "scaling_efficiency",
        "value": round(speedup / ideal, 3),
        "unit": "fraction_of_ideal",
        "n_rows": N_ROWS,
        "speedup": round(speedup, 2),
        "ideal_speedup": ideal,
        "levels": results,
        "all_runs": [
            {"cpus": r["cpus"], "wall_sec": r["wall_sec"]} for r in all_runs
        ],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
