"""Connected-components micro-bench: the Amdahl ledger for the
scaling analysis (BASELINE.md).

Isolates the clustering stage: the approved edge set is produced ONCE
(normalize → block → score → route at local[32]) and materialized to
parquet; then each parallelism level runs ONLY
``connected_components`` on it in a fresh JVM, interleaved N rounds,
reporting wall, the per-sync iteration ledger (stats_out), and the
shuffle-byte economics of integer surrogates vs url strings.

Usage: python scripts/bench_cc.py [n_rows] — one JSON line to stdout.

Crossover mode times the two CC paths — the driver union-find (forced
by raising ``cluster.DRIVER_CC_MAX_EDGES`` and ``DRIVER_CC_MAX_NODES``
past every size) and the star loop (forced by setting
``DRIVER_CC_MAX_EDGES`` to 0) — on
the SAME edge sets at several sizes, in one local[nproc] session with a
2g heap, reps interleaved path by path, and prints the median walls and
the smallest size at which the star loop was faster:

    python scripts/bench_cc.py --crossover [edges ...] [--reps N]

The edge sets are ER-shaped: planted clusters of 2-8 urls joined as
cliques (about 12 edges per cluster), plus as many edgeless urls as
clustered ones, written to parquet so each timed call reads its input
from disk like the pipeline's cluster stage.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

if os.path.isdir("/dev/shm"):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CROSSOVER_SIZES = (3_000, 15_000, 60_000, 190_000, 400_000, 800_000, 1_600_000)
LEVELS = (8, 32)
ROUNDS = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "2"))

# the child programs run with `python -c`; this checkout goes first on their path
_ON_PATH = f"import sys\nsys.path.insert(0, {ROOT!r})\n"

_GEN = _ON_PATH + r"""
from pyspark.sql import functions as F
from entity_resolution_engine_spark.session import get_spark
from entity_resolution_engine_spark.config import DEFAULT_CONFIG
from entity_resolution_engine_spark.operators.blocking import candidate_pairs
from entity_resolution_engine_spark.operators.normalize_stage import normalize_pages
from entity_resolution_engine_spark.operators.router import route_pairs
from entity_resolution_engine_spark.operators.scoring import score_pairs
from entity_resolution_engine_spark.sources.synth import generate_web_pages

out_dir, n_rows = sys.argv[1], int(sys.argv[2])
spark = get_spark(app_name="cc_gen", master="local[32]", shuffle_partitions=32)
pages, _ = generate_web_pages(spark, n_rows)
normalized = normalize_pages(pages).persist()
normalized.count()
caches = []
pairs, _stats = candidate_pairs(normalized, DEFAULT_CONFIG.blocking, caches=caches)
scored = score_pairs(pairs, normalized, DEFAULT_CONFIG.scoring)
routed = route_pairs(scored, DEFAULT_CONFIG.scoring, "ccbench")
edges = routed.filter(F.col("routed_status") == "approved").select(
    F.col("url_a").alias("src"), F.col("url_b").alias("dst"))
edges.write.mode("overwrite").parquet(out_dir + "/edges")
normalized.select("url").write.mode("overwrite").parquet(out_dir + "/nodes")
spark.stop()
"""

_CHILD = _ON_PATH + r"""
import json, sys, time
from pyspark.sql import functions as F
from entity_resolution_engine_spark.session import get_spark
from entity_resolution_engine_spark.operators.cluster import connected_components

import os as _os
cpus, d = int(sys.argv[1]), sys.argv[2]
# micro-lever knob (VERDICT r3 item 2): batch more star rounds per
# convergence signature to trade no-op rounds for fewer sync points
RPC = int(_os.environ.get("SPARK_GRAFT_CC_RPC", "2"))
spark = get_spark(app_name=f"cc_{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
edges = spark.read.parquet(d + "/edges")
nodes = spark.read.parquet(d + "/nodes")

# byte economics of the iteration rows: url strings vs long surrogates
row = edges.agg(
    F.count("*").alias("n"),
    F.avg(F.length("src") + F.length("dst")).alias("str_bytes_per_row"),
).collect()[0]

def run():
    stats = {}
    t0 = time.monotonic()
    out = connected_components(
        edges, all_nodes=nodes, rounds_per_check=RPC, stats_out=stats
    )
    n_clusters = out.select("cluster_id").distinct().count()
    return time.monotonic() - t0, n_clusters, stats

run()  # warmup (JIT, codegen, Python workers)
best = None
for _ in range(2):
    wall, n_clusters, stats = run()
    spark.catalog.clearCache()
    if best is None or wall < best[0]:
        best = (wall, n_clusters, stats)
wall, n_clusters, stats = best
print("CHILD_RESULT " + json.dumps({
    "cpus": cpus, "wall_sec": round(wall, 2), "clusters": n_clusters,
    "input_edges": int(row.n),
    "str_bytes_per_row": round(float(row.str_bytes_per_row), 1),
    "surrogate_bytes_per_row": 16,
    **stats,
}))
spark.stop()
"""


def _edge_set(spark, n_edges: int, d: str) -> tuple[str, str, int, int]:
    """Writes an ER-shaped edge set of about ``n_edges`` pairs and its
    node set under ``d``; returns (edges path, nodes path, edge count,
    node count)."""
    from pyspark.sql import functions as F

    clusters = spark.range(max(1, n_edges // 12)).select(
        F.col("id").alias("c"),
        (F.pmod(F.xxhash64("id"), F.lit(7)) + 2).cast("int").alias("k"),
    )

    def url(c, m):
        return F.format_string("https://d%d.org/p/%d-%d", c % 997, c, m)

    members = clusters.select(
        "c", F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("m")
    )
    a, b = members.alias("a"), members.alias("b")
    edges = a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.m") < F.col("b.m"))).select(
        url(F.col("a.c"), F.col("a.m")).alias("src"),
        url(F.col("b.c"), F.col("b.m")).alias("dst"),
    )
    singles = members.select(
        F.format_string("https://solo.org/%d-%d", F.col("c"), F.col("m")).alias("url")
    )
    nodes = members.select(url(F.col("c"), F.col("m")).alias("url")).unionByName(singles)
    e_path, n_path = f"{d}/edges_{n_edges}", f"{d}/nodes_{n_edges}"
    edges.write.mode("overwrite").parquet(e_path)
    nodes.write.mode("overwrite").parquet(n_path)
    return (
        e_path, n_path, spark.read.parquet(e_path).count(), spark.read.parquet(n_path).count()
    )


def crossover(sizes: list[int], reps: int) -> None:
    import statistics
    import time

    sys.path.insert(0, ROOT)
    from entity_resolution_engine_spark.operators import cluster
    from entity_resolution_engine_spark.session import get_spark

    cpus = os.cpu_count() or 4
    spark = get_spark(
        app_name="cc_crossover", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={"spark.driver.memory": "2g"},
    )
    driver_max = cluster.DRIVER_CC_MAX_EDGES, cluster.DRIVER_CC_MAX_NODES
    d = tempfile.mkdtemp(prefix="er_cc_crossover_")

    def timed(e_path, n_path, limit):
        cluster.DRIVER_CC_MAX_EDGES = cluster.DRIVER_CC_MAX_NODES = limit
        stats: dict = {}
        t0 = time.monotonic()
        out = cluster.connected_components(
            spark.read.parquet(e_path), all_nodes=spark.read.parquet(n_path),
            stats_out=stats,
        )
        n_clusters = out.select("cluster_id").distinct().count()
        return time.monotonic() - t0, n_clusters, stats["path"]

    # each path's edge limit: the driver path takes every size measured
    paths = {"driver": 2**31 - 2, "star": 0}  # limit() takes a JVM int
    rows = []
    try:
        for n in sizes:
            e_path, n_path, n_edges, n_nodes = _edge_set(spark, n, d)
            walls: dict[str, list[float]] = {p: [] for p in paths}
            answers = set()
            for rep in range(reps + 1):  # rep 0 warms both paths up
                for name, limit in paths.items():
                    wall, n_clusters, took = timed(e_path, n_path, limit)
                    if took != name:
                        raise RuntimeError(f"asked for the {name} path, ran {took}")
                    answers.add(n_clusters)
                    if rep:
                        walls[name].append(wall)
            if len(answers) != 1:
                raise RuntimeError(f"paths disagree at {n_edges} edges: {answers}")
            med = {p: statistics.median(w) for p, w in walls.items()}
            rows.append({
                "edges": n_edges,
                "nodes": n_nodes,
                "clusters": answers.pop(),
                **{f"{p}_median_s": round(m, 3) for p, m in med.items()},
                **{f"{p}_walls_s": [round(w, 3) for w in ws] for p, ws in walls.items()},
            })
            sys.stderr.write(f"cc crossover: {rows[-1]}\n")
    finally:
        cluster.DRIVER_CC_MAX_EDGES, cluster.DRIVER_CC_MAX_NODES = driver_max
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()
    star_wins = [r["edges"] for r in rows if r["star_median_s"] <= r["driver_median_s"]]
    print(json.dumps({
        "metric": "cc_path_crossover",
        "unit": "edges",
        "cpus": cpus,
        "reps": reps,
        "sizes": rows,
        "star_faster_from": min(star_wins) if star_wins else None,
        "driver_cc_max_edges": driver_max[0],
        "driver_cc_max_nodes": driver_max[1],
    }))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--crossover":
        args = sys.argv[2:]
        reps = 3
        if "--reps" in args:
            i = args.index("--reps")
            reps = int(args[i + 1])
            del args[i : i + 2]
        crossover([int(a) for a in args] or list(CROSSOVER_SIZES), reps)
        return
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1000000
    d = tempfile.mkdtemp(prefix="er_cc_bench_")
    gen = subprocess.run(
        [sys.executable, "-c", _GEN, d, str(n_rows)],
        capture_output=True, text=True, timeout=3000,
    )
    if gen.returncode != 0:
        sys.stderr.write(gen.stderr[-4000:])
        raise SystemExit("edge generation failed")
    results: dict[int, dict] = {}
    all_runs = []
    for _ in range(ROUNDS):
        for cpus in LEVELS:
            out = subprocess.run(
                [sys.executable, "-c", _CHILD, str(cpus), d],
                capture_output=True, text=True, timeout=3000,
                env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus)),
            )
            lines = [l for l in out.stdout.splitlines()
                     if l.startswith("CHILD_RESULT ")]
            if not lines:
                sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
                raise SystemExit(f"child at local[{cpus}] failed")
            res = json.loads(lines[-1][len("CHILD_RESULT "):])
            all_runs.append({"cpus": cpus, "wall_sec": res["wall_sec"]})
            if cpus not in results or res["wall_sec"] < results[cpus]["wall_sec"]:
                results[cpus] = res
    shutil.rmtree(d, ignore_errors=True)
    lo, hi = LEVELS
    print(json.dumps({
        "metric": "cc_stage_wall",
        "unit": "sec",
        "n_rows_arg": n_rows,
        "levels": results,
        "speedup": round(results[lo]["wall_sec"] / results[hi]["wall_sec"], 2),
        "all_runs": all_runs,
    }))


if __name__ == "__main__":
    main()
