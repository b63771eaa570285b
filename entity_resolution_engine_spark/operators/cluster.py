"""Stage 5 — transitive clustering: connected components by a driver
union-find for edge sets that fit on the driver, else by large-star /
small-star rounds entirely in DataFrame joins.

The reference never needs transitive closure — its two-source argmax
guarantees 1:1 matches (SURVEY.md §7.2 step 6).  Web-scale dedup does:
approved match edges form arbitrary components.  This implements the
alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public), the
standard O(log n)-round CC for massive graphs:

- **large-star**: every node points its larger neighbors at its
  minimum neighbor (or itself) — strictly decreases large labels.
- **small-star**: every node rewires its smaller-or-equal neighbors to
  the minimum — flattens chains into stars.

Each round is two shuffles (groupBy min + self-join back).  Iteration
state is checkpointed: ``localCheckpoint`` every round truncates the
logical plan (otherwise the lineage doubles per round and Catalyst
analysis blows up), and every ``checkpoint_every`` rounds the edge set
is committed to the snapshot catalog so a killed run resumes
mid-clustering (north_rule checkpoint/resume).

Every round and sync point also pays a fixed per-job latency.  An edge
set of at most ``DRIVER_CC_MAX_EDGES`` surrogate pairs, whose node map
holds at most ``DRIVER_CC_MAX_NODES`` urls, is therefore fetched to the
driver (edges, then the url↔id map: two bounded jobs) and solved there:
a vectorized numpy union-find over nodes numbered in url order, whose
min-label roots are the components' min(url), returned as one
Arrow-backed ``(url, cluster_id)`` frame with no join-back.  It has no
rounds, so only the star loop checkpoints mid-clustering.

**Integer node surrogates**: the O(log n) iteration rounds run on
``xxhash64(url)`` longs, not url strings.  Every round shuffles the
full edge set twice, so per-row width is the scale bill — 16 bytes of
longs vs ~40–120 bytes of url text cuts CC shuffle volume ~5x, and the
groupBy/min comparisons become integer compares instead of string
collation.  The url↔id map is built ONCE (from ``all_nodes`` when
given, else from the edge endpoints).  The star loop re-joins it ONCE
after convergence to recover ``cluster_id = min(url)`` per component;
the driver path looks the ids up in it on the driver.  Both give the
same deterministic root as the string-keyed formulation, so cluster
assignments are byte-identical.  Hash collisions (two urls → one id)
would silently merge components, so every call checks that the node
map holds as many distinct ids as distinct urls — on the driver when
the map was fetched, else with one Spark aggregate.  A url that repeats
(a re-crawl) is not a collision: its rows share one id and one cluster.
Expected collisions ≈ n²/2⁶⁵ — ~0.03 even at 10⁹ nodes; above that,
widen the surrogate to a 2×64-bit composite before trusting a single
hash.

The surrogate edges enter both paths as they are, with no ``distinct``
first: the union-find ignores self-loops and repeated edges, and the
star loop's first ``large_star`` drops self-loops and ends in one.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.catalog import TableCatalog
from .blocking import uid_col

# Surrogate edge sets of at most this many pairs, whose node map holds
# at most DRIVER_CC_MAX_NODES urls, are solved by the driver union-find;
# larger ones run the star loop (a node map over its bound costs the
# fetch of that many rows first).  Measured with ``scripts/bench_cc.py
# --crossover`` (BASELINE.md, "CC crossover"): on 4 cores and a 2g heap
# the driver path won at every size from 3k to 6.4M edges (5.3M nodes),
# 25.7 s against 67.9 s at the largest; both bounds sit just under that
# largest measured point.
DRIVER_CC_MAX_EDGES = 6_000_000
DRIVER_CC_MAX_NODES = 5_000_000


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev)


def large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(u ∪ neighbors); emit (v, m) for each
    neighbor v > u.  Returns a directed edge set (src > dst invariant
    not yet guaranteed — small_star restores it).

    The per-node minimum is a WINDOW aggregate, not groupBy+self-join:
    each star operator then references its input ONCE, so the logical
    tree of k composed rounds grows ~2^k instead of ~3^k.  That is a
    DRIVER-scaling fix, measured, not style: ``localCheckpoint`` runs
    full Catalyst analysis/optimization on the composed plan each
    iteration, and with the join formulation that planning step cost
    6–12 s of pure serial driver time per iteration at rounds_per_check
    =2 — dwarfing the sub-second executor jobs and dominating the CC
    stage's Amdahl share (BASELINE.md round-3 ledger).  The window also
    drops one runtime exchange per star (agg + join → one partition-
    by-src sort)."""
    sym = _symmetrize(edges)
    w = Window.partitionBy("src")
    m = F.least(F.min("dst").over(w), F.col("src"))
    # the distinct is LOAD-BEARING for dense components (round-6
    # measurement): on a k-clique every member emits its (v, root) row
    # once per smaller neighbor — k²/2 rows that the following
    # small_star window would otherwise sort; dropping this dedup
    # tripled the CC loop on the sf1.0 edge set (6.4s → 22s)
    return (
        sym.withColumn("m", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the smaller endpoint, then for each node u:
    m = min(u ∪ smaller-neighbors); emit (v, m) for v in neighbors ∪ {u},
    v ≠ m.

    Same single-input-reference window shape as large_star (see its
    docstring for the driver-planning rationale); the neighbor and
    self emissions come from ONE explode instead of a union, which
    also sidesteps Spark 4.1's union-constraint rewrite on shared
    attribute ids."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    w = Window.partitionBy("src")
    # all dst < src here, so min(dst ∪ {src}) = min(dst); least() kept
    # for clarity with the algorithm statement
    withm = directed.withColumn(
        "m", F.least(F.min("dst").over(w), F.col("src"))
    )
    return (
        withm.select(
            F.explode(F.array(F.col("dst"), F.col("src"))).alias("v"), F.col("m")
        )
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def node_id_map(edges: DataFrame, all_nodes: DataFrame | None = None) -> DataFrame:
    """(url, id) surrogate map covering every node the iteration will
    see.  ``all_nodes`` (when given) must cover every edge endpoint —
    true for every pipeline caller, where edges are pairs of normalized
    urls; without it the endpoints are collected with one distinct."""
    if all_nodes is not None:
        urls = all_nodes.select("url")
    else:
        urls = (
            edges.select(F.col("src").alias("url"))
            .unionByName(edges.select(F.col("dst").alias("url")))
            .distinct()
        )
    return urls.select("url", uid_col().alias("id"))


def edges_to_ids(edges: DataFrame) -> DataFrame:
    """String edges → long surrogate edges (``uid_col`` is a pure
    function, so no dictionary join is needed on the edge set)."""
    return edges.select(uid_col("src").alias("src"), uid_col("dst").alias("dst"))


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h)


def _min_label_roots(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Driver union-find over dense node indices: nodes ``0..n-1``,
    edges ``(a[i], b[i])`` → each node's component minimum index.

    Vectorized rounds: every root hooks onto the smallest root across
    its edges (min-label hooking), then pointer jumping flattens the
    chains that hooking made, until no edge spans two roots.
    ``parent[x] <= x`` always holds, so the surviving root is the
    component minimum."""
    parent = np.arange(n)
    while True:
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        if not cross.any():
            break
        np.minimum.at(parent, np.maximum(ra, rb)[cross], np.minimum(ra, rb)[cross])
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    return parent


def _collision_error(n_urls: int, n_ids: int) -> RuntimeError:
    return RuntimeError(
        f"xxhash64 surrogate collision: {n_urls} distinct urls → {n_ids} ids;"
        " widen the node surrogate to a 2x64-bit composite for this corpus"
    )


def _driver_assignments(edges: pa.Table, nodes: pa.Table) -> tuple[pa.Table, int]:
    """Surrogate edges (src, dst) and the node map (url, id), both
    fetched → ((url, cluster_id) for every node, star-forest size).

    Nodes are numbered in url order, so the min-label root of each
    component IS its min(url): pyarrow sorts strings by their UTF-8
    bytes, the order Spark's ``min`` compares them in (Java's UTF-16
    order differs above U+FFFF).  Rows of a repeated url share its id
    and so the first row's node, as they do in the star loop's
    join-back; two distinct urls on one id raise."""
    nodes = nodes.take(pc.sort_indices(nodes, [("url", "ascending")]))
    urls = nodes.column("url").combine_chunks()
    ids = nodes.column("id").to_numpy()
    n = len(ids)
    by_id = np.argsort(ids, kind="stable")
    sorted_ids = ids[by_id]
    first = np.ones(n, bool)
    first[1:] = sorted_ids[1:] != sorted_ids[:-1]
    n_urls, n_ids = pc.count_distinct(urls).as_py(), int(first.sum())
    if n_urls != n_ids:
        raise _collision_error(n_urls, n_ids)
    # node of each url-ordered row: the first row of its id group
    rep = np.empty(n, np.int64)
    rep[by_id] = by_id[first][np.cumsum(first) - 1]

    ends = np.concatenate(
        [edges.column("src").to_numpy(), edges.column("dst").to_numpy()]
    )
    missing = ends[~np.isin(ends, sorted_ids)]
    if len(missing):
        raise ValueError(
            f"connected_components: edge endpoint id {missing[0]} is not"
            " covered by all_nodes — pass all_nodes covering every edge"
            " endpoint, or None to derive the node set from the edges"
        )
    ends = rep[by_id[np.searchsorted(sorted_ids, ends)]]
    root = _min_label_roots(ends[: edges.num_rows], ends[edges.num_rows :], n)
    out = pa.table({"url": urls, "cluster_id": urls.take(root[rep])})
    return out, int(np.count_nonzero(root != np.arange(n)))


def _star_loop(
    cur: DataFrame,
    max_iterations: int,
    rounds_per_check: int,
    checkpoint,
    stats_out: dict | None,
) -> DataFrame:
    """Large/small-star rounds to convergence; ``checkpoint(it, edges)``
    commits the working edge set after each sync point."""
    spark = cur.sparkSession
    # Spark 4.1's union constraint rewrite crashes (`key not found:
    # dst#N`) when checkpointing a plan whose union branches share
    # source attribute ids (the candidate union built from one members
    # frame).  Constraints only matter for filter inference/pushdown,
    # which the tiny (src, dst) iteration plans don't benefit from —
    # disable propagation for the duration of the loop and restore it
    # after (the converged edge set is checkpoint-backed by then).
    _CONF = "spark.sql.constraintPropagation.enabled"
    prev_conf = spark.conf.get(_CONF, "true")
    spark.conf.set(_CONF, "false")
    try:
        # lazy localCheckpoint: the signature aggregation after the
        # first batch of star rounds is the materializing action, so
        # each sync point costs ONE job (an eager checkpoint would add
        # a second full pass — pure serial driver time multiplied by
        # the iteration count).  No up-front signature of the INPUT
        # either: real edge sets are never already-converged, so the
        # baseline pass was a wasted sync — convergence compares
        # consecutive post-round signatures instead.
        cur = cur.localCheckpoint(eager=False)
        prev_sig: tuple[int, int] | None = None
        sig = (0, 0)
        sync_walls: list[float] = []

        for it in range(max_iterations):
            nxt = cur
            for _ in range(max(1, rounds_per_check)):
                nxt = small_star(large_star(nxt))
            nxt = nxt.localCheckpoint(eager=False)
            t0 = time.monotonic()
            sig = _signature(nxt)
            sync_walls.append(time.monotonic() - t0)
            checkpoint(it, nxt)
            if sig == prev_sig:
                cur = nxt
                break
            prev_sig = sig
            cur = nxt
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} iterations"
            )
        if stats_out is not None:
            stats_out.update(
                {
                    "path": "star",
                    "sync_points": len(sync_walls),
                    "star_rounds": len(sync_walls) * max(1, rounds_per_check),
                    "sync_wall_secs": [round(w, 3) for w in sync_walls],
                    "final_edges": sig[0],
                }
            )
    finally:
        spark.conf.set(_CONF, prev_conf)
    return cur


def connected_components(
    edges: DataFrame,
    all_nodes: DataFrame | None = None,
    max_iterations: int = 50,
    checkpoint_every: int = 3,
    catalog: TableCatalog | None = None,
    checkpoint_table: str = "_cc_edges",
    rounds_per_check: int = 2,
    stats_out: dict | None = None,
) -> DataFrame:
    """edges(src, dst) → assignments(url, cluster_id).

    ``all_nodes`` (url) adds singleton components for nodes with no
    edges.  Duplicate and self-loop edges are taken as they are; no
    ``distinct`` runs before either path.  An edge set of at most
    ``DRIVER_CC_MAX_EDGES`` surrogate pairs is fetched in one bounded
    job; when its node map of at most ``DRIVER_CC_MAX_NODES`` urls
    follows in a second one, a driver union-find solves it and the
    assignments come back as one Arrow-backed frame, already computed.
    Anything larger runs the star loop and joins its forest back
    through the id map in Spark.  Both paths always check the node map
    for surrogate collisions (distinct urls against distinct ids) and
    raise ``RuntimeError`` on one; a repeated url in ``all_nodes`` is
    not a collision, and each of its rows gets the url's cluster.
    ``catalog`` persists the star loop's working edge set (and the
    url↔surrogate map, ``<checkpoint_table>_idmap``) every
    ``checkpoint_every`` rounds — only that path checkpoints
    mid-clustering; if the checkpoint table already exists the run
    RESUMES from it instead of the raw edges, on whichever path its
    size picks.

    ``rounds_per_check`` composes that many large+small-star rounds
    into ONE job before the convergence signature runs: each signature
    is a full pass over the edge set plus a driver round-trip — pure
    serial time under Amdahl (the round-1 scaling-efficiency miss).
    The star fixed point is stable under composition, so checking every
    k-th round costs at most k−1 no-op rounds after convergence in
    exchange for k× fewer sync points.

    ``stats_out`` (a dict, when given) receives the iteration ledger:
    the path taken (``driver`` or ``star``), star rounds run, driver
    sync points paid, per-sync wall times, and the final edge count —
    the Amdahl accounting for the scaling analysis in BASELINE.md.  The
    driver path reports its fetch and solve as one sync point and no
    rounds, and the size of the star forest it solved as the final
    edge count.
    """
    spark = edges.sparkSession
    idmap_table = checkpoint_table + "_idmap"
    # resume needs BOTH the edge checkpoint and its id-map sidecar — a
    # checkpoint left by a pre-surrogate build (string edges, no
    # sidecar) must restart from the raw edges instead of crashing on a
    # missing table mid-recovery (ADVICE r3)
    resumed = (
        catalog is not None
        and catalog.exists(checkpoint_table)
        and catalog.exists(idmap_table)
    )
    if resumed:
        # iteration state is self-contained: long edges + the id map
        # committed alongside them (the raw ``edges`` arg is ignored)
        cur = catalog.read(checkpoint_table)
        id_map = catalog.read(idmap_table)
    else:
        if catalog is not None and catalog.exists(checkpoint_table):
            # a stale checkpoint we are NOT resuming from (e.g. a
            # pre-surrogate string-edge table with no idmap sidecar)
            # must be dropped BEFORE the first idmap commit: if it
            # survived until the idmap write and the run crashed
            # between the two commits, the next run would see
            # idmap + old-format edges together and resume on
            # mismatched state (ADVICE r4)
            catalog.drop(checkpoint_table)
        id_map = node_id_map(edges, all_nodes)
        cur = edges_to_ids(edges)

    t0 = time.monotonic()
    fetched = cur.limit(DRIVER_CC_MAX_EDGES + 1).toArrow()
    nodes = None
    if fetched.num_rows <= DRIVER_CC_MAX_EDGES:
        nodes = id_map.limit(DRIVER_CC_MAX_NODES + 1).toArrow()
    if nodes is not None and nodes.num_rows <= DRIVER_CC_MAX_NODES:
        table, final_edges = _driver_assignments(fetched, nodes)
        if stats_out is not None:
            stats_out.update(
                {
                    "path": "driver",
                    "sync_points": 1,
                    "star_rounds": 0,
                    "sync_wall_secs": [round(time.monotonic() - t0, 3)],
                    "final_edges": final_edges,
                }
            )
        if catalog is not None:
            for t in (checkpoint_table, idmap_table):
                if catalog.exists(t):
                    catalog.drop(t)
        # an output, not a join input: no checkpoint needed (BASELINE.md
        # "CC crossover")
        return spark.createDataFrame(table)

    stats = id_map.agg(
        F.count_distinct("url").alias("n"), F.count_distinct("id").alias("d")
    ).collect()[0]
    if stats.n != stats.d:
        raise _collision_error(stats.n, stats.d)
    idmap_committed = resumed

    def checkpoint(it: int, nxt: DataFrame) -> None:
        nonlocal idmap_committed
        if catalog is None or (it + 1) % checkpoint_every:
            return
        if not idmap_committed:
            # written BEFORE the first edge commit so any edge
            # checkpoint on disk always has its id map beside it
            catalog.write(idmap_table, id_map, mode="overwrite")
            idmap_committed = True
        catalog.write(checkpoint_table, nxt, mode="overwrite")

    cur = _star_loop(cur, max_iterations, rounds_per_check, checkpoint, stats_out)

    # Converged edge set is a forest of stars (child → root) in id
    # space.  Any root appearing only as dst maps to itself; the url↔id
    # map joins back ONCE, and cluster_id = min(url) per component is
    # recovered with one groupBy — the only place url strings shuffle.
    # Both joins that read the id map are hinted to sort-merge: a node
    # map this size must never be broadcast (at 3.2M edges on a 2g heap
    # the broadcast ran out of heap).
    child = cur.select(F.col("src").alias("id"), F.col("dst").alias("root"))
    roots = cur.select(F.col("dst").alias("id")).distinct()
    root_self = roots.join(
        child.select("id"), "id", "left_anti"
    ).withColumn("root", F.col("id"))
    assign_ids = child.unionByName(root_self)

    # LEFT join + per-row guard: an edge endpoint absent from the id
    # map (an ``all_nodes`` that does not cover every endpoint —
    # a documented contract violation) must fail LOUDLY, not silently
    # drop the node from the output (ADVICE r3).  The guard is a
    # codegen'd null check on a column every downstream consumer reads,
    # so Catalyst cannot prune it and it costs no extra shuffle or job.
    assigned = assign_ids.join(id_map.hint("merge"), "id", "left").withColumn(
        "url",
        F.when(
            F.col("url").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("connected_components: edge endpoint id "),
                    F.col("id").cast("string"),
                    F.lit(
                        " is not covered by all_nodes — pass all_nodes"
                        " covering every edge endpoint, or None to derive"
                        " the node set from the edges"
                    ),
                )
            ),
        ).otherwise(F.col("url")),
    )
    cluster_roots = assigned.groupBy("root").agg(
        F.min("url").alias("cluster_id")
    )
    out = assigned.join(cluster_roots, "root").select("url", "cluster_id")

    # nodes with no surviving edge (singletons, incl. self-loop-only)
    singles = id_map.join(
        assign_ids.select("id").hint("merge"), "id", "left_anti"
    ).select("url", F.col("url").alias("cluster_id"))
    out = out.unionByName(singles)

    if catalog is not None:
        for t in (checkpoint_table, idmap_table):
            if catalog.exists(t):
                # the recovery joins above still reference the
                # checkpoint lazily on resume — materialization must
                # happen before the files go away
                if resumed:
                    out = out.localCheckpoint(eager=True)
                    resumed = False
                catalog.drop(t)
    return out
