"""Connected components (driver union-find and large-star/small-star):
correctness on known graphs, singleton handling, determinism, and the
two paths pinned equal."""

from __future__ import annotations

import pytest

from entity_resolution_engine_spark.operators.cluster import connected_components


def _assign(spark, edges, nodes=None):
    e = spark.createDataFrame(edges, ["src", "dst"])
    n = spark.createDataFrame([(u,) for u in nodes], ["url"]) if nodes else None
    out = connected_components(e, all_nodes=n)
    return {r.url: r.cluster_id for r in out.collect()}


def test_chain_collapses_to_min(spark):
    a = _assign(spark, [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d")])
    assert a == {u: "a" for u in "abcde"}


def test_two_components_and_singleton(spark):
    a = _assign(
        spark,
        [("n2", "n1"), ("n3", "n2"), ("m2", "m1")],
        nodes=["n1", "n2", "n3", "m1", "m2", "solo"],
    )
    assert a["n1"] == a["n2"] == a["n3"] == "n1"
    assert a["m1"] == a["m2"] == "m1"
    assert a["solo"] == "solo"


def test_cycle_and_self_loop(spark):
    a = _assign(spark, [("y", "x"), ("z", "y"), ("x", "z"), ("x", "x")])
    assert a == {"x": "x", "y": "x", "z": "x"}


def test_star_graph_large(spark):
    edges = [(f"leaf{i:03d}", "center") for i in range(100)]
    a = _assign(spark, edges)
    assert len(a) == 101
    assert set(a.values()) == {"center"}


def test_deterministic_across_runs(spark):
    edges = [(f"u{i}", f"u{i+1}") for i in range(0, 60, 2)] + [
        (f"u{i}", f"u{i+3}") for i in range(0, 50, 5)
    ]
    a1 = _assign(spark, edges)
    a2 = _assign(spark, edges)
    assert a1 == a2


def test_resume_from_checkpoint_table(spark, tmp_path):
    """CC resumes from a committed iteration state: when the checkpoint
    table exists, iteration starts from it (not the raw edges) and the
    final assignment is identical; the checkpoint is dropped on
    completion."""
    from entity_resolution_engine_spark.sources.catalog import (
        ParquetSnapshotCatalog,
    )

    cat = ParquetSnapshotCatalog(spark, str(tmp_path / "cat"))
    edges = [(f"n{i}", f"n{i+1}") for i in range(30)]
    e = spark.createDataFrame(edges, ["src", "dst"])

    # uninterrupted run for the expected answer
    want = {
        r.url: r.cluster_id
        for r in connected_components(e, catalog=cat, checkpoint_table="cc_a").collect()
    }
    assert not cat.exists("cc_a")  # cleaned up after convergence

    # simulate a kill mid-clustering: commit a partially-contracted edge
    # set (one large-star/small-star round applied) in the surrogate-id
    # space plus the url↔id map — the on-disk checkpoint format
    from entity_resolution_engine_spark.operators.cluster import (
        edges_to_ids,
        large_star,
        node_id_map,
        small_star,
    )

    partial = small_star(large_star(edges_to_ids(e)))
    cat.write("cc_b", partial)
    cat.write("cc_b_idmap", node_id_map(e))
    got = {
        r.url: r.cluster_id
        for r in connected_components(
            spark.createDataFrame([("zz", "zz")], ["src", "dst"]),  # ignored: resume wins
            catalog=cat,
            checkpoint_table="cc_b",
        ).collect()
    }
    assert got == want
    assert not cat.exists("cc_b")


def test_unmapped_edge_endpoint_fails_loudly(spark):
    """all_nodes that does not cover every edge endpoint is a contract
    violation — the recovery join must raise, not silently drop the
    node (ADVICE r3: the inner join version lost such rows)."""
    import pytest

    e = spark.createDataFrame([("a", "b"), ("b", "zzz_not_in_nodes")], ["src", "dst"])
    n = spark.createDataFrame([("a",), ("b",)], ["url"])
    with pytest.raises(Exception, match="not covered by all_nodes"):
        connected_components(e, all_nodes=n).collect()


def test_stale_checkpoint_without_idmap_restarts_fresh(spark, tmp_path):
    """A checkpoint table WITHOUT its id-map sidecar (the pre-surrogate
    on-disk format, or a partially-written commit) must not be resumed
    from — the run restarts from the raw edges instead of crashing on
    the missing sidecar (ADVICE r3)."""
    from entity_resolution_engine_spark.operators.cluster import edges_to_ids
    from entity_resolution_engine_spark.sources.catalog import (
        ParquetSnapshotCatalog,
    )

    cat = ParquetSnapshotCatalog(spark, str(tmp_path / "cat"))
    e = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    # stale state: edges committed under the checkpoint name, NO idmap —
    # and deliberately from a DIFFERENT graph, so resuming from it would
    # give a wrong answer even if it didn't crash
    stale = spark.createDataFrame([("x", "y")], ["src", "dst"])
    cat.write("cc_stale", edges_to_ids(stale))
    got = {
        r.url: r.cluster_id
        for r in connected_components(
            e, catalog=cat, checkpoint_table="cc_stale"
        ).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a"}


def _union_find_min(edges, nodes):
    """Python oracle: cluster_id = min(url) per component."""
    parent = {u: u for u in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    comps = {}
    for u in nodes:
        comps.setdefault(find(u), []).append(u)
    out = {}
    for members in comps.values():
        root = min(members)
        for u in members:
            out[u] = root
    return out


def _property_graphs():
    """100 seeded random graphs (GNM, chains with shortcuts, stars,
    joined cliques, self-loop/duplicate-edge mixes, isolated nodes) in
    per-seed node namespaces — components can never cross seeds — and
    their Python union-find answer: (edges, nodes, expected)."""
    import random

    all_edges: list[tuple[str, str]] = []
    all_nodes: list[str] = []
    expected: dict[str, str] = {}

    for seed in range(100):
        rng = random.Random(seed)
        pre = f"g{seed:03d}n"
        shape = seed % 5
        n = rng.randint(2, 50)
        nodes = [f"{pre}{i:03d}" for i in range(n)]
        edges: list[tuple[str, str]] = []
        if shape == 0:  # GNM random
            m = rng.randint(0, 80)
            for _ in range(m):
                edges.append((rng.choice(nodes), rng.choice(nodes)))
        elif shape == 1:  # chain with shortcuts
            edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
            for _ in range(rng.randint(0, 5)):
                edges.append((rng.choice(nodes), rng.choice(nodes)))
        elif shape == 2:  # star (hub picked mid-list, not the min)
            hub = nodes[n // 2]
            edges = [(hub, v) for v in nodes if v != hub]
        elif shape == 3:  # two cliques, optionally bridged
            half = max(2, n // 2)
            c1, c2 = nodes[:half], nodes[half:]
            edges = [(a, b) for i, a in enumerate(c1) for b in c1[i + 1 :]]
            edges += [(a, b) for i, a in enumerate(c2) for b in c2[i + 1 :]]
            if rng.random() < 0.5 and c2:
                edges.append((c1[-1], c2[0]))
        else:  # mix: self-loops, duplicate + reversed edges
            for _ in range(rng.randint(1, 30)):
                a, b = rng.choice(nodes), rng.choice(nodes)
                edges.append((a, b))
                if rng.random() < 0.3:
                    edges.append((a, b))  # duplicate
                if rng.random() < 0.3:
                    edges.append((b, a))  # reversed
            edges.append((nodes[0], nodes[0]))  # self-loop
        # isolated nodes exist in every graph where edges miss some node
        all_edges.extend(edges)
        all_nodes.extend(nodes)
        expected.update(_union_find_min(edges, nodes))
    return all_edges, all_nodes, expected


def test_property_random_graphs_vs_union_find(spark):
    """Property test for the window-star large/small-star algebra: the
    100 seeded random graphs of ``_property_graphs`` batched into ONE CC
    call and compared against a Python union-find (VERDICT r3 item 8)."""
    all_edges, all_nodes, expected = _property_graphs()
    e = spark.createDataFrame(all_edges, ["src", "dst"])
    nodes_df = spark.createDataFrame([(u,) for u in all_nodes], ["url"])
    for rpc in (1, 3):
        got = {
            r.url: r.cluster_id
            for r in connected_components(
                e, all_nodes=nodes_df, rounds_per_check=rpc
            ).collect()
        }
        assert got == expected, f"rounds_per_check={rpc}"


def _dense_cliques():
    """Pairs of dense cliques joined by one bridge: every k-clique member
    emits its (v, root) row once per smaller neighbor, the case that
    makes large_star's distinct load-bearing.  (edges, nodes)."""
    edges: list[tuple[str, str]] = []
    nodes: list[str] = []
    for k in (12, 30, 45):
        ns = [f"q{k:02d}n{i:03d}" for i in range(2 * k)]
        c1, c2 = ns[:k], ns[k:]
        edges += [(a, b) for i, a in enumerate(c1) for b in c1[i + 1 :]]
        edges += [(a, b) for i, a in enumerate(c2) for b in c2[i + 1 :]]
        edges.append((c1[k // 2], c2[-1]))  # bridge away from either min
        nodes += ns
    return edges, nodes


def test_driver_union_find_equals_star_loop(spark, monkeypatch):
    """The driver union-find and the forced star loop return byte-equal
    (url, cluster_id) rows, and each reports its path in stats_out with
    the sync_points/star_rounds keys the iteration ledger reads."""
    from entity_resolution_engine_spark.operators import cluster

    edges, nodes, _ = _property_graphs()
    clique_edges, clique_nodes = _dense_cliques()
    edges, nodes = edges + clique_edges, nodes + clique_nodes
    e = spark.createDataFrame(edges, ["src", "dst"])
    n = spark.createDataFrame([(u,) for u in nodes], ["url"])

    def run():
        stats: dict = {}
        rows = connected_components(e, all_nodes=n, stats_out=stats).collect()
        return sorted((r.url, r.cluster_id) for r in rows), stats

    driver, driver_stats = run()
    monkeypatch.setattr(cluster, "DRIVER_CC_MAX_EDGES", 0)
    star, star_stats = run()
    assert driver == star
    assert dict(driver) == _union_find_min(edges, nodes)
    assert driver_stats["path"] == "driver" and star_stats["path"] == "star"
    assert driver_stats["sync_points"] == 1 and driver_stats["star_rounds"] == 0
    assert star_stats["sync_points"] >= 1 and star_stats["star_rounds"] >= 2
    assert driver_stats["final_edges"] == star_stats["final_edges"]


def test_min_label_roots_unit():
    """Union-find on dense node indices: every node maps to its
    component's min index; self-loops and untouched nodes map to
    themselves."""
    import numpy as np

    from entity_resolution_engine_spark.operators.cluster import _min_label_roots

    # nodes 0..7; 7 has no edge, (1, 1) is a self-loop
    a = np.array([4, 2, 1, 1, 5, 0])
    b = np.array([3, 4, 3, 1, 6, 5])
    assert _min_label_roots(a, b, 8).tolist() == [0, 1, 1, 1, 1, 0, 0, 7]
    empty = np.array([], np.int64)
    assert _min_label_roots(empty, empty, 3).tolist() == [0, 1, 2]
    assert len(_min_label_roots(empty, empty, 0)) == 0


def test_driver_path_orders_urls_by_utf8_bytes(spark, monkeypatch):
    """cluster_id = min(url) in Spark's order, UTF-8 bytes: U+FF21 'Ａ'
    sorts below a supplementary character like U+1F600 in it, above it
    in Java's UTF-16 order.  The driver path, the forced star loop and
    a Spark ``min(url)`` per component agree."""
    from pyspark.sql import functions as F

    from entity_resolution_engine_spark.operators import cluster

    comps = [
        ["b", "B", "a", "\uff21"],  # ASCII below U+FF21
        ["\U0001f600", "\uff21x"],  # U+FF21 < U+1F600 in UTF-8 only
        ["z\U0001f600", "z\uff21", "zé", "zZ"],
    ]
    edges = [(c[i], c[i + 1]) for c in comps for i in range(len(c) - 1)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    n = spark.createDataFrame([(u,) for c in comps for u in c] + [("solo",)], ["url"])

    def run():
        stats: dict = {}
        rows = connected_components(e, all_nodes=n, stats_out=stats).collect()
        return {r.url: r.cluster_id for r in rows}, stats["path"]

    driver, driver_path = run()
    monkeypatch.setattr(cluster, "DRIVER_CC_MAX_EDGES", 0)
    star, star_path = run()
    comp_of = spark.createDataFrame(
        [(u, k) for k, c in enumerate(comps) for u in c], ["url", "comp"]
    )
    spark_min = {
        r.url: r.m
        for r in comp_of.join(
            comp_of.groupBy("comp").agg(F.min("url").alias("m")), "comp"
        ).collect()
    }
    assert (driver_path, star_path) == ("driver", "star")
    assert driver == star
    assert {u: driver[u] for u in spark_min} == spark_min
    assert driver["a"] == "B" and driver["\U0001f600"] == "\uff21x"
    assert driver["zZ"] == "zZ" and driver["solo"] == "solo"


def test_driver_path_fails_before_returning(spark):
    """An edge endpoint missing from all_nodes raises inside the driver
    path's call itself, before any output frame exists."""
    e = spark.createDataFrame([("a", "b"), ("b", "zzz_not_in_nodes")], ["src", "dst"])
    n = spark.createDataFrame([("a",), ("b",)], ["url"])
    with pytest.raises(ValueError, match="not covered by all_nodes"):
        connected_components(e, all_nodes=n)


# a repeated edge (b, a) and a self-loop on d, which has no other edge
_DUP_LOOP_EDGES = [("b", "a"), ("c", "b"), ("b", "a"), ("d", "d"), ("f", "e")]


def test_duplicate_and_self_loop_edges(spark):
    """A repeated edge and a self-loop enter CC as they are: the
    components come out as without them, and a node with only a
    self-loop is a singleton."""
    a = _assign(spark, _DUP_LOOP_EDGES, nodes=list("abcdef"))
    assert a == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "f": "e"}


def test_repeated_url_is_not_a_collision(spark):
    """A url that appears twice in all_nodes (a re-crawl) shares one
    surrogate id: no collision error, and every row of it gets the
    cluster it gets without the repeat."""
    edges = [("b", "a"), ("c", "b"), ("e", "d")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    nodes = ["a", "b", "c", "d", "e", "solo"]

    def rows(urls):
        n = spark.createDataFrame([(u,) for u in urls], ["url"])
        out = connected_components(e, all_nodes=n).collect()
        return sorted((r.url, r.cluster_id) for r in out)

    once = rows(nodes)
    twice = rows(nodes + ["c", "solo"])
    assert twice == sorted(once + [("c", "a"), ("solo", "solo")])


def test_driver_assignments_raise_on_collision():
    """Two distinct urls on one id are a collision: the driver path
    raises instead of merging their components."""
    import pyarrow as pa

    from entity_resolution_engine_spark.operators.cluster import _driver_assignments

    edges = pa.table({"src": pa.array([1], pa.int64()), "dst": pa.array([2], pa.int64())})
    nodes = pa.table({"url": ["a", "b", "c"], "id": pa.array([1, 2, 1], pa.int64())})
    with pytest.raises(RuntimeError, match="3 distinct urls → 2 ids"):
        _driver_assignments(edges, nodes)


def test_star_loop_raises_on_collision(spark, monkeypatch):
    """The star path runs the same check as one Spark aggregate before
    its first round."""
    from entity_resolution_engine_spark.operators import cluster

    monkeypatch.setattr(cluster, "DRIVER_CC_MAX_EDGES", 0)
    monkeypatch.setattr(
        cluster,
        "node_id_map",
        lambda edges, all_nodes=None: spark.createDataFrame(
            [("a", 7), ("b", 7), ("b", 7)], "url string, id long"
        ),
    )
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(RuntimeError, match="2 distinct urls → 1 ids"):
        connected_components(e)


def test_driver_path_runs_two_jobs(spark, jobs_run_by):
    """Under the driver bound CC runs exactly two Spark jobs, the edge
    fetch and the node fetch: no shuffle dedups the edges first."""
    e = spark.createDataFrame(_DUP_LOOP_EDGES, ["src", "dst"])
    n = spark.createDataFrame([(u,) for u in "abcdef"], ["url"])
    stats: dict = {}
    assert jobs_run_by(lambda: connected_components(e, all_nodes=n, stats_out=stats)) == 2
    assert stats["path"] == "driver"


class TestStarLoopPath:
    """Every case above again with the driver path switched off, so the
    at-scale star loop (and its mid-clustering checkpoints) stays
    covered on graphs the driver would otherwise solve."""

    @pytest.fixture(autouse=True)
    def _force_star_loop(self, monkeypatch):
        from entity_resolution_engine_spark.operators import cluster

        monkeypatch.setattr(cluster, "DRIVER_CC_MAX_EDGES", 0)

    test_chain_collapses_to_min = staticmethod(test_chain_collapses_to_min)
    test_two_components_and_singleton = staticmethod(test_two_components_and_singleton)
    test_cycle_and_self_loop = staticmethod(test_cycle_and_self_loop)
    test_star_graph_large = staticmethod(test_star_graph_large)
    test_deterministic_across_runs = staticmethod(test_deterministic_across_runs)
    test_resume_from_checkpoint_table = staticmethod(test_resume_from_checkpoint_table)
    test_unmapped_edge_endpoint_fails_loudly = staticmethod(
        test_unmapped_edge_endpoint_fails_loudly
    )
    test_stale_checkpoint_without_idmap_restarts_fresh = staticmethod(
        test_stale_checkpoint_without_idmap_restarts_fresh
    )
    test_property_random_graphs_vs_union_find = staticmethod(
        test_property_random_graphs_vs_union_find
    )
    test_duplicate_and_self_loop_edges = staticmethod(test_duplicate_and_self_loop_edges)
    test_repeated_url_is_not_a_collision = staticmethod(
        test_repeated_url_is_not_a_collision
    )
