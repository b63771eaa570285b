"""Self-tests of the benchmark at a tiny input size.

    python3 -m pytest erbench/selftest.py -q

The file name keeps them out of the repository's own test suite: they
start a Spark session of their own, sized like the benchmark's.

Every workload runs once, untraced and traced; an output pair dropped or
altered, and a resume that changes the cluster assignments, each count
as a failed run.
"""

from __future__ import annotations

import itertools
import os
import random
import tempfile

import pytest
from pyspark.sql import functions as F

from erbench import checks, host, run, trace, workloads

TINY = {"resolve": 300, "pipeline": 200, "near_dup": 300}


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("erbench"))


@pytest.fixture(scope="module")
def spark(work):
    # prepare_env rewrites the environment the JVM and the workers
    # inherit; put it back for whatever runs after this module
    saved_env, saved_tempdir = dict(os.environ), tempfile.tempdir
    try:
        yield host.start_spark(host.prepare_env(run.ROOT, work), work)
    finally:
        host.shutdown_spark()
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tempdir


@pytest.fixture
def make(spark, work):
    return lambda name: _workload(spark, work, name)


def _workload(spark, work, name, seed=7):
    wl = workloads.WORKLOADS[name](work, TINY[name], seed)
    wl.generate(spark)
    wl.prepare(spark)
    return wl


def _failed_runs(wl, spark) -> int:
    passed, _, attempted = run.closed_loop(wl, spark, 0)
    return attempted - len(passed)


@pytest.mark.parametrize("name", list(TINY))
def test_workload_runs_and_traces(spark, make, name):
    wl = make(name)
    out = run.attempt(wl, spark)
    assert out is not None
    assert out.f1 >= checks.F1_MIN and out.wall_s > 0 and out.out_bytes > 0
    if name == "pipeline":
        assert 0 < out.resume_s and out.total_s == pytest.approx(out.wall_s + out.resume_s)

    tracer = trace.Tracer(spark)
    traced = run.attempt(wl, spark, tracer)
    assert traced is not None
    m = tracer.layer_metrics(traced.total_s)
    assert set(m) == set(trace.metric_units()) - {"trace.overhead_s"}
    walls = sum(m[f"{layer}.wall_s"] for layer in trace.LAYERS)
    assert walls + m["trace.other_s"] == pytest.approx(traced.total_s)
    # spans use the wall clock, run walls a monotonic one: allow a sliver
    assert -0.05 < m["trace.other_s"] < 0.5 * traced.total_s
    exercised = {
        "resolve": ["normalize", "block", "score", "route", "cluster"],
        "pipeline": ["normalize", "block", "score", "route", "cluster", "merge", "observe", "catalog"],
        "near_dup": ["dedup.minhash", "dedup.ngram"],
    }[name]
    for layer in trace.LAYERS:
        assert (m[f"{layer}.jobs"] > 0) == (layer in exercised), layer
    if name != "near_dup":
        assert m["cluster.sync_points"] > 0 and m["block.yield"] > 0
    if name == "pipeline":
        assert m["catalog.write_mb"] > 0 and m["catalog.read_s"] > 0
    if name == "near_dup":
        assert m["dedup.minhash.pairs_out"] > 0 and m["dedup.ngram.pairs_out"] > 0


def _drop_or_alter(monkeypatch, alter: bool):
    inner = workloads.DD.minhash_verified_near_duplicates

    def tampered(*args, **kwargs):
        out = inner(*args, **kwargs)
        first = out.orderBy("id_a", "id_b").first()
        hit = (F.col("id_a") == first.id_a) & (F.col("id_b") == first.id_b)
        if alter:
            return out.withColumn("jaccard", F.when(hit, F.col("jaccard") - 0.01).otherwise(F.col("jaccard")))
        return out.filter(~hit)

    monkeypatch.setattr(workloads.DD, "minhash_verified_near_duplicates", tampered)


@pytest.mark.parametrize("alter", [False, True], ids=["dropped", "altered"])
def test_tampered_pair_is_a_failed_run(spark, make, monkeypatch, alter):
    wl = make("near_dup")
    assert _failed_runs(wl, spark) == 0
    _drop_or_alter(monkeypatch, alter)
    assert _failed_runs(wl, spark) == 1


def test_resume_mismatch_is_a_failed_run(spark, make, monkeypatch):
    wl = make("pipeline")
    inner = workloads.P.connected_components
    calls = itertools.count()

    def resumed_differently(*args, **kwargs):
        out = inner(*args, **kwargs)
        # the fresh run's call is left alone; the resume's merges every cluster
        return out if next(calls) % 2 == 0 else out.withColumn("cluster_id", F.lit("one"))

    monkeypatch.setattr(workloads.P, "connected_components", resumed_differently)
    assert _failed_runs(wl, spark) == 1


def test_similar_pairs_is_exact():
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(12)]
    texts = {i: " ".join(rng.choices(vocab, k=rng.randint(1, 9))) for i in range(120)}
    for k, tau in ((1, 0.5), (2, 0.8), (3, 0.4)):
        sets = {d: checks.shingles(t, k) for d, t in texts.items()}
        brute = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            i = len(sets[a] & sets[b])
            jac = i / len(sets[a] | sets[b])
            if jac >= tau:
                brute[(a, b)] = jac
        assert checks.similar_pairs(sets, tau) == brute


def test_shingles_of_short_texts():
    assert checks.shingles("A  b", 3) == {("a", "b")}
    assert checks.shingles("a b c a b", 2) == {("a", "b"), ("b", "c"), ("c", "a")}
    assert checks.shingles(" ", 2) == frozenset()


def test_partition_digest_ignores_order_and_labels():
    rows = [("u1", "c1"), ("u2", "c1"), ("u3", "c3")]
    relabelled = [("u3", "x"), ("u2", "y"), ("u1", "y")]
    assert checks.partition_digest(rows) == checks.partition_digest(relabelled)
    assert checks.partition_digest(rows) != checks.partition_digest([("u1", "c1"), ("u2", "c2"), ("u3", "c3")])


def test_check_pairs_flags_each_fault():
    truth = {(1, 2): 1.0, (3, 4): 0.5}
    ok, tp, fp, fn = checks.check_pairs("t", [(1, 2, 1.0), (3, 4, 0.5)], truth, True)
    assert (ok, tp, fp, fn) == ([], 2, 0, 0)
    for emitted in ([(1, 2, 1.0)], [(1, 2, 1.0), (3, 4, 0.51)], [(2, 1, 1.0), (3, 4, 0.5)],
                    [(1, 2, 1.0), (1, 2, 1.0), (3, 4, 0.5)], [(1, 2, 1.0), (3, 4, 0.5), (5, 6, 0.9)]):
        assert checks.check_pairs("t", emitted, truth, True)[0], emitted
