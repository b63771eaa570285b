"""Plan properties as tests: what a docstring claims about a physical
plan is asserted on ``queryExecution().executedPlan()`` after the plan
has run, so a rewrite that breaks the claim fails here instead of only
changing a hand-made dump."""

from __future__ import annotations

import re

import numpy as np
import pytest

from entity_resolution_engine_spark.config import BlockingConfig
from entity_resolution_engine_spark.operators.ann import centroid_sample
from entity_resolution_engine_spark.operators.blocking import candidate_pairs
from entity_resolution_engine_spark.operators.normalize_stage import normalize_pages


def _children(node, into_caches: bool) -> list:
    """A physical node's children, plus what AQE and caching hide from
    ``children()``: the final plan of an ``AdaptiveSparkPlan`` (never
    the initial one), a query stage's plan, a reused exchange's
    original and, when ``into_caches``, the plan of the cached relation
    an ``InMemoryTableScan`` reads."""
    cls = node.getClass().getSimpleName()
    kids = node.children()
    out = [kids.apply(i) for i in range(kids.size())]
    if cls == "AdaptiveSparkPlanExec":
        out.append(node.executedPlan())
    elif cls.endswith("QueryStageExec"):
        out.append(node.plan())
    elif cls == "ReusedExchangeExec":
        out.append(node.child())
    elif cls == "InMemoryTableScanExec" and into_caches:
        out.append(node.relation().cachedPlan())
    return out


def _describe(node) -> tuple[str, str]:
    return node.getClass().getSimpleName(), node.simpleString(1000)


def _plan_nodes(df):
    """(node, class, one-line description, under a cache?) for every
    node of ``df``'s executed plan, each node once: a cache read from
    two places, or an exchange reused, is still one plan."""
    ident = df.sparkSession._jvm.System.identityHashCode
    seen: set[int] = set()
    stack = [(df._jdf.queryExecution().executedPlan(), False)]
    while stack:
        node, cached = stack.pop()
        if ident(node) in seen:
            continue
        seen.add(ident(node))
        cls, desc = _describe(node)
        yield node, cls, desc, cached
        cached = cached or cls == "InMemoryTableScanExec"
        stack.extend((child, cached) for child in _children(node, True))


def _below(node) -> list[tuple[str, str]]:
    """(class, description) of every node under ``node`` that it
    computes itself: the walk stops at cached relations."""
    out = []
    stack = _children(node, False)
    while stack:
        child = stack.pop()
        out.append(_describe(child))
        stack.extend(_children(child, False))
    return out


@pytest.fixture(scope="module")
def normalized(spark, synth_corpus):
    pages, _ = synth_corpus
    n = normalize_pages(pages).cache()
    n.count()
    yield n
    n.unpersist()


def test_candidate_phase_groups_md5_once_and_bands_once(normalized):
    """The materialized ``candidate_pairs`` plan at the default config
    aggregates the binary md5 exactly once (the LSH champions and the
    exact star's roots come from the same rows), and the band UDF runs
    in exactly one ``ArrowEvalPython``, inside the rows cache: every
    explode of the bands reads them through an ``InMemoryTableScan``.
    An explode straight over the UDF ran the UDF twice (2.5x on the
    blocking stage)."""
    caches: list = []
    pairs, _ = candidate_pairs(normalized, BlockingConfig(), caches=caches)
    try:
        assert pairs.count() > 0
        nodes = list(_plan_nodes(pairs))
        explodes = [
            _below(n)
            for n, cls, desc, _ in nodes
            if cls == "GenerateExec" and "explode(buckets" in desc
        ]
    finally:
        for c in caches:
            c.unpersist()
    md5_aggs = [
        desc
        for _, cls, desc, _ in nodes
        if cls.endswith("AggregateExec")
        and re.search(r"keys?=\[mk#\d+\], functions=\[(?!partial_)", desc)
    ]
    assert len(md5_aggs) == 1, md5_aggs
    band_udfs = [
        (desc, cached)
        for _, cls, desc, cached in nodes
        if cls == "ArrowEvalPythonExec" and "band_udf" in desc
    ]
    assert len(band_udfs) == 1, band_udfs
    assert band_udfs[0][1], "the band UDF runs outside the rows cache"
    assert explodes, "no explode of the band arrays in the plan"
    for below in explodes:
        classes = [cls for cls, _ in below]
        assert "InMemoryTableScanExec" in classes, classes
        assert "ArrowEvalPythonExec" not in classes, classes
        assert not any(c.endswith("AggregateExec") for c in classes), classes


def test_centroid_sample_sorts_only_the_survivors(spark):
    """``ann.centroid_sample`` filters the corpus by hash at the scan
    and sorts only the survivors: the hash ``Filter`` sits below the
    ``TakeOrderedAndProject`` that picks the sample, and the plan has
    no ``Sort`` and no range-partitioning exchange over the full
    scan."""
    rng = np.random.default_rng(5)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(400)],
        ["vec_id", "embedding"],
    )
    sample = centroid_sample(corpus, sample=16)
    assert 0 < len(sample.collect()) <= 16
    nodes = list(_plan_nodes(sample))
    classes = [cls for _, cls, _, _ in nodes]
    assert "SortExec" not in classes, classes
    assert not any("rangepartitioning" in desc for _, _, desc, _ in nodes)
    (below,) = [_below(n) for n, cls, _, _ in nodes if cls == "TakeOrderedAndProjectExec"]
    assert any(
        cls == "FilterExec" and "pmod(xxhash64" in desc for cls, desc in below
    ), below
