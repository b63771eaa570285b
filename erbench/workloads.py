"""The three workloads.

Each makes its corpus from ``generate_web_pages(seed=...)``, runs one
job at a time through the engine's public entry points, and checks what
the job materialized. A traced run of a workload puts a span around the
call into each layer (see ``trace.py``).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entity_resolution_engine_spark.config import DEFAULT_CONFIG
from entity_resolution_engine_spark.operators import dedup as DD
from entity_resolution_engine_spark.operators.blocking import candidate_pairs
from entity_resolution_engine_spark.operators.cluster import connected_components
from entity_resolution_engine_spark.operators.evaluate import pairwise_f1
from entity_resolution_engine_spark.operators.normalize_stage import normalize_pages
from entity_resolution_engine_spark.operators.router import route_pairs
from entity_resolution_engine_spark.operators.scoring import score_pairs
from entity_resolution_engine_spark.plans import flagship
from entity_resolution_engine_spark.plans import pipeline as P
from entity_resolution_engine_spark.sources.catalog import ParquetSnapshotCatalog
from entity_resolution_engine_spark.sources.synth import generate_web_pages

from . import checks
from .trace import Tracer, TracedCatalog


@dataclass
class Outcome:
    wall_s: float  # entry call until the output is materialized
    resume_s: float  # wall of getting the result again after a restart
    total_s: float  # the whole timed run: for pipeline, fresh run plus resume
    out_bytes: int  # bytes the run left on storage
    f1: float
    problems: list[str] = field(default_factory=list)


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _as_documents(pages: DataFrame) -> DataFrame:
    """web_pages → documents(doc_id, text, lang, source, n_chars) plus the
    planted true_cluster_id, both read off the generator's
    ``https://<domain>/p/<cluster>-<member>`` urls."""
    cid = F.regexp_extract("url", r"/p/(\d+)-(\d+)$", 1).cast("long")
    member = F.regexp_extract("url", r"/p/(\d+)-(\d+)$", 2).cast("long")
    return pages.select(
        (cid * 8 + member).alias("doc_id"),
        "text",
        "lang",
        F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("source"),
        F.length("text").alias("n_chars"),
        cid.alias("true_cluster_id"),
    )


@contextlib.contextmanager
def _span(tracer: Tracer | None, layer: str):
    if tracer is None:
        yield None
    else:
        with tracer.span(layer) as s:
            yield s


class Workload:
    name = ""
    why = ""

    def __init__(self, work: str, size: int, seed: int):
        self.size = size  # rows asked of the generator
        self.seed = seed
        self.dir = os.path.join(work, self.name)
        self.corpus = os.path.join(self.dir, "corpus")
        self.labels = os.path.join(self.dir, "labels")
        self.out = os.path.join(self.dir, "out")
        self.n_docs = 0

    def generate(self, spark: SparkSession) -> None:
        """Writes the corpus (and its planted labels) as parquet."""
        raise NotImplementedError

    def prepare(self, spark: SparkSession) -> None:
        """Loads what the checks compare against; not timed."""
        raise NotImplementedError

    def run(self, spark: SparkSession, tracer: Tracer | None = None) -> Outcome:
        raise NotImplementedError

    def warm_up(self, spark: SparkSession) -> float:
        """One unmeasured run; returns its timed wall."""
        return self._checked(self.run(spark))

    @staticmethod
    def _checked(out: Outcome) -> float:
        if out.problems:
            raise RuntimeError(f"warm-up run failed its checks: {out.problems}")
        return out.total_s

    @property
    def input_bytes(self) -> int:
        return du(self.corpus)


class _Clusters(Workload):
    """Shared by the two workloads that output cluster assignments."""

    def prepare(self, spark):
        self.urls = {r.url for r in spark.read.parquet(self.labels).select("url").collect()}
        self.n_docs = len(self.urls)

    def _check(self, spark, assignments: DataFrame) -> tuple[list[str], float, str]:
        rows = [(r.url, r.cluster_id) for r in assignments.select("url", "cluster_id").collect()]
        f1 = pairwise_f1(assignments, spark.read.parquet(self.labels))["f1"]
        return checks.check_assignments(rows, self.urls, f1), f1, checks.partition_digest(rows)


class Resolve(_Clusters):
    name = "resolve"
    why = "flagship in-memory resolve of a documents corpus: block, score and CC do the work, no catalog"

    def generate(self, spark):
        pages, _ = generate_web_pages(spark, self.size, seed=self.seed)
        docs = _as_documents(pages).persist()
        docs.drop("true_cluster_id").write.mode("overwrite").parquet(self.corpus)
        docs.select(
            F.concat(F.lit("doc://"), "source", F.lit("/"), F.col("doc_id").cast("string")).alias("url"),
            "true_cluster_id",
        ).write.mode("overwrite").parquet(self.labels)
        docs.unpersist()

    def run(self, spark, tracer=None):
        docs = spark.read.parquet(self.corpus)
        out = _fresh(self.out)
        t0 = time.perf_counter()
        if tracer is None:
            assignments = flagship.resolve_documents(spark, docs)
        else:
            assignments = traced_resolve(spark, docs, tracer)
        assignments.write.parquet(out)
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        problems, f1, _ = self._check(spark, spark.read.parquet(out))
        # nothing is snapshotted, so a restart reruns the whole resolve
        return Outcome(wall, wall, wall, du(out), f1, problems)


def traced_resolve(spark, docs: DataFrame, tracer: Tracer) -> DataFrame:
    """``flagship.resolve_documents`` called layer by layer, each layer
    materialized under its own span."""
    cfg = DEFAULT_CONFIG
    with tracer.span("normalize") as s:
        normalized = normalize_pages(flagship.documents_as_pages(docs))
        normalized = normalized.drop("canonical_text").cache()
        s.rows_out = normalized.count()
    with tracer.span("block") as s:
        caches: list = []
        pairs, _ = candidate_pairs(normalized, cfg.blocking, caches=caches)
        pairs = pairs.persist()
        n_candidates = s.rows_out = pairs.count()
    with tracer.span("score") as s:
        scored = score_pairs(pairs, normalized, cfg.scoring).persist()
        s.rows_out = scored.count()
    with tracer.span("route") as s:
        routed = route_pairs(scored, cfg.scoring, run_id="flagship").persist()
        s.rows_out = routed.count()
        approved = routed.filter(F.col("routed_status") == "approved")
        tracer.add("block.yield", approved.count() / max(1, n_candidates))
    with tracer.span("cluster") as s:
        stats: dict = {}
        assignments = connected_components(
            approved.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst")),
            all_nodes=normalized.select("url"),
            max_iterations=cfg.cc_max_iterations,
            checkpoint_every=cfg.cc_checkpoint_every,
            stats_out=stats,
        ).persist()
        s.rows_out = assignments.count()
        _add_cc_stats(tracer, stats)
    for c in caches + [pairs, scored, routed]:
        c.unpersist()
    w = Window.partitionBy("cluster_id")
    return assignments.select("url", "cluster_id", F.count("*").over(w).alias("n_members"))


def _add_cc_stats(tracer: Tracer, stats: dict) -> None:
    tracer.add("cluster.sync_points", stats["sync_points"])
    tracer.add("cluster.star_rounds", stats["star_rounds"])


@contextlib.contextmanager
def _pipeline_cc_stats(tracer: Tracer):
    """Passes ``stats_out=`` to the pipeline's connected_components call,
    which the Pipeline itself does not expose."""
    inner = P.connected_components

    def with_stats(*args, **kwargs):
        stats: dict = {}
        out = inner(*args, stats_out=stats, **kwargs)
        _add_cc_stats(tracer, stats)
        return out

    P.connected_components = with_stats
    try:
        yield
    finally:
        P.connected_components = inner


class PipelineRun(_Clusters):
    name = "pipeline"
    why = "checkpointed Pipeline.run into a fresh snapshot catalog plus a resume of cluster, merge and observe"
    RUN_ID = "bench"
    RESUMED = ("cluster", "merge", "observe")

    def generate(self, spark):
        pages, labels = generate_web_pages(spark, self.size, seed=self.seed)
        pages.write.mode("overwrite").parquet(self.corpus)
        labels.write.mode("overwrite").parquet(self.labels)

    def _phase(self, pipe, pages, traced: TracedCatalog | None):
        t0 = time.perf_counter()
        if traced is not None:
            traced.open()
        res = pipe.run(pages, self.RUN_ID)
        if traced is not None:
            # the closing gate check reads the gate results observe wrote
            traced.close("observe")
        return res, time.perf_counter() - t0

    def _unmark(self, root: str) -> None:
        """Marks the resumed stages as not done, as a crash after route would."""
        state = P.RunState(root, self.RUN_ID)
        done = sorted(state.completed() - set(self.RESUMED))
        with open(state.path, "w") as f:
            json.dump({"run_id": self.RUN_ID, "completed": done}, f)

    def warm_up(self, spark):
        # the fresh phase alone: a resume runs the same stage code
        return self._checked(self.run(spark, resume=False))

    def run(self, spark, tracer=None, resume=True):
        root = _fresh(self.out)
        pages = spark.read.parquet(self.corpus)
        catalog = ParquetSnapshotCatalog(spark, root)
        traced = None if tracer is None else TracedCatalog(catalog, tracer, self.RUN_ID)
        pipe = P.Pipeline(spark, root, catalog=traced or catalog)
        with contextlib.ExitStack() as stack:
            if tracer is not None:
                stack.enter_context(_pipeline_cc_stats(tracer))
            fresh, wall = self._phase(pipe, pages, traced)
            problems, f1, digest = self._check(spark, catalog.read(f"run_{self.RUN_ID}_clusters"))
            if fresh.stages_run != list(P.STAGES) or not fresh.gate_passed:
                problems.append(f"fresh run: stages {fresh.stages_run}, gate passed {fresh.gate_passed}")
            if not resume:
                return Outcome(wall, 0.0, wall, du(root), f1, problems)
            self._unmark(root)
            resumed, resume_s = self._phase(pipe, pages, traced)
        if resumed.stages_run != list(self.RESUMED):
            problems.append(f"resume ran stages {resumed.stages_run}")
        rows = catalog.read(f"run_{self.RUN_ID}_clusters").collect()
        if checks.partition_digest((r.url, r.cluster_id) for r in rows) != digest:
            problems.append("resumed cluster assignments differ from the fresh run's")
        if tracer is not None:
            candidates = catalog.read(f"run_{self.RUN_ID}_candidates").count()
            approved = (
                catalog.read(f"run_{self.RUN_ID}_routed")
                .filter(F.col("routed_status") == "approved")
                .count()
            )
            tracer.add("block.yield", approved / max(1, candidates))
        spark.catalog.clearCache()
        return Outcome(wall, resume_s, wall + resume_s, du(root), f1, problems)


class NearDup(Workload):
    name = "near_dup"
    why = "MinHash and n-gram near-duplicate joins over a half-clone corpus; bypasses normalize, score, route and CC"
    MINHASH_TAU, NGRAM_N, NGRAM_TAU = 0.8, 3, 0.4

    def generate(self, spark):
        # half the generator's rows, each cloned 0, 1 or 2 times (1 on
        # average), so about half the documents are exact clones
        pages, _ = generate_web_pages(spark, self.size // 2, seed=self.seed)
        originals = _as_documents(pages).drop("true_cluster_id")
        copies = sum(
            F.pmod(F.xxhash64("doc_id", F.lit(self.seed), F.lit(salt)), F.lit(2))
            for salt in ("clone1", "clone2")
        )
        docs = originals.select(
            "*", F.explode(F.sequence(F.lit(0), copies.cast("int"))).alias("copy")
        ).select(
            (F.col("doc_id") * 4 + F.col("copy")).alias("doc_id"), "text", "lang", "source", "n_chars"
        )
        docs.write.mode("overwrite").parquet(self.corpus)

    def prepare(self, spark):
        texts = {r.doc_id: r.text for r in spark.read.parquet(self.corpus).select("doc_id", "text").collect()}
        self.n_docs = len(texts)
        self.truth_minhash = checks.similar_pairs(
            {d: checks.shingles(t, 2) for d, t in texts.items()}, self.MINHASH_TAU
        )
        self.truth_ngram = checks.similar_pairs(
            {d: checks.shingles(t, self.NGRAM_N) for d, t in texts.items()}, self.NGRAM_TAU
        )

    def run(self, spark, tracer=None):
        docs = spark.read.parquet(self.corpus)
        out_m = _fresh(os.path.join(self.out, "minhash"))
        out_n = _fresh(os.path.join(self.out, "ngram"))
        caches: list = []
        t0 = time.perf_counter()
        with _span(tracer, "dedup.minhash") as span_m:
            DD.minhash_verified_near_duplicates(
                docs, min_jaccard=self.MINHASH_TAU, caches=caches
            ).write.parquet(out_m)
        with _span(tracer, "dedup.ngram") as span_n:
            DD.ngram_jaccard_pairs_fast(
                docs, n=self.NGRAM_N, min_jaccard=self.NGRAM_TAU, caches=caches
            ).write.parquet(out_n)
        wall = time.perf_counter() - t0
        for c in caches:
            c.unpersist()
        problems, tp, fp, fn = [], 0, 0, 0
        # MinHash at tau 0.8 misses a pair with probability ~1e-11, so
        # every exact pair must be there; the n-gram bands' recall is
        # documented below 1 near tau, so F1 guards it instead
        for label, out, truth, exact, span in (
            ("dedup.minhash", out_m, self.truth_minhash, True, span_m),
            ("dedup.ngram", out_n, self.truth_ngram, False, span_n),
        ):
            rows = spark.read.parquet(out).select("id_a", "id_b", "jaccard").collect()
            p, t, f, n = checks.check_pairs(label, rows, truth, exact)
            problems += p
            tp, fp, fn = tp + t, fp + f, fn + n
            if tracer is not None:
                tracer.add(f"{label}.pairs_out", len(rows))
                span.rows_out = len(rows)
        f1 = checks.f1(tp, fp, fn)
        if f1 < checks.F1_MIN:
            problems.append(f"pair F1 {f1:.4f} < {checks.F1_MIN}")
        # nothing is snapshotted, so a restart reruns both joins
        return Outcome(wall, wall, wall, du(self.out), f1, problems)


WORKLOADS = {w.name: w for w in (Resolve, PipelineRun, NearDup)}
