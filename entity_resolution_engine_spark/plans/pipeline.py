"""Pipeline orchestration: the ``run_mapping.main()`` analog
(/root/reference/entity_resolution_engine/cli/run_mapping.py:37-188),
rebuilt as a checkpointed stage sequence over the snapshot catalog.

Stages (each committed as a catalog snapshot before the next starts —
the cross-node boundaries listed in SURVEY.md §3.1):

    normalize → block → score → route → cluster → merge → observe

The first five are ``resolve``, the one resolve chain, which the
in-memory flagship (``plans/flagship.py``) runs too.  Each caller makes
the stages real through a ``keep(stage, build)`` seam: here ``keep``
commits each stage's tables as snapshots (the route stage then runs
the optional LLM gray-zone sample) and returns the committed table
read back.  Merge and observe run after the chain, here only.

Resume: the run-state table records completed stages; a rerun with the
same ``run_id`` skips committed stages and reads their snapshots (the
north_rule's "resumable from checkpoint").  When its edge set is too
large for the driver union-find, the connected-components stage runs
the star loop and additionally checkpoints its iteration state, so
resume works mid-clustering; a driver-sized edge set clusters in one
job and has no mid-clustering state to resume.

Observe writes stage and router metrics, anomaly events, the triage
report, the quality gates and the quality report.  Only the row counts
(snapshot footers), the router counters (which also give the review
counts), one bounded run-history query, the review samples and the LLM
verdicts come from Spark; the run rates, z-score anomalies, the four
gates and both reports are computed on the driver from those rows.
Those five tables, and the route stage's LLM verdicts, are committed
from the driver with ``TableCatalog.write_rows``: the parquet catalog
writes each as one Arrow file and runs no Spark job for it.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators import metrics as M
from ..operators.blocking import candidate_pairs
from ..operators.cluster import connected_components
from ..operators.merge import merge_entities, source_lineage
from ..operators.normalize_stage import normalize_pages
from ..operators.router import (
    llm_run_stats,
    llm_validate_sample,
    review_items,
    route_pairs,
    router_metrics,
)
from ..operators.scoring import score_pairs
from ..sources.catalog import ParquetSnapshotCatalog, TableCatalog

STAGES = ("normalize", "block", "score", "route", "cluster", "merge", "observe")
# the table each stage of the resolve chain hands to the next one
STAGE_TABLE = {
    "normalize": "normalized",
    "block": "candidates",
    "score": "scored",
    "route": "routed",
    "cluster": "clusters",
}


def resolve(
    pages: DataFrame,
    cfg: PipelineConfig,
    run_id: str,
    keep,
    caches: list,
    **cc,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """normalize → block → score → route → cluster over web_pages;
    returns (normalized, routed, clusters).

    ``keep(stage, build)`` makes one stage real: ``build()`` returns the
    stage's tables by name, and ``keep`` returns ``STAGE_TABLE[stage]``
    for the next stage (it may skip ``build``: a resumed stage).
    Blocking appends its persisted frames to ``caches`` for the caller
    to release; ``cc`` goes to the connected-components call."""
    normalized = keep("normalize", lambda: {"normalized": normalize_pages(pages)})

    def block():
        pairs, splits = candidate_pairs(normalized, cfg.blocking, caches=caches)
        return {"candidates": pairs, "block_splits": splits}

    candidates = keep("block", block)
    scored = keep(
        "score", lambda: {"scored": score_pairs(candidates, normalized, cfg.scoring)}
    )

    def route():
        routed = route_pairs(scored, cfg.scoring, run_id)
        return {"routed": routed, "reviews": review_items(routed, run_id)}

    routed = keep("route", route)

    def cluster():
        edges = routed.filter(F.col("routed_status") == "approved").select(
            F.col("url_a").alias("src"), F.col("url_b").alias("dst")
        )
        # looked up in this module at call time, so it can be wrapped
        # from outside (erbench collects CC stats that way)
        clusters = connected_components(
            edges,
            all_nodes=normalized.select("url"),
            max_iterations=cfg.cc_max_iterations,
            checkpoint_every=cfg.cc_checkpoint_every,
            **cc,
        )
        return {"clusters": clusters}

    return normalized, routed, keep("cluster", cluster)


@dataclass
class PipelineResult:
    run_id: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    gate_passed: bool = True
    timings: dict[str, float] = field(default_factory=dict)


class RunState:
    """Completed-stage ledger, one JSON file per run under the catalog
    root (atomic replace, same guarantee as the table manifests)."""

    def __init__(self, root: str, run_id: str):
        self.path = os.path.join(root, f"_run_state_{run_id}.json")
        self.run_id = run_id

    def completed(self) -> set[str]:
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as f:
            return set(json.load(f)["completed"])

    def mark(self, stage: str) -> None:
        done = self.completed() | {stage}
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"run_id": self.run_id, "completed": sorted(done)}, f)
        os.replace(tmp, self.path)


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        catalog_root: str,
        config: PipelineConfig = DEFAULT_CONFIG,
        catalog: TableCatalog | None = None,
    ):
        self.spark = spark
        self.cfg = config
        self.catalog = catalog or ParquetSnapshotCatalog(spark, catalog_root)
        self.root = catalog_root

    # stage table names are run-scoped so concurrent runs don't collide
    def _t(self, run_id: str, name: str) -> str:
        return f"run_{run_id}_{name}"

    def run(self, web_pages: DataFrame, run_id: str) -> PipelineResult:
        cat = self.catalog
        state = RunState(self.root, run_id)
        done = state.completed()
        res = PipelineResult(run_id=run_id)

        def run_stage(name: str, fn) -> None:
            if name in done:
                res.stages_skipped.append(name)
                return
            t0 = time.monotonic()
            fn()
            res.timings[name] = time.monotonic() - t0
            state.mark(name)
            res.stages_run.append(name)

        caches: list = []

        def keep(stage: str, build) -> DataFrame:
            def commit():
                for name, df in build().items():
                    cat.write(self._t(run_id, name), df)
                # the snapshots are committed — the blocking caches are
                # dead weight from here on (ADVICE: persist hygiene)
                for c in caches:
                    c.unpersist()
                caches.clear()
                if stage == "route":
                    self._validate_gray_zone(run_id)

            run_stage(stage, commit)
            return cat.read(self._t(run_id, STAGE_TABLE[stage]))

        normalized, routed, clusters = resolve(
            web_pages,
            self.cfg,
            run_id,
            keep,
            caches,
            catalog=cat,
            checkpoint_table=self._t(run_id, "cc_state"),
        )

        # -- merge ------------------------------------------------------------
        def _merge():
            entities = merge_entities(clusters, normalized, routed)
            cat.write(self._t(run_id, "entities"), entities)
            cat.write(self._t(run_id, "source_lineage"), source_lineage(clusters))

        run_stage("merge", _merge)

        # -- observe: metrics, anomalies, gates --------------------------------
        gate_rows: list[tuple] | None = None

        def _observe():
            nonlocal gate_rows
            # metrics derive from the COMMITTED snapshots (not in-flight
            # DataFrames) so a resumed run reports complete metrics.
            # Stage row counts come from SNAPSHOT FILE METADATA
            # (catalog.file_row_counts — parquet/Iceberg footers): at
            # 100 TB, re-scanning five stage outputs purely for counts
            # would double the pipeline's read I/O; footers cost O(files)
            # KB-reads and each write-side file is one task's output, so
            # the per-file counts ARE the skew profile (VERDICT r3
            # observe consolidation).
            stage_tables = [
                ("normalize", "normalized"),
                ("block", "candidates"),
                ("score", "scored"),
                ("cluster", "clusters"),
                ("merge", "entities"),
            ]
            # finished_seq is a wall-clock-derived monotone sequence so
            # anomaly detection can order run history (the reference
            # orders by finished_at, anomaly_detector.py:44-57)
            seq_base = int(time.time() * 1000)
            local_rows: list[tuple] = []
            for i, (stage, tbl) in enumerate(stage_tables):
                local_rows += M.stage_metrics_rows(
                    cat.file_row_counts(self._t(run_id, tbl)), run_id, stage, seq_base + i
                )
            # router counters: ONE aggregation job over the routed
            # snapshot, collected once (5 rows) and reused for the
            # metrics write, the rates and the quality report below
            router_rows = [
                tuple(r)
                for r in router_metrics(
                    cat.read(self._t(run_id, "routed")), run_id, seq_base + 5
                ).collect()
            ]
            # run history for the anomaly BASELINE, read BEFORE this
            # run's rows are appended: one bounded job returns the
            # lookback window of past runs; this run joins it from the
            # rows above (keeping its earlier finished_seq on a resume)
            history = self._rate_history(run_id, self.cfg.anomaly.lookback_runs + 1)
            counters = {r[2]: r[3] for r in router_rows}
            rates = M.run_rates(counters)
            first_seq = min([fs for rid, fs, _ in history if rid == run_id] + [seq_base])
            runs = [h for h in history if h[0] != run_id] + [(run_id, first_seq, rates)]

            cat.write_rows(
                "run_metrics", local_rows + router_rows, M.RUN_METRICS_SCHEMA, mode="append"
            )

            # ≤ 3 rows by construction (one per tracked rate); the event
            # write, triage report, HIGH-severity gate, and quality
            # report all feed from these rows
            anoms_rows = M.anomaly_rows(runs, run_id, self.cfg.anomaly)
            cat.write_rows(
                "anomaly_events", anoms_rows, M.ANOMALY_EVENTS_SCHEMA, mode="append"
            )
            # reviews_query's order: ties on score break by url, so the
            # report does not depend on partitioning
            samples = (
                cat.read(self._t(run_id, "reviews"))
                .orderBy(F.desc("matcher_score"), "url_a", "url_b")
                .limit(20)
                .collect()
            )
            report = M.triage_report_rows(anoms_rows, samples, run_id)
            cat.write_rows(
                "anomaly_triage_reports",
                [
                    (
                        run_id,
                        report["max_severity"],
                        report["n_anomalies"],
                        report["report"],
                    )
                ],
                M.TRIAGE_REPORTS_SCHEMA,
                mode="append",
            )
            # the max_llm_error_rate gate is fed from the COMMITTED
            # validation verdicts (None when the hook never ran — the
            # gate then passes at 0.0, the reference's zero-call
            # branch).  The bounded sample (≤ max_llm_calls_per_run
            # rows) makes the driver-side stats derivation O(KB).
            llm_stats = None
            llm_tbl = self._t(run_id, "llm_validations")
            if cat.exists(llm_tbl):
                llm_stats = llm_run_stats(
                    [r.asDict() for r in cat.read(llm_tbl).collect()]
                )
            gate_rows = M.quality_gate_rows(
                run_id,
                rates,
                self.cfg.gates,
                high_anomaly_count=sum(1 for a in anoms_rows if a.severity == "HIGH"),
                llm_stats=llm_stats,
            )
            cat.write_rows(
                "quality_gate_results", gate_rows, M.QUALITY_GATE_RESULTS_SCHEMA, mode="append"
            )

            # O4: the combined quality report (reference
            # qa/quality_report.py:9-55 shape) as one run snapshot row,
            # assembled from the rows already on the driver.  Review
            # counts by status come from the router counters:
            # review_items writes exactly the gray rows, all PENDING.
            # (a null counter is an empty routed table: no reviews)
            n_gray = int(counters["gray_zone"] or 0)
            qr = {
                "run_id": run_id,
                "metrics": [
                    {"stage": r[1], "metric": r[2], "value": r[3]}
                    for r in local_rows + router_rows
                    if r[4] is None
                ],
                "anomalies": [
                    {k: v for k, v in a.asDict().items() if k != "run_id"}
                    for a in anoms_rows
                ],
                "review_counts": {"PENDING": n_gray} if n_gray else {},
            }
            cat.write_rows(
                "quality_reports",
                [(run_id, json.dumps(qr, default=str))],
                M.QUALITY_REPORTS_SCHEMA,
                mode="append",
            )

        run_stage("observe", _observe)

        if gate_rows is not None:
            res.gate_passed = all(g[4] for g in gate_rows)
        elif cat.exists("quality_gate_results"):
            # observe committed in an earlier call: read its verdicts back
            failed = (
                cat.read("quality_gate_results")
                .filter((F.col("run_id") == run_id) & (~F.col("passed")))
                .count()
            )
            res.gate_passed = failed == 0
        return res

    def _validate_gray_zone(self, run_id: str) -> None:
        """Optional LLM validation of the committed gray zone (reference
        validation/router.py:97-256): bounded sample, budget + circuit
        breaker inside ``llm_validate_sample``.  Verdicts are committed
        as a snapshot for observe's gate; they never change routing."""
        if not (self.cfg.scoring.llm_enabled and self.cfg.llm_transport is not None):
            return
        results = llm_validate_sample(
            self.table(run_id, "routed"),
            self.cfg.scoring,
            transport=self.cfg.llm_transport,
        )
        rows = [
            (
                run_id,
                r.get("url_a"),
                r.get("url_b"),
                r.get("decision") or r.get("status"),
                float(r["confidence"]) if r.get("confidence") is not None else None,
                list(r.get("reasons") or []),
                list(r.get("risk_flags") or []),
                r.get("error"),
            )
            for r in results
        ]
        self.catalog.write_rows(
            self._t(run_id, "llm_validations"),
            rows,
            "run_id string, url_a string, url_b string, "
            "decision string, confidence double, "
            "reasons array<string>, risk_flags array<string>, "
            "error string",
        )

    def _rate_history(self, run_id: str, n_runs: int) -> list[tuple[str, int, dict]]:
        """(run_id, finished_seq, rates) from ``run_metrics`` for the
        ``n_runs`` most recent runs that logged router counters, plus
        ``run_id`` itself when it logged before (a resume): one bounded
        job.  finished_seq is a run's first logged sequence."""
        if not self.catalog.exists("run_metrics"):
            return []
        counter = (F.col("stage") == "router") & F.col("metric").isin(
            *M.RATE_COUNTERS
        )
        this_run = F.col("run_id") == run_id
        rows = (
            self.catalog.read("run_metrics")
            .groupBy("run_id")
            .agg(
                F.min("finished_seq").alias("fs"),
                F.count(F.when(counter, 1)).alias("n_counters"),
                *[
                    F.max(F.when(counter & (F.col("metric") == m), F.col("value"))).alias(m)
                    for m in M.RATE_COUNTERS
                ],
            )
            .filter((F.col("n_counters") > 0) | this_run)
            .orderBy(this_run.desc(), F.desc("fs"), F.desc("run_id"))
            .limit(n_runs + 1)
            .collect()
        )
        return [(r.run_id, int(r.fs), M.run_rates(r.asDict())) for r in rows]

    # convenience accessors -------------------------------------------------
    def table(self, run_id: str, name: str) -> DataFrame:
        return self.catalog.read(self._t(run_id, name))
