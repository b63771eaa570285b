"""End-to-end pipeline: pairwise F1 ≥ 0.99 on the planted corpus, stage
checkpointing, and resume-from-kill (north_rule requirements)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from entity_resolution_engine_spark.operators.evaluate import pairwise_f1
from entity_resolution_engine_spark.plans.pipeline import Pipeline, RunState, STAGES


@pytest.fixture(scope="module")
def run_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("pipe"))


@pytest.fixture(scope="module")
def finished(spark, synth_corpus, run_root):
    pages, labels = synth_corpus
    pipe = Pipeline(spark, run_root)
    res = pipe.run(pages, run_id="e2e")
    return pipe, res, labels


def test_all_stages_run_and_gate(finished):
    pipe, res, _ = finished
    assert res.stages_run == list(STAGES)
    assert res.stages_skipped == []
    assert res.gate_passed


def test_pairwise_f1_target(finished):
    pipe, _, labels = finished
    clusters = pipe.table("e2e", "clusters")
    m = pairwise_f1(clusters, labels)
    assert m["f1"] >= 0.99, m


def test_entities_consistent(finished):
    pipe, _, _ = finished
    entities = pipe.table("e2e", "entities")
    clusters = pipe.table("e2e", "clusters")
    assert entities.count() == clusters.select("cluster_id").distinct().count()
    assert entities.filter(F.col("ues_entity_id").isNull()).count() == 0
    # member counts add back up to the page count
    total = entities.agg(F.sum("member_count")).collect()[0][0]
    assert total == clusters.count()
    lineage = pipe.table("e2e", "source_lineage")
    assert lineage.count() == clusters.count()


def test_observability_tables(finished):
    pipe, _, _ = finished
    metrics = pipe.catalog.read("run_metrics").filter(F.col("run_id") == "e2e")
    stages_seen = {r.stage for r in metrics.select("stage").distinct().collect()}
    assert {"normalize", "block", "score", "cluster", "merge", "router"} <= stages_seen
    gates = pipe.catalog.read("quality_gate_results").filter(F.col("run_id") == "e2e")
    assert gates.count() >= 3
    triage = pipe.catalog.read("anomaly_triage_reports").filter(
        F.col("run_id") == "e2e"
    )
    assert triage.count() == 1
    assert "Triage report" in triage.collect()[0].report


def test_footer_metrics_match_snapshot_counts(finished):
    """Stage row_count metrics now come from parquet footers (no data
    scan) — they must equal the actual snapshot counts, and the
    per-partition (per-file) rows must sum to the total."""
    pipe, _, _ = finished
    metrics = (
        pipe.catalog.read("run_metrics").filter(F.col("run_id") == "e2e").collect()
    )
    for stage, tbl in [("normalize", "normalized"), ("cluster", "clusters")]:
        total = [
            r.value
            for r in metrics
            if r.stage == stage and r.metric == "row_count"
        ]
        assert len(total) == 1
        assert total[0] == pipe.table("e2e", tbl).count()
        per_part = sum(
            r.value
            for r in metrics
            if r.stage == stage and r.metric == "partition_row_count"
        )
        assert per_part == total[0]


def test_rerun_skips_everything(finished, synth_corpus):
    pipe, _, _ = finished
    pages, _ = synth_corpus
    res2 = pipe.run(pages, run_id="e2e")
    assert res2.stages_run == []
    assert res2.stages_skipped == list(STAGES)


@pytest.mark.parametrize("killed_after", STAGES[:5])
def test_resume_after_simulated_kill(synth_corpus, run_root, finished, killed_after):
    """Kill after each stage of the resolve chain: the later stages must
    run on resume and produce the same clusters as the uninterrupted run."""
    pipe, _, _ = finished
    pages, _ = synth_corpus
    committed = list(STAGES[: STAGES.index(killed_after) + 1])
    # simulate a crash: the state file lists only the committed stages
    state = RunState(run_root, "e2e")
    with open(state.path, "w") as f:
        json.dump({"run_id": "e2e", "completed": committed}, f)
    res = pipe.run(pages, run_id="e2e")
    assert res.stages_skipped == committed
    assert res.stages_run == list(STAGES[len(committed):])
    table = pipe._t("e2e", "clusters")
    # the table's first snapshot is the uninterrupted run's: a resume
    # overwrites it but the manifest keeps it
    fresh_id = pipe.catalog.snapshots(table)[0]["id"]
    fresh = pipe.catalog.read_snapshot(table, fresh_id).collect()
    resumed = pipe.catalog.read(table).collect()
    assert len(fresh) == pages.count()
    assert sorted(map(tuple, resumed)) == sorted(map(tuple, fresh))


def test_flagship_matches_pipeline(spark, synth_corpus, tmp_path_factory):
    """The flagship and the pipeline run one resolve chain: on the same
    documents they put every url in the same cluster."""
    from pyspark.sql import Window

    from entity_resolution_engine_spark.plans.flagship import (
        documents_as_pages,
        resolve_documents,
    )

    pages, _ = synth_corpus
    docs = pages.select(
        F.row_number().over(Window.orderBy("url")).cast("long").alias("doc_id"),
        "text",
        "lang",
        F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("source"),
        F.length("text").alias("n_chars"),
    )
    flagship = resolve_documents(spark, docs).select("url", "cluster_id").collect()
    pipe = Pipeline(spark, str(tmp_path_factory.mktemp("agree")))
    pipe.run(documents_as_pages(docs), run_id="agree")
    pipeline = pipe.table("agree", "clusters").select("url", "cluster_id").collect()
    assert len(flagship) == pages.count()
    assert sorted(map(tuple, flagship)) == sorted(map(tuple, pipeline))


def test_review_mode_pipeline(spark, synth_corpus, tmp_path_factory):
    """fallback_mode='review': gray pairs become PENDING review items and
    do NOT merge — clusters use only auto-approved edges."""
    from dataclasses import replace

    from entity_resolution_engine_spark.config import DEFAULT_CONFIG

    pages, labels = synth_corpus
    # threshold_high 0.99 puts pairs in the gray zone: at the default
    # threshold this corpus has none, and there would be no review rows
    cfg = replace(
        DEFAULT_CONFIG,
        scoring=replace(
            DEFAULT_CONFIG.scoring, fallback_mode="review", threshold_high=0.99
        ),
    )
    pipe = Pipeline(spark, str(tmp_path_factory.mktemp("review")), config=cfg)
    res = pipe.run(pages, run_id="rv")
    assert res.stages_run == list(STAGES)
    routed = pipe.table("rv", "routed")
    n_gray = routed.filter(F.col("decision") == "gray").count()
    assert n_gray > 0
    n_pending = routed.filter(F.col("routed_status") == "pending").count()
    assert n_gray == n_pending
    reviews = pipe.table("rv", "reviews")
    assert reviews.count() == n_gray
    # observe takes the review counts from the router's gray counter
    report = json.loads(
        pipe.catalog.read("quality_reports").filter(F.col("run_id") == "rv").first().report_json
    )
    assert report["review_counts"] == {"PENDING": reviews.count()}
    # precision must not drop below auto-approve mode (fewer edges only)
    m = pairwise_f1(pipe.table("rv", "clusters"), labels)
    assert m["precision"] >= 0.99


def test_triage_samples_ignore_partitioning(spark, tmp_path_factory):
    """30 gray pairs tied at one score, more than the report's top 20:
    the triage report picks the same pairs, by url, whether the
    committed reviews were written from 1 or 7 shuffle partitions."""
    from entity_resolution_engine_spark.operators.router import review_items

    routed_rows = [
        (f"https://a.org/{i:02d}", f"https://b.org/{i:02d}", 0.5, "gray")
        for i in range(30)
    ] + [("https://a.org/x", "https://b.org/x", 0.9, "approved")]
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    reports = []
    try:
        for n in (1, 7):
            spark.conf.set(key, str(n))
            pipe = Pipeline(spark, str(tmp_path_factory.mktemp(f"triage{n}")))
            routed = spark.createDataFrame(
                routed_rows, "url_a string, url_b string, score double, decision string"
            ).select(
                "*",
                *[F.lit(0.5).alias(c) for c in (
                    "jaro_winkler", "token_jaccard", "levenshtein_sim", "length_ratio"
                )],
                F.lit(None).cast("string").alias("conflicts"),
            ).repartition(n, "url_b")
            for name in ("normalized", "candidates", "scored", "clusters", "entities"):
                pipe.catalog.write(pipe._t("t", name), routed.select("url_a"))
            pipe.catalog.write(pipe._t("t", "routed"), routed)
            pipe.catalog.write(pipe._t("t", "reviews"), review_items(routed, "t"))
            state = RunState(pipe.root, "t")
            for stage in STAGES[:-1]:
                state.mark(stage)
            # every stage before observe is committed: no input is read
            assert pipe.run(None, run_id="t").stages_run == ["observe"]
            reports.append(
                pipe.catalog.read("anomaly_triage_reports").first().report
            )
    finally:
        spark.conf.set(key, prev)
    assert reports[0] == reports[1]
    assert "https://a.org/19 ~ https://b.org/19" in reports[0]
    assert "https://a.org/20" not in reports[0]


def test_quality_report_table(finished):
    """O4: the combined quality report (reference qa/quality_report.py:
    9-55 shape) is persisted per run with metrics + anomalies +
    review_counts sections."""
    pipe, _, _ = finished
    reports = pipe.catalog.read("quality_reports").filter(F.col("run_id") == "e2e")
    # the resume test re-runs observe for this run_id (append mode), so
    # one report row per observe execution
    assert reports.count() >= 1
    payload = json.loads(reports.collect()[0].report_json)
    assert payload["run_id"] == "e2e"
    assert {m["stage"] for m in payload["metrics"]} >= {
        "normalize", "block", "score", "cluster", "merge", "router"
    }
    assert isinstance(payload["anomalies"], list)
    assert isinstance(payload["review_counts"], dict)


def test_reviews_query_filters_and_pushdown(spark, tmp_path_factory):
    """P6: dynamic review-queue filters (reference api/main.py:112-157)
    + the score/status predicates must reach the parquet scan."""
    from entity_resolution_engine_spark.operators.router import reviews_query

    root = tmp_path_factory.mktemp("reviews")
    rows = [
        ("r1", f"https://a.org/{i}", f"https://b.org/{i}",
         0.45 + i * 0.01, "PENDING" if i % 2 else "RESOLVED", "{}")
        for i in range(20)
    ]
    path = str(root / "reviews.parquet")
    spark.createDataFrame(
        rows, ["run_id", "url_a", "url_b", "matcher_score", "status", "signals"]
    ).write.mode("overwrite").parquet(path)
    reviews = spark.read.parquet(path)

    # qualifying rows: odd i with 0.5 <= 0.45+0.01i <= 0.6 → i in
    # {5,7,9,11,13,15} = 6 rows; offset 2 + limit 3 → 3 rows
    got = reviews_query(
        reviews, status="PENDING", run_id="r1", min_score=0.5, max_score=0.6,
        limit=3, offset=2,
    )
    rows_out = got.collect()
    assert len(rows_out) == 3
    scores = [r.matcher_score for r in rows_out]
    assert scores == sorted(scores, reverse=True)
    assert all(r.status == "PENDING" and 0.5 <= r.matcher_score <= 0.6 for r in rows_out)

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "matcher_score" in pushed and "status" in pushed, pushed


def test_llm_hook_wired_through_pipeline(spark, synth_corpus, tmp_path_factory):
    """VERDICT r3 item 4: the Pipeline itself invokes the LLM hook when
    scoring.llm_enabled + a transport is configured — budget respected,
    verdicts committed as a snapshot, review-shaped REVIEW verdicts
    present, and the max_llm_error_rate gate fed by REAL run stats
    (reference cli/run_mapping.py:57-58 + validation/router.py:97-256)."""
    import json as _json
    from dataclasses import replace

    from entity_resolution_engine_spark.config import DEFAULT_CONFIG

    pages, _ = synth_corpus

    calls = {"n": 0}

    def transport(system_prompt, user_prompt):
        calls["n"] += 1
        req = _json.loads(user_prompt.removeprefix(
            "Return valid JSON only. Do not include commentary or markdown.\n\n"
        ))
        # deterministic mixed behavior keyed on the pair: mostly MATCH,
        # every 5th a REVIEW verdict
        k = hash((req["left"]["url"], req["right"]["url"])) % 5
        decision = "REVIEW" if k == 0 else "MATCH"
        return _json.dumps(
            {"decision": decision, "confidence": 0.9, "reasons": ["t"],
             "risk_flags": []}
        )

    cfg = replace(
        DEFAULT_CONFIG,
        scoring=replace(
            DEFAULT_CONFIG.scoring,
            llm_enabled=True,
            max_llm_calls_per_run=7,
            fallback_mode="review",
            # push clone scores (~0.95) into the gray zone so the
            # sample is non-empty on the 600-row corpus
            threshold_high=0.99,
        ),
        llm_transport=transport,
    )
    pipe = Pipeline(spark, str(tmp_path_factory.mktemp("llm")), config=cfg)
    res = pipe.run(pages, run_id="llm1")
    assert res.stages_run == list(STAGES)
    # (overall gate_passed is False here by design: threshold_high=0.99
    # floods the gray zone past max_gray_zone_rate — the assertion that
    # matters is the LLM gate below, fed by real stats at rate 0.0)

    validations = pipe.table("llm1", "llm_validations")
    n_gray = pipe.table("llm1", "routed").filter(F.col("decision") == "gray").count()
    n_val = validations.count()
    assert 1 <= n_val <= 7  # budget respected
    assert calls["n"] == n_val  # one transport call per committed verdict
    assert n_val == min(7, n_gray)
    decisions = {r.decision for r in validations.collect()}
    assert decisions <= {"MATCH", "NO_MATCH", "REVIEW"}
    gates = pipe.catalog.read("quality_gate_results").filter(
        (F.col("run_id") == "llm1") & (F.col("gate") == "max_llm_error_rate")
    ).collect()
    assert len(gates) == 1 and gates[0].passed and gates[0].value == 0.0


def test_llm_error_rate_fails_gate(spark, synth_corpus, tmp_path_factory):
    """An erroring transport must surface as llm_error verdicts, feed a
    REAL llm_error_rate into the 4th gate, and fail the run (ADVICE r3:
    the gate was previously hardcoded 0.0/pass at the call site)."""
    from dataclasses import replace

    from entity_resolution_engine_spark.config import DEFAULT_CONFIG

    pages, _ = synth_corpus

    def bad_transport(system_prompt, user_prompt):
        raise RuntimeError("transport down")

    cfg = replace(
        DEFAULT_CONFIG,
        scoring=replace(
            DEFAULT_CONFIG.scoring,
            llm_enabled=True,
            max_llm_calls_per_run=5,
            fallback_mode="review",
            threshold_high=0.99,
        ),
        llm_transport=bad_transport,
    )
    pipe = Pipeline(spark, str(tmp_path_factory.mktemp("llmbad")), config=cfg)
    res = pipe.run(pages, run_id="llm2")
    assert not res.gate_passed
    gates = {
        r.gate: r
        for r in pipe.catalog.read("quality_gate_results")
        .filter(F.col("run_id") == "llm2")
        .collect()
    }
    g = gates["max_llm_error_rate"]
    assert g.value == 1.0 and not g.passed
    # every verdict degraded to an error row
    vals = pipe.table("llm2", "llm_validations").collect()
    assert vals and all(r.error is not None for r in vals)


_OBSERVE_TABLES = (
    "run_metrics",
    "anomaly_events",
    "anomaly_triage_reports",
    "quality_gate_results",
    "quality_reports",
)


def test_observe_commits_through_write_rows(spark, tmp_path_factory):
    """Observe commits its five run tables with ``write_rows``, not as
    Spark frames: a catalog whose ``write`` refuses them still completes
    a fresh run and a resume of cluster, merge and observe, and each
    table holds one snapshot per observe."""
    from entity_resolution_engine_spark.sources.catalog import ParquetSnapshotCatalog
    from entity_resolution_engine_spark.sources.synth import generate_web_pages

    class RowsOnlyForObserve(ParquetSnapshotCatalog):
        def write(self, name, df, mode="overwrite"):
            if name in _OBSERVE_TABLES:
                raise AssertionError(f"{name} committed through write")
            super().write(name, df, mode)

    root = str(tmp_path_factory.mktemp("rows"))
    pipe = Pipeline(spark, root, catalog=RowsOnlyForObserve(spark, root))
    pages, _ = generate_web_pages(spark, 120, seed=3)
    assert pipe.run(pages, run_id="w").stages_run == list(STAGES)
    state = RunState(root, "w")
    with open(state.path, "w") as f:
        json.dump({"run_id": "w", "completed": list(STAGES[:4])}, f)
    resumed = pipe.run(pages, run_id="w")
    assert resumed.stages_run == ["cluster", "merge", "observe"]
    assert resumed.gate_passed
    for t in _OBSERVE_TABLES:
        assert len(pipe.catalog.snapshots(t)) == 2, t
    reports = pipe.catalog.read("quality_reports").collect()
    assert [r.run_id for r in reports] == ["w", "w"]
    assert reports[0].report_json == reports[1].report_json


# anomaly_events and quality_gate_results of the 4-run history below, as
# the DataFrame implementation of observe wrote them
_GOLDEN_ANOMALIES = [
    ("h2", "approval_rate", 0.35789473684210527, 0.8976190476190476,
     0.09091372900969896, -5.936664535225069, "HIGH"),
    ("h2", "gray_zone_rate", 0.6421052631578947, 0.10238095238095238,
     0.09091372900969896, 5.936664535225069, "HIGH"),
    ("h3", "approval_rate", 0.024096385542168676, 0.7177109440267335,
     0.3181720136589216, -2.1799986444694515, "MEDIUM"),
    ("h3", "gray_zone_rate", 0.9759036144578314, 0.2822890559732665,
     0.31817201365892156, 2.179998644469452, "MEDIUM"),
]
_GOLDEN_GATES = [
    ("h0", "max_gray_zone_rate", 0.0380952380952381, 0.35, True),
    ("h0", "max_llm_error_rate", 0.0, 0.05, True),
    ("h0", "max_review_rate", 0.0380952380952381, 0.15, True),
    ("h0", "no_high_severity_anomalies", 0.0, 0.0, True),
    ("h1", "max_gray_zone_rate", 0.16666666666666666, 0.35, True),
    ("h1", "max_llm_error_rate", 0.0, 0.05, True),
    ("h1", "max_review_rate", 0.16666666666666666, 0.15, False),
    ("h1", "no_high_severity_anomalies", 0.0, 0.0, True),
    ("h2", "max_gray_zone_rate", 0.6421052631578947, 0.35, False),
    ("h2", "max_llm_error_rate", 0.0, 0.05, True),
    ("h2", "max_review_rate", 0.6421052631578947, 0.15, False),
    ("h2", "no_high_severity_anomalies", 2.0, 0.0, False),
    ("h3", "max_gray_zone_rate", 0.9759036144578314, 0.35, False),
    ("h3", "max_llm_error_rate", 0.0, 0.05, True),
    ("h3", "max_review_rate", 0.9759036144578314, 0.15, False),
    ("h3", "no_high_severity_anomalies", 0.0, 0.0, True),
]


def _same_rows(got, want):
    assert len(got) == len(want), got
    for g, w in zip(got, want):
        assert len(g) == len(w)
        for a, b in zip(g, w):
            if isinstance(b, float):
                assert abs(a - b) <= 1e-12, (g, w)
            else:
                assert a == b, (g, w)


def test_observe_golden_history(spark, tmp_path_factory):
    """Four runs into one catalog, each raising threshold_high so the
    gray-zone rate climbs: run h2 is a HIGH outlier against two baseline
    runs and h3 a MEDIUM one against three.  The anomaly events, the
    gate rows and each run's gate verdict match the golden rows."""
    from dataclasses import replace

    from entity_resolution_engine_spark.config import DEFAULT_CONFIG
    from entity_resolution_engine_spark.sources.synth import generate_web_pages

    root = str(tmp_path_factory.mktemp("history"))
    for i, th in enumerate([0.9, 0.93, 0.96, 0.99]):
        cfg = replace(
            DEFAULT_CONFIG, scoring=replace(DEFAULT_CONFIG.scoring, threshold_high=th)
        )
        pages, _ = generate_web_pages(spark, 120, seed=i + 1)
        res = Pipeline(spark, root, config=cfg).run(pages, run_id=f"h{i}")
        want_passed = all(g[4] for g in _GOLDEN_GATES if g[0] == f"h{i}")
        assert res.gate_passed == want_passed
    cat = Pipeline(spark, root).catalog
    _same_rows(
        sorted(tuple(r) for r in cat.read("anomaly_events").collect()), _GOLDEN_ANOMALIES
    )
    _same_rows(
        sorted(tuple(r) for r in cat.read("quality_gate_results").collect()), _GOLDEN_GATES
    )
