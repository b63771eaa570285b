"""Observability: run rates, z-score anomaly detection, quality gates
(reference monitoring/anomaly_detector.py + qa/quality_gates.py analog),
and the Arrow local frames the observe tables are written from."""

from __future__ import annotations

from pyspark.sql import Row

from entity_resolution_engine_spark.config import AnomalyConfig, QualityGateConfig
from entity_resolution_engine_spark.operators.metrics import (
    RUN_METRICS_SCHEMA,
    anomaly_rows,
    quality_gate_rows,
    run_rates,
    stage_metrics_rows,
    triage_report_rows,
)
from entity_resolution_engine_spark.session import local_frame


def _router_counters(total, approved, rejected, gray):
    return {
        "total_pairs": float(total),
        "auto_approved": float(approved),
        "auto_rejected": float(rejected),
        "gray_zone": float(gray),
    }


def _history(gray_rates, current_gray):
    """(run_id, finished_seq, rates) per run: baseline runs in order,
    then the current run last."""
    runs = [
        (f"run{i}", i, run_rates(_router_counters(100, 100 - g, 0, g)))
        for i, g in enumerate(gray_rates)
    ]
    runs.append(
        (
            "current",
            len(gray_rates),
            run_rates(_router_counters(100, 100 - current_gray, 0, current_gray)),
        )
    )
    return runs


def test_stage_metrics_shapes():
    rows = stage_metrics_rows([40, 0, 60], "r", "stage1", 7)
    fields = [f.split()[0] for f in RUN_METRICS_SCHEMA.split(", ")]
    assert all(len(r) == len(fields) for r in rows)
    cols = [dict(zip(fields, r)) for r in rows]
    assert {(c["run_id"], c["stage"], c["finished_seq"]) for c in cols} == {("r", "stage1", 7)}
    total = [c for c in cols if c["metric"] == "row_count"]
    parts = [c for c in cols if c["metric"] == "partition_row_count"]
    assert all(isinstance(c["value"], float) for c in cols)
    assert len(total) == 1 and total[0]["value"] == 100.0
    assert total[0]["partition_id"] is None
    assert [c["partition_id"] for c in parts] == [0, 1, 2]
    assert sum(c["value"] for c in parts) == total[0]["value"]


def test_derive_run_rates():
    r = run_rates(_router_counters(200, 120, 60, 20))
    assert abs(r["gray_zone_rate"] - 0.1) < 1e-12
    assert abs(r["approval_rate"] - 0.6) < 1e-12
    assert abs(r["rejection_rate"] - 0.3) < 1e-12


def test_anomaly_detected_on_spike():
    # baseline gray ≈ 10±1, current = 40 → huge z
    anomalies = anomaly_rows(_history([9, 10, 11, 10, 9, 11], 40), "current", AnomalyConfig())
    got = {r.metric: r for r in anomalies}
    assert "gray_zone_rate" in got
    assert got["gray_zone_rate"].severity == "HIGH"


def test_no_anomaly_without_baseline():
    h = _history([10], 40)  # only 1 baseline run < min_baseline_runs
    assert anomaly_rows(h, "current", AnomalyConfig()) == []


def test_anomaly_window_and_constant_baseline():
    # only the lookback window is the baseline: with 2 baseline runs the
    # spike at run0 falls out and leaves (7, 7) — stddev 0, no z-score;
    # with 3 it is back in and the current run is a HIGH outlier
    h = _history([40, 7, 7], 90)
    assert anomaly_rows(h, "current", AnomalyConfig(lookback_runs=2)) == []
    got = {r.metric: r for r in anomaly_rows(h, "current", AnomalyConfig(lookback_runs=3))}
    assert abs(got["gray_zone_rate"].baseline_mean - 0.18) < 1e-12
    assert got["gray_zone_rate"].severity == "HIGH"
    # 0.1 is not exact in binary: a naive mean/stddev of (0.1, 0.1, 0.1)
    # leaves a ~1e-17 stddev that would turn any change into a HIGH
    assert anomaly_rows(_history([10, 10, 10], 11), "current", AnomalyConfig()) == []


def test_quality_gates_pass_and_fail():
    rates = run_rates(_router_counters(100, 60, 0, 40))  # gray rate 0.4
    gates = {g[1]: g for g in quality_gate_rows("r1", rates, QualityGateConfig(), 0)}
    assert gates["max_gray_zone_rate"][4] is False  # 0.4 > 0.35
    assert gates["no_high_severity_anomalies"][4] is True

    rates2 = run_rates(_router_counters(100, 95, 0, 5))
    gates2 = {g[1]: g for g in quality_gate_rows("r2", rates2, QualityGateConfig(), 0)}
    assert gates2["max_gray_zone_rate"][4] is True
    assert gates2["max_review_rate"][4] is True


def test_triage_report_fallback():
    anomalies = anomaly_rows(_history([9, 10, 11, 10, 9, 11], 40), "current", AnomalyConfig())
    # the observe stage's review query returns samples by score, descending
    samples = [
        Row(url_a="a2", url_b="b2", matcher_score=0.61),
        Row(url_a="a1", url_b="b1", matcher_score=0.55),
    ]
    rep = triage_report_rows(anomalies, samples, "current")
    assert rep["max_severity"] == "HIGH"
    assert rep["n_review_samples"] == 2
    assert "gray_zone_rate" in rep["report"]
    assert rep["report"].index("a2 ~ b2") < rep["report"].index("a1 ~ b1")


def test_triage_report_no_anomalies():
    rep = triage_report_rows([], [], "r9")
    assert rep["max_severity"] == "NONE" and rep["n_anomalies"] == 0
    assert "No anomalies" in rep["report"]


def test_quality_gates_four_rows_with_llm_gate():
    # reference quality_gates.yml has FOUR gates; max_llm_error_rate
    # evaluates llm_errors/llm_calls (0.0 when the LLM never ran)
    rates = run_rates(_router_counters(100, 95, 0, 5))
    gates = {g[1]: g for g in quality_gate_rows("r3", rates, QualityGateConfig(), 0)}
    assert len(gates) == 4
    assert gates["max_llm_error_rate"][4] is True
    assert gates["max_llm_error_rate"][2] == 0.0

    failing = {
        g[1]: g
        for g in quality_gate_rows(
            "r3", rates, QualityGateConfig(), 0, llm_stats={"llm_error_rate": 0.5}
        )
    }
    assert failing["max_llm_error_rate"][4] is False  # 0.5 > 0.05
    assert failing["max_llm_error_rate"][2] == 0.5


def test_high_anomaly_gate():
    rates = run_rates(_router_counters(100, 95, 0, 5))
    gates = {g[1]: g for g in quality_gate_rows("r4", rates, QualityGateConfig(), 2)}
    assert gates["no_high_severity_anomalies"][2:] == (2.0, 0.0, False)
    lenient = QualityGateConfig(fail_on_high_severity_anomalies=False)
    gates = {g[1]: g for g in quality_gate_rows("r4", rates, lenient, 2)}
    assert gates["no_high_severity_anomalies"][4] is True


def test_local_frame_keeps_nulls(spark):
    """Arrow local frames: None in int, bigint and double columns reads
    back as null (never NaN), and the plan is a LocalRelation."""
    schema = "name string, i int, l bigint, d double, ok boolean, tags array<string>"
    rows = [
        ("a", 1, 2**40, 0.5, True, ["x"]),
        ("b", None, None, None, None, None),
        (None, 3, 4, float("inf"), False, []),
    ]
    df = local_frame(spark, rows, schema)
    assert df.schema.simpleString() == (
        "struct<name:string,i:int,l:bigint,d:double,ok:boolean,tags:array<string>>"
    )
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    assert [tuple(r) for r in df.collect()] == rows
    assert df.filter("d is null").count() == 1
    assert df.filter("isnan(d)").count() == 0
    assert local_frame(spark, [], schema).count() == 0
