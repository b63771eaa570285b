"""Observability: per-stage/per-partition run metrics, z-score anomaly
detection over run history, and quality gates.

Re-expresses the reference's observability tables and logic
(/root/reference/entity_resolution_engine/db/ues_schema.sql:76-123;
monitoring/anomaly_detector.py:19-130; qa/quality_gates.py:53-127).
Everything past the stage row counts works on a few rows per run, so it
runs on the driver over rows the pipeline's observe stage already holds
or fetches in one bounded job — a DataFrame plan per table cost a
Spark job (and its fixed latency) per few rows:

- stage metrics include per-partition row counts, built on the driver
  from snapshot file metadata (``stage_metrics_rows`` over
  ``TableCatalog.file_row_counts``) with no data scan — the
  north_rule's per-partition lineage/metrics, and the skew diagnostic
  the blocking stage reads back.
- anomaly detection = current run's rates vs mean/stddev_samp of the
  trailing ≤ lookback runs (SURVEY.md §2.5 W2/W3), z ≥ 2 → MEDIUM,
  ≥ 3 → HIGH.
- quality gates = rate bounds, one row per gate (reference
  quality_gates.yml:1-4 semantics).
"""

from __future__ import annotations

import statistics

from pyspark.sql import Row

from ..config import AnomalyConfig, QualityGateConfig


RUN_METRICS_SCHEMA = (
    "run_id string, stage string, metric string, value double, "
    "partition_id int, finished_seq bigint"
)


def stage_metrics_rows(
    counts: list[int], run_id: str, stage: str, seq: int
) -> list[tuple]:
    """One stage's ``run_metrics`` rows from per-FILE row counts
    (``TableCatalog.file_row_counts`` — parquet/Iceberg footers): the
    ``row_count`` total (null ``partition_id``), then one
    ``partition_row_count`` row per file, ``partition_id`` = the file's
    ordinal.  Each file is one write task's output, so the rows are the
    stage's output-skew profile at zero scan cost.
    ``RUN_METRICS_SCHEMA`` is the matching ``TableCatalog.write_rows``
    schema."""
    rows: list[tuple] = [(run_id, stage, "row_count", float(sum(counts)), None, seq)]
    rows += [
        (run_id, stage, "partition_row_count", float(c), i, seq)
        for i, c in enumerate(counts)
    ]
    return rows


RATE_COUNTERS = ("total_pairs", "auto_approved", "auto_rejected", "gray_zone")
RATES = ("gray_zone_rate", "approval_rate", "rejection_rate")

ANOMALY_EVENTS_SCHEMA = (
    "run_id string, metric string, value double, baseline_mean double, "
    "baseline_stddev double, z_score double, severity string"
)
QUALITY_GATE_RESULTS_SCHEMA = (
    "run_id string, gate string, value double, bound double, passed boolean"
)
TRIAGE_REPORTS_SCHEMA = (
    "run_id string, max_severity string, n_anomalies int, report string"
)
QUALITY_REPORTS_SCHEMA = "run_id string, report_json string"

AnomalyEvent = Row(
    "run_id", "metric", "value", "baseline_mean", "baseline_stddev", "z_score",
    "severity",
)


def run_rates(counters: dict) -> dict[str, float]:
    """One run's router counters (``RATE_COUNTERS`` → value; a missing
    or null counter counts 0) → its ``RATES``."""
    c = {k: float(counters.get(k) or 0.0) for k in RATE_COUNTERS}
    tot = max(c["total_pairs"], 1.0)
    return {
        "gray_zone_rate": c["gray_zone"] / tot,
        "approval_rate": c["auto_approved"] / tot,
        "rejection_rate": c["auto_rejected"] / tot,
    }


def anomaly_rows(
    runs: list[tuple[str, int, dict]], current_run_id: str, cfg: AnomalyConfig
) -> list[tuple]:
    """Current run's rates vs the trailing-window baseline.

    ``runs``: (run_id, finished_seq, rates) per run, at least the
    ``cfg.lookback_runs + 1`` most recent; finished_seq is the monotone
    sequence the pipeline maintains (the reference orders by
    finished_at, anomaly_detector.py:44-57).  The baseline is the other
    runs of that window: mean and sample stddev per rate.  Returns
    ``AnomalyEvent`` rows (ANOMALY_EVENTS_SCHEMA order), z ≥ z_medium
    → MEDIUM, ≥ z_high → HIGH — empty below ``cfg.min_baseline_runs`` baseline runs (reference
    parity) or where the baseline stddev is 0 or undefined."""
    recent = sorted(runs, key=lambda r: (r[1], r[0]), reverse=True)
    recent = recent[: cfg.lookback_runs + 1]
    baseline = [rates for rid, _, rates in recent if rid != current_run_id]
    current = [rates for rid, _, rates in recent if rid == current_run_id]
    if not current or len(baseline) < max(cfg.min_baseline_runs, 2):
        return []
    out = []
    for m in RATES:
        xs = [b[m] for b in baseline]
        # exactly rounded: a constant baseline gives stddev 0, not a
        # rounding residue that would turn every change into a HIGH
        mean, std = statistics.fmean(xs), statistics.stdev(xs)
        if std <= 0:
            continue
        value = current[0][m]
        z = (value - mean) / std
        if abs(z) >= cfg.z_high:
            severity = "HIGH"
        elif abs(z) >= cfg.z_medium:
            severity = "MEDIUM"
        else:
            continue
        out.append(AnomalyEvent(current_run_id, m, value, mean, std, z, severity))
    return out


def triage_report_rows(anoms: list, samples: list, run_id: str) -> dict:
    """O2 analog — the reference's anomaly triage report
    (reference entity_resolution_engine/monitoring/llm_triage.py:52-135):
    a textual summary of this run's anomalies and its top review
    samples.  The default path is the reference's deterministic
    fallback formatter (llm_triage.py:32-49); an LLM rewrite would plug
    in where the summary string is built.  ``anoms``/``samples`` are
    Rows already scoped to ``run_id``, samples in the order to print;
    anomalies are (re-)sorted here, HIGH before MEDIUM, then by |z|."""
    _sev = {"HIGH": 2, "MEDIUM": 1}
    anoms = sorted(
        anoms, key=lambda a: (_sev.get(a.severity, 0), abs(a.z_score)), reverse=True
    )
    lines = [f"Triage report for run {run_id}"]
    if not anoms:
        lines.append("No anomalies detected against the trailing baseline.")
    for a in anoms:
        lines.append(
            f"[{a.severity}] {a.metric}={a.value:.4f}"
            f" vs baseline {a.baseline_mean:.4f}"
            f"±{a.baseline_stddev:.4f} (z={a.z_score:+.2f})"
        )
    if samples:
        lines.append(f"Top {len(samples)} pending review pairs by score:")
        for s in samples:
            lines.append(f"  {s.url_a} ~ {s.url_b} score={s.matcher_score:.3f}")
    return {
        "run_id": run_id,
        "n_anomalies": len(anoms),
        "n_review_samples": len(samples),
        "max_severity": anoms[0].severity if anoms else "NONE",
        "report": "\n".join(lines),
    }


def quality_gate_rows(
    run_id: str,
    rates: dict[str, float],
    cfg: QualityGateConfig,
    high_anomaly_count: int,
    llm_stats: dict | None = None,
) -> list[tuple]:
    """One QUALITY_GATE_RESULTS row per gate for this run.

    Four gates — reference parity with
    /root/reference/entity_resolution_engine/config/quality_gates.yml:1-4
    and qa/quality_gates.py:99-109: max_gray_zone_rate,
    max_review_rate, no_high_severity_anomalies, max_llm_error_rate.
    ``rates`` is ``run_rates`` of the run.  ``llm_stats`` is
    router.llm_run_stats' dict for the run (or None when the LLM never
    ran — error rate 0.0, gate passes, matching the reference's
    llm_call_count == 0 branch)."""
    gray = rates["gray_zone_rate"]
    llm_error_rate = float((llm_stats or {}).get("llm_error_rate", 0.0))
    high = int(high_anomaly_count)
    return [
        (run_id, "max_gray_zone_rate", gray, cfg.max_gray_zone_rate,
         gray <= cfg.max_gray_zone_rate),
        (run_id, "max_review_rate", gray, cfg.max_review_rate,
         gray <= cfg.max_review_rate),
        (run_id, "no_high_severity_anomalies", float(high), 0.0,
         high == 0 or not cfg.fail_on_high_severity_anomalies),
        # reference qa/quality_gates.py:108 fails on strict >
        (run_id, "max_llm_error_rate", llm_error_rate, cfg.max_error_rate,
         llm_error_rate <= cfg.max_error_rate),
    ]
