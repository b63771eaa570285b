"""Stage 4 — validation routing.

Re-expresses the reference's three-way threshold partition
(/root/reference/entity_resolution_engine/validation/router.py:162-168):
score < low → rejected; score ≥ high AND no conflict flags → approved;
else gray zone.  Gray-zone disposition follows the configured fallback
(llm_validation.yml:7 semantics): ``auto_approve`` approves, ``review``
emits PENDING review items.  The optional LLM stage is a pluggable
bounded hook (the reference's call budget + circuit breaker,
router.py:121-210, is inherently sequential driver-side state — see
SURVEY.md §2.8 R4 — and is disabled by default exactly as in the
reference).

Everything is ONE ``when/otherwise`` decision column over the scored
pairs — a single pass, no per-decision scans.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ScoringConfig


def conflict_flags(scored: DataFrame, cfg: ScoringConfig | None = None) -> F.Column:
    """Adapter-style conflict signals (reference validation/adapters.py:
    48-77 builds country/season/dob-style mismatch flags per entity
    type — four distinct signals feeding the gray zone).  Web analogs:

    - ``lang_mismatch``   — the two pages disagree on language
    - ``warc_ts_gap``     — crawl timestamps more than
                            cfg.max_warc_ts_gap_days apart (the dob/date
                            delta analog, reference F8/F9)
    - ``length_mismatch`` — length_ratio below cfg.min_length_ratio
                            (a high text-sim score on wildly different
                            lengths is suspicious)
    - ``domain_mismatch`` — different registrable hosts; OFF by default
                            (cfg.flag_domain_mismatch): real boilerplate
                            clones legitimately cross domains, so this
                            flag is for corpora where same-entity pages
                            are known to be single-domain

    Each flag is emitted only when its inputs exist in the frame, so
    minimal scored frames (tests, external callers) still route."""
    cfg = cfg or ScoringConfig()
    cols = set(scored.columns)
    parts = []
    if {"lang_a", "lang_b"} <= cols:
        parts.append(
            F.when(
                F.col("lang_a").isNotNull()
                & F.col("lang_b").isNotNull()
                & (F.col("lang_a") != F.col("lang_b")),
                F.lit("lang_mismatch"),
            )
        )
    if {"ts_a", "ts_b"} <= cols:
        gap_days = F.abs(
            F.col("ts_a").cast("long") - F.col("ts_b").cast("long")
        ) / 86400.0
        parts.append(
            F.when(
                F.col("ts_a").isNotNull()
                & F.col("ts_b").isNotNull()
                & (gap_days > cfg.max_warc_ts_gap_days),
                F.lit("warc_ts_gap"),
            )
        )
    if "length_ratio" in cols:
        parts.append(
            F.when(
                F.col("length_ratio").isNotNull()
                & (F.col("length_ratio") < cfg.min_length_ratio),
                F.lit("length_mismatch"),
            )
        )
    if cfg.flag_domain_mismatch and {"url_a", "url_b"} <= cols:
        from ..functions.normalize import domain_col

        parts.append(
            F.when(
                domain_col(F.col("url_a")) != domain_col(F.col("url_b")),
                F.lit("domain_mismatch"),
            )
        )
    if not parts:
        return F.array().cast("array<string>")
    return F.array_compact(F.array(*parts))


def route_pairs(scored: DataFrame, cfg: ScoringConfig, run_id: str) -> DataFrame:
    """scored pairs → + decision, routed_status, conflicts columns.

    Exact-strategy pairs (byte-identical norm_text) skip the metadata
    conflict flags entirely: identical text is identical regardless of
    crawl-timestamp gap or url domain, so demoting a clone pair to the
    gray zone on metadata would only break exact-dedup transitivity
    (round-2 ADVICE — previously a clone crawled > max_warc_ts_gap_days
    apart routed gray and never clustered)."""
    flags = conflict_flags(scored, cfg)
    if "strategy" in scored.columns:
        flags = F.when(
            F.col("strategy") == "exact", F.array().cast("array<string>")
        ).otherwise(flags)
    flagged = scored.withColumn("conflicts", flags)
    decision = (
        F.when(F.col("score") < cfg.threshold_low, F.lit("rejected"))
        .when(
            (F.col("score") >= cfg.threshold_high) & (F.size("conflicts") == 0),
            F.lit("approved"),
        )
        .otherwise(F.lit("gray"))
    )
    routed = flagged.withColumn("decision", decision)
    if cfg.fallback_mode == "auto_approve":
        status = F.when(F.col("decision") == "rejected", F.lit("rejected")).otherwise(
            F.lit("approved")
        )
    else:  # review mode: gray pairs stay pending
        status = (
            F.when(F.col("decision") == "gray", F.lit("pending"))
            .when(F.col("decision") == "approved", F.lit("approved"))
            .otherwise(F.lit("rejected"))
        )
    return routed.withColumn("routed_status", status).withColumn(
        "run_id", F.lit(run_id)
    )


def review_items(routed: DataFrame, run_id: str) -> DataFrame:
    """Gray-zone pairs → review rows (reference router.py:56-78 shape);
    signals serialized to JSON only at this sink boundary."""
    return routed.filter(F.col("decision") == "gray").select(
        F.lit(run_id).alias("run_id"),
        "url_a",
        "url_b",
        F.col("score").alias("matcher_score"),
        F.lit("PENDING").alias("status"),
        F.to_json(
            F.struct(
                "jaro_winkler",
                "token_jaccard",
                "levenshtein_sim",
                "length_ratio",
                "conflicts",
            )
        ).alias("signals"),
    )


def reviews_query(
    reviews: DataFrame,
    status: str | None = None,
    run_id: str | None = None,
    min_score: float | None = None,
    max_score: float | None = None,
    limit: int = 50,
    offset: int = 0,
) -> DataFrame:
    """P6 analog — the reference's review-queue read path
    (/root/reference/entity_resolution_engine/api/main.py:112-157):
    dynamic status/run/score-bound filters + ORDER BY ... LIMIT/OFFSET
    over the reviews table.

    Filters compose as plain Catalyst predicates, so reading from a
    parquet/catalog snapshot pushes them into the scan (pinned by
    test_pipeline_e2e.test_reviews_query_pushdown).  Ordering is
    matcher_score DESC with a deterministic (url_a, url_b) tie-break —
    the reference orders by created_at DESC, which the engine's
    append-time score ordering stands in for."""
    out = reviews
    if status is not None:
        out = out.filter(F.col("status") == status)
    if run_id is not None:
        out = out.filter(F.col("run_id") == run_id)
    if min_score is not None:
        out = out.filter(F.col("matcher_score") >= min_score)
    if max_score is not None:
        out = out.filter(F.col("matcher_score") <= max_score)
    out = out.orderBy(
        F.desc("matcher_score"), F.asc("url_a"), F.asc("url_b")
    )
    if offset:
        out = out.offset(offset)
    return out.limit(limit)


def router_metrics(routed: DataFrame, run_id: str, seq: int = 0) -> DataFrame:
    """The reference's 13-counter router metrics block
    (router.py:110-117,227-245) as one groupBy over the decision
    column, unpivoted to the RUN_METRICS long shape."""
    agg = routed.agg(
        F.count("*").alias("total_pairs"),
        F.sum(F.when(F.col("decision") == "approved", 1).otherwise(0)).alias(
            "auto_approved"
        ),
        F.sum(F.when(F.col("decision") == "rejected", 1).otherwise(0)).alias(
            "auto_rejected"
        ),
        F.sum(F.when(F.col("decision") == "gray", 1).otherwise(0)).alias("gray_zone"),
        F.avg("score").alias("mean_score"),
    )
    long = agg.selectExpr(
        "stack(5, 'total_pairs', double(total_pairs), "
        "'auto_approved', double(auto_approved), "
        "'auto_rejected', double(auto_rejected), "
        "'gray_zone', double(gray_zone), "
        "'mean_score', mean_score) as (metric, value)"
    )
    return long.select(
        F.lit(run_id).alias("run_id"),
        F.lit("router").alias("stage"),
        "metric",
        "value",
        F.lit(None).cast("int").alias("partition_id"),
        F.lit(seq).cast("long").alias("finished_seq"),
    )


_LLM_SYSTEM_PROMPT = (
    "You are a strict entity-resolution validator. "
    "Return JSON with decision MATCH, NO_MATCH, or REVIEW."
)

_VALID_DECISIONS = {"MATCH", "NO_MATCH", "REVIEW"}


def validate_llm_response(obj) -> dict:
    """Schema validation of an LLM verdict (reference
    validation/schemas.py:9-13 ValidationResult, minus the pydantic
    dependency): decision ∈ {MATCH, NO_MATCH, REVIEW}, confidence in
    [0, 1], reasons/risk_flags lists of strings.  Raises ValueError on
    any violation — callers map that to the REVIEW fallback."""
    if not isinstance(obj, dict):
        raise ValueError("response is not a JSON object")
    decision = obj.get("decision")
    if decision not in _VALID_DECISIONS:
        raise ValueError(f"invalid decision {decision!r}")
    confidence = obj.get("confidence")
    if not isinstance(confidence, (int, float)) or not 0.0 <= float(confidence) <= 1.0:
        raise ValueError(f"confidence out of range: {confidence!r}")
    out = {"decision": decision, "confidence": float(confidence)}
    for key in ("reasons", "risk_flags"):
        val = obj.get(key, [])
        if not isinstance(val, list) or not all(isinstance(x, str) for x in val):
            raise ValueError(f"{key} must be a list of strings")
        out[key] = list(val)
    return out


def llm_validate_pair(pair: dict, transport, max_json_retries: int = 1) -> dict:
    """One schema'd validation call (reference llm_validator.py:20-81 +
    llm_client.py request_json semantics): deterministic sorted-key JSON
    payload with an explicit response_schema block; invalid JSON gets
    ONE retry with a strictness preamble (flagged
    ``llm_invalid_json_retry``); any persistent failure degrades to
    decision=REVIEW with risk_flag ``llm_error``.

    ``transport(system_prompt, user_prompt) -> str`` is the injectable
    boundary — the engine itself carries no network code."""
    payload = {
        "entity_type": "page",
        "matcher_score": pair.get("score"),
        "left": {"url": pair.get("url_a"), "lang": pair.get("lang_a")},
        "right": {"url": pair.get("url_b"), "lang": pair.get("lang_b")},
        "signals": {
            k: pair.get(k)
            for k in (
                "jaro_winkler",
                "token_jaccard",
                "levenshtein_sim",
                "length_ratio",
                "conflicts",
            )
            if k in pair
        },
        "response_schema": {
            "decision": "MATCH|NO_MATCH|REVIEW",
            "confidence": "0..1",
            "reasons": "list[str]",
            "risk_flags": "list[str]",
        },
    }
    user_prompt = json.dumps(payload, sort_keys=True, default=str)
    retried = False
    try:
        text = transport(_LLM_SYSTEM_PROMPT, user_prompt)
        for attempt in range(max_json_retries + 1):
            try:
                parsed = json.loads(text)
                break
            except json.JSONDecodeError:
                if attempt >= max_json_retries:
                    raise
                retried = True
                text = transport(
                    _LLM_SYSTEM_PROMPT,
                    "Return valid JSON only. Do not include commentary or "
                    "markdown.\n\n" + user_prompt,
                )
        result = validate_llm_response(parsed)
        if retried and "llm_invalid_json_retry" not in result["risk_flags"]:
            result["risk_flags"].append("llm_invalid_json_retry")
        return result
    except Exception:
        return {
            "decision": "REVIEW",
            "confidence": 0.0,
            "reasons": ["LLM validation failed"],
            "risk_flags": ["llm_error"],
        }


def llm_validate_sample(
    routed: DataFrame, cfg: ScoringConfig, transport=None
) -> list[dict]:
    """Optional LLM validation hook for gray-zone pairs — preserved as a
    bounded driver-side loop because the reference's circuit breaker is
    order-dependent sequential state (router.py:121-160).  Disabled by
    default (cfg.llm_enabled=False), mirroring llm_validation.yml:1.

    ``transport(system_prompt, user_prompt) -> str`` is the one
    injection point; no network code lives in the engine.  Each pair
    goes through ``llm_validate_pair`` (schema'd payload, invalid-JSON
    retry, error → REVIEW): a verdict flagged ``llm_error`` (the
    transport raised, or its text stayed invalid or off-schema) counts
    as a failure toward the circuit breaker and becomes a
    ``status=REVIEW`` row; any other verdict is the pair's row."""
    if not cfg.llm_enabled or transport is None:
        return []
    sample = (
        routed.filter(F.col("decision") == "gray")
        .orderBy(F.desc("score"), "url_a", "url_b")
        .limit(cfg.max_llm_calls_per_run)
        .collect()
    )
    # rolling window of (success, invalid_json_retry) outcomes.
    # Reference parity (validation/router.py:133-160): the breaker can
    # only open once the window is FULL (a cold-start failure must not
    # permanently disable validation), and it opens on EITHER rate —
    # fail_rate ≥ max_fail_rate OR invalid_json_retry rate ≥
    # max_invalid_json_rate.  A stream of successfully-retried invalid
    # JSON trips the second trigger even though every call "succeeds"
    # (the round-2 parity gap).
    window: list[tuple[bool, bool]] = []
    out = []
    for row in sample:
        if len(window) >= cfg.llm_breaker_window:
            fail_rate = sum(1 for ok, _ in window if not ok) / len(window)
            invalid_rate = sum(1 for _, inv in window if inv) / len(window)
            if (
                fail_rate >= cfg.llm_breaker_max_fail_rate
                or invalid_rate >= cfg.llm_breaker_max_invalid_json_rate
            ):
                break  # breaker open → remaining pairs take the fallback path
            window.pop(0)
        verdict = llm_validate_pair(row.asDict(), transport)
        if "llm_error" in verdict["risk_flags"]:
            # error → REVIEW, matches reference llm_validator.py:34-66
            window.append((False, False))
            out.append(
                {
                    "url_a": row.url_a,
                    "url_b": row.url_b,
                    "status": "REVIEW",
                    "error": json.dumps("llm_error"),
                }
            )
        else:
            invalid_retry = "llm_invalid_json_retry" in verdict["risk_flags"]
            window.append((True, invalid_retry))
            out.append({"url_a": row.url_a, "url_b": row.url_b, **verdict})
    return out


def llm_run_stats(results: list[dict]) -> dict[str, float]:
    """Counters the reference derives from a validation sweep
    (validation/router.py:110-117): calls, errors, invalid-JSON
    retries.  Feeds the ``max_llm_error_rate`` quality gate
    (metrics.quality_gate_rows) — llm_error_rate =
    errors / calls, 0.0 when the LLM never ran."""
    calls = len(results)
    errors = sum(
        1
        for r in results
        if r.get("error") is not None
        or "llm_error" in (r.get("risk_flags") or [])
    )
    retries = sum(
        1 for r in results if "llm_invalid_json_retry" in (r.get("risk_flags") or [])
    )
    return {
        "llm_calls": float(calls),
        "llm_errors": float(errors),
        "llm_invalid_json_retries": float(retries),
        "llm_error_rate": (errors / calls) if calls else 0.0,
    }
