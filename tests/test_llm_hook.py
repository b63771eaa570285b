"""Optional LLM validation hook: disabled-by-default, call budget,
circuit breaker (reference tests/test_validation_router.py:73-156
analog — the breaker is sequential driver-side state by design)."""

from __future__ import annotations

import json
from dataclasses import replace

from pyspark.sql import functions as F

from entity_resolution_engine_spark.config import ScoringConfig
from entity_resolution_engine_spark.operators.router import (
    llm_validate_sample,
    route_pairs,
)

CFG = ScoringConfig()


def _routed(spark, n_gray=30, width=1):
    rows = [
        (f"a{i:0{width}d}", f"b{i:0{width}d}", 0.5, "en", "en")
        for i in range(n_gray)
    ]  # all in the gray zone (0.45 <= s < 0.62)
    df = spark.createDataFrame(rows, ["url_a", "url_b", "score", "lang_a", "lang_b"])
    df = df.select(
        "*",
        F.lit(0.5).alias("jaro_winkler"),
        F.lit(0.5).alias("token_jaccard"),
        F.lit(0.5).alias("levenshtein_sim"),
        F.lit(0.5).alias("length_ratio"),
    )
    return route_pairs(df, CFG, "r1")


_MATCH = json.dumps({"decision": "MATCH", "confidence": 0.9})


def _url_a(user_prompt):
    """The pair's left url from ``llm_validate_pair``'s first prompt."""
    return json.loads(user_prompt)["left"]["url"]


def test_disabled_by_default(spark):
    routed = _routed(spark)
    calls = []

    def transport(system, user):
        calls.append(user)
        return _MATCH

    assert llm_validate_sample(routed, CFG, transport=transport) == []
    assert calls == []


def test_call_budget_caps_sample(spark):
    cfg = replace(CFG, llm_enabled=True, max_llm_calls_per_run=10)
    routed = _routed(spark, n_gray=30)
    calls = []

    def transport(system, user):
        calls.append(_url_a(user))
        return _MATCH

    out = llm_validate_sample(routed, cfg, transport=transport)
    assert len(calls) == 10  # budget, not all 30 gray pairs
    assert len(out) == 10 and all(o["decision"] == "MATCH" for o in out)


def test_sample_order_ignores_partitioning(spark):
    """30 gray pairs tied at 0.5 and a budget of 10: the pairs sent to
    the LLM are the first 10 by (url_a, url_b), whether the routed rows
    come from 1 or 7 partitions."""
    cfg = replace(CFG, llm_enabled=True, max_llm_calls_per_run=10)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    sent = []
    try:
        for n in (1, 7):
            spark.conf.set(key, str(n))
            routed = _routed(spark, n_gray=30, width=2).repartition(n, "url_b")
            calls = []

            def transport(system, user):
                calls.append(_url_a(user))
                return _MATCH

            llm_validate_sample(routed, cfg, transport=transport)
            sent.append(calls)
    finally:
        spark.conf.set(key, prev)
    want = [f"a{i:02d}" for i in range(10)]
    assert sent == [want, want]


def test_circuit_breaker_opens_after_full_window(spark):
    # reference parity: the breaker evaluates only once the rolling
    # window (50) is FULL (router.py:148-160) — then a >=0.2 fail rate
    # stops further calls
    cfg = replace(CFG, llm_enabled=True, max_llm_calls_per_run=100)
    routed = _routed(spark, n_gray=100)

    def transport(system, user):
        raise RuntimeError("llm down")

    out = llm_validate_sample(routed, cfg, transport=transport)
    assert len(out) == 50  # breaker opens exactly when the window fills
    assert all(o["status"] == "REVIEW" for o in out)


def test_circuit_breaker_stays_closed_on_low_fail_rate(spark):
    cfg = replace(CFG, llm_enabled=True, max_llm_calls_per_run=80)
    routed = _routed(spark, n_gray=80)
    n = {"i": 0}

    def transport(system, user):
        n["i"] += 1
        if n["i"] % 10 == 0:  # 10% failures < 20% threshold
            raise RuntimeError("transient")
        return _MATCH

    out = llm_validate_sample(routed, cfg, transport=transport)
    assert len(out) == 80  # never tripped
    assert sum(1 for o in out if o.get("status") == "REVIEW") == 8


def test_errors_become_review_rows(spark):
    cfg = replace(CFG, llm_enabled=True, max_llm_calls_per_run=5)
    routed = _routed(spark, n_gray=5)

    def transport(system, user):
        if _url_a(user) == "a0":
            raise ValueError("bad json")
        return _MATCH

    out = llm_validate_sample(routed, cfg, transport=transport)
    assert {o["url_a"] for o in out} == {f"a{i}" for i in range(5)}
    errored = [o for o in out if o["url_a"] == "a0"]
    assert errored == [
        {"url_a": "a0", "url_b": "b0", "status": "REVIEW", "error": '"llm_error"'}
    ]
    assert sum(1 for o in out if o.get("decision") == "MATCH") == 4


# ---------------------------------------------------------------------------
# R5 parity: schema'd validation + invalid-JSON retry + error → REVIEW
# (reference validation/llm_validator.py:20-81, llm_client.py request_json)
# ---------------------------------------------------------------------------


def _pair():
    return {
        "url_a": "https://a.org/1", "url_b": "https://b.org/1",
        "score": 0.55, "lang_a": "en", "lang_b": "en",
        "jaro_winkler": 0.8, "token_jaccard": 0.6,
        "levenshtein_sim": 0.7, "length_ratio": 0.9,
    }


def test_llm_validate_pair_valid_response():
    from entity_resolution_engine_spark.operators.router import llm_validate_pair

    prompts = []

    def transport(system, user):
        prompts.append(user)
        payload = json.loads(user)
        assert payload["response_schema"]["decision"] == "MATCH|NO_MATCH|REVIEW"
        return json.dumps({"decision": "MATCH", "confidence": 0.93, "reasons": ["same title"]})

    out = llm_validate_pair(_pair(), transport)
    assert out == {"decision": "MATCH", "confidence": 0.93,
                   "reasons": ["same title"], "risk_flags": []}
    assert len(prompts) == 1


def test_llm_validate_pair_invalid_json_retries_once():
    from entity_resolution_engine_spark.operators.router import llm_validate_pair

    calls = []

    def transport(system, user):
        calls.append(user)
        if len(calls) == 1:
            return "```json not json```"
        assert user.startswith("Return valid JSON only.")
        return '{"decision": "NO_MATCH", "confidence": 0.2}'

    out = llm_validate_pair(_pair(), transport)
    assert out["decision"] == "NO_MATCH"
    assert "llm_invalid_json_retry" in out["risk_flags"]
    assert len(calls) == 2


def test_llm_validate_pair_persistent_garbage_degrades_to_review():
    from entity_resolution_engine_spark.operators.router import llm_validate_pair

    out = llm_validate_pair(_pair(), lambda s, u: "garbage")
    assert out["decision"] == "REVIEW"
    assert out["risk_flags"] == ["llm_error"]


def test_llm_validate_pair_schema_violations_degrade_to_review():
    from entity_resolution_engine_spark.operators.router import llm_validate_pair

    for bad in (
        {"decision": "MAYBE", "confidence": 0.5},
        {"decision": "MATCH", "confidence": 1.7},
        {"decision": "MATCH", "confidence": 0.5, "reasons": "not-a-list"},
        ["not", "an", "object"],
    ):
        out = llm_validate_pair(_pair(), lambda s, u, b=bad: json.dumps(b))
        assert out["decision"] == "REVIEW" and out["risk_flags"] == ["llm_error"], bad


def test_transport_plugs_into_sample_loop(spark):
    cfg = replace(CFG, llm_enabled=True, max_llm_calls_per_run=5)
    routed = _routed(spark, n_gray=5)

    def transport(system, user):
        return json.dumps({"decision": "MATCH", "confidence": 0.9})

    out = llm_validate_sample(routed, cfg, transport=transport)
    assert len(out) == 5
    assert all(o["decision"] == "MATCH" for o in out)


def test_circuit_breaker_opens_on_invalid_json_rate_alone(spark):
    # reference validation/router.py:148-160: the breaker opens on
    # invalid_json_retry rate >= 0.1 even when every call SUCCEEDS
    # (the retried responses parse on the second attempt)
    cfg = replace(CFG, llm_enabled=True, max_llm_calls_per_run=100)
    routed = _routed(spark, n_gray=100)
    n = {"pairs": 0}

    def transport(system, user):
        if user.startswith("Return valid JSON only."):
            return _MATCH  # the retry parses
        n["pairs"] += 1
        # garbage once for every 5th pair: a 20% invalid-retry rate
        # >= 0.1 threshold, 0% fail rate
        return "garbage" if n["pairs"] % 5 == 0 else _MATCH

    out = llm_validate_sample(routed, cfg, transport=transport)
    assert len(out) == 50  # opens exactly when the window fills
    assert all(o["decision"] == "MATCH" for o in out)  # no failures
    assert sum(1 for o in out if "llm_invalid_json_retry" in o["risk_flags"]) == 10


def test_llm_run_stats_counts():
    from entity_resolution_engine_spark.operators.router import llm_run_stats

    results = [
        {"status": "APPROVE", "risk_flags": []},
        {"status": "REVIEW", "error": '"boom"'},
        {"status": "APPROVE", "risk_flags": ["llm_invalid_json_retry"]},
        {"decision": "REVIEW", "risk_flags": ["llm_error"]},
    ]
    s = llm_run_stats(results)
    assert s["llm_calls"] == 4.0
    assert s["llm_errors"] == 2.0  # error row + llm_error flag
    assert s["llm_invalid_json_retries"] == 1.0
    assert s["llm_error_rate"] == 0.5
    assert llm_run_stats([])["llm_error_rate"] == 0.0
