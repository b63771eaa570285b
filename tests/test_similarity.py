"""Similarity feature functions — scalar golden values + batch-vs-scalar
parity for the vectorized executor path.

Mirrors the reference's similarity unit tests
(/root/reference/tests/test_basic_mapping.py:20-23)."""

from __future__ import annotations

import math

from entity_resolution_engine_spark.functions.normalize import normalize_text
from entity_resolution_engine_spark.functions.similarity import (
    batch_levenshtein_similarity,
    jaro,
    jaro_winkler,
    length_ratio,
    levenshtein,
    levenshtein_similarity,
    token_jaccard,
    token_sort_ratio,
)


def test_jaro_golden():
    # classic published examples
    assert math.isclose(jaro("martha", "marhta"), 0.944444, abs_tol=1e-5)
    assert math.isclose(jaro("dixon", "dicksonx"), 0.766667, abs_tol=1e-5)
    # empty → 0.0 (reference convention, name_normalizer.py:29-32)
    assert jaro("", "") == 0.0
    assert jaro("a", "") == 0.0


def test_jaro_winkler_golden():
    assert math.isclose(jaro_winkler("martha", "marhta"), 0.961111, abs_tol=1e-5)
    assert jaro_winkler("same", "same") == 1.0


def test_levenshtein_tokens():
    assert levenshtein(["a", "b", "c"], ["a", "x", "c"]) == 1
    assert levenshtein([], ["a"]) == 1
    assert levenshtein_similarity(["a", "b"], ["a", "b"]) == 1.0
    assert levenshtein_similarity([], []) == 0.0


def test_token_jaccard():
    assert token_jaccard(["a", "b"], ["b", "c"]) == 1 / 3
    assert token_jaccard([], ["a"]) == 0.0


def test_length_ratio():
    assert length_ratio("ab", "abab") == 0.5
    assert length_ratio("", "") == 0.0


def test_token_sort_ratio_reference_bound():
    # analog of reference test_basic_mapping.py:20-23 — the reference's
    # normalize_name applies the fc→football club alias before scoring
    from entity_resolution_engine_spark.functions.normalize import apply_aliases

    a = apply_aliases(normalize_text("City FC"))
    b = apply_aliases(normalize_text("City Football Club"))
    assert token_sort_ratio(a, b) > 0.8


def test_batch_levenshtein_matches_scalar():
    pairs = [
        (["a", "b", "c"], ["a", "x", "c"]),
        ([], ["q"]),
        (["t1", "t2", "t3", "t4"], ["t1", "t2", "t3", "t4"]),
        (["x"] * 40, ["x"] * 35 + ["y"] * 5),
        (["alpha", "beta"], ["beta", "alpha"]),
    ]
    batch = batch_levenshtein_similarity(
        [a for a, _ in pairs], [b for _, b in pairs]
    )
    for (a, b), got in zip(pairs, batch):
        want = levenshtein_similarity(a, b)
        assert math.isclose(got, want, abs_tol=1e-12), (a, b)


def test_pair_features_udf_matches_scalars(spark):
    from pyspark.sql import functions as F

    from entity_resolution_engine_spark.functions.similarity import (
        pair_features_udf,
    )

    data = [
        ("the quick brown fox", "the quick brown fox"),
        ("the quick brown fox", "a quick brown dog"),
        ("", "nonempty text"),
        ("one two three four five", "one two three"),
    ]
    df = spark.createDataFrame(data, ["a", "b"]).withColumn(
        "f", pair_features_udf(F.col("a"), F.col("b"))
    )
    for r in df.select("a", "b", "f.*").collect():
        ta, tb = r.a.split(), r.b.split()
        sa, sb = set(ta), set(tb)
        want_jac = len(sa & sb) / len(sa | sb) if sa and sb else 0.0
        assert math.isclose(r.token_jaccard, want_jac, abs_tol=1e-12)
        assert math.isclose(
            r.levenshtein_sim, levenshtein_similarity(ta, tb), abs_tol=1e-12
        )
        assert 0.0 <= r.jaro_winkler <= 1.0


def test_batch_jaro_winkler_matches_scalar():
    import random

    from entity_resolution_engine_spark.functions.similarity import (
        JW_PREFIX_CHARS,
        batch_jaro_winkler,
    )

    rng = random.Random(17)
    vocab = "abcdefg hij"
    cases = [("", ""), ("", "abc"), ("martha", "marhta"), ("dixon", "dicksonx"),
             ("same", "same"), ("a" * 200, "a" * 150 + "b" * 50)]
    for _ in range(200):
        a = "".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
        b = "".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
        cases.append((a, b))
    got = batch_jaro_winkler([a for a, _ in cases], [b for _, b in cases])
    for (a, b), g in zip(cases, got):
        want = jaro_winkler(a[:JW_PREFIX_CHARS], b[:JW_PREFIX_CHARS])
        assert math.isclose(g, want, abs_tol=1e-12), (a, b, g, want)
