"""Text analysis operators: token counting, quality, language ID,
fingerprints."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolution_engine_spark.operators import textstats as TS


def _profile(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    return {r.doc_id: r for r in TS.document_profile(df).collect()}


def test_token_counts(spark):
    p = _profile(spark, ["one two  three", "hello, world! (x=1)"])
    assert p[0].n_ws_tokens == 3
    # BPE-ish: hello , world ! ( x = 1 ) → 9
    assert p[1].n_bpe_tokens == 9


def test_quality_score_bounds_and_ordering(spark):
    clean = "the quick brown fox jumps over the lazy dog " * 8
    noisy = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    p = _profile(spark, [clean, noisy])
    assert 0.0 <= p[1].quality_score < p[0].quality_score <= 1.0
    assert p[0].stopword_ratio > 0
    assert p[1].punct_ratio > p[0].punct_ratio


def test_language_prediction(spark):
    p = _profile(
        spark,
        [
            "the cat and the dog sat in the house of the king",
            "le chat et les chiens est pour la maison du roi",
            "el perro y el gato que vive en la casa por un rey",
            "der hund und die katze ist von den haus mit für auf",
            "xyzzy plugh qwerty",  # no markers anywhere
        ],
    )
    assert p[0].pred_lang == "en"
    assert p[1].pred_lang == "fr"
    assert p[2].pred_lang == "es"
    assert p[3].pred_lang == "de"
    assert p[4].pred_lang == "und"


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "some reasonably long text for fingerprinting " * 3), (2, "x")],
        ["doc_id", "text"],
    )
    caches = []
    rows = TS.document_fingerprints_md5(df, caches=caches).collect()
    for c in caches:
        c.unpersist()
    assert {r.doc_id for r in rows} == {1}  # doc 2 is shorter than k
    assert len(rows) > 1  # one row per distinct window minimum


def test_quality_quantiles_exact_and_sketch(spark):
    """exact mode returns actual observed quality scores at the
    SQL-standard percentile_disc positions; sketch mode
    (approx_percentile, the 100 TB single-pass path) must agree within
    t-digest tolerance and share the output shape."""
    texts = [f"{'word ' * (5 + 3 * i)}the and is" for i in range(40)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    exact = TS.quality_quantiles(df).collect()
    approx = TS.quality_quantiles(df, exact=False).collect()
    assert len(exact) == len(approx) > 0
    scores = {
        r.doc_id: r.quality_score for r in TS.document_profile(df).collect()
    }
    observed = set(scores.values())
    ex = {(r.lang, r.p): r.quantile for r in exact}
    ap = {(r.lang, r.p): r.quantile for r in approx}
    for key, q in ex.items():
        assert q in observed          # discrete quantile is a real value
        assert abs(ap[key] - q) <= 0.1
    # monotone in p within each lang
    for lang in {r.lang for r in exact}:
        qs = [q for (lg, p), q in sorted(ex.items()) if lg == lang]
        assert qs == sorted(qs)


# ---------------------------------------------------------------------------
# Gopher repetition filters
# ---------------------------------------------------------------------------


def test_gopher_repetition_hand_computed(spark):
    # doc 0: "a b a b a b" — 6 tokens, 2 distinct → dup 4/6;
    #   2-grams: "a b"x3, "b a"x2 → top mass 3*3=9; 3-grams: "a b a"x2,
    #   "b a b"x2 → mass 2*5=10; n_chars=11
    # doc 1: all-distinct tokens → dup 0, every gram count 1
    # doc 2: empty text → all zeros, no gram rows, still present
    # doc 3: single token → no grams at all
    df = spark.createDataFrame(
        [
            (0, "a b a b a b"),
            (1, "one two three four"),
            (2, ""),
            (3, "solo"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in TS.gopher_repetition(df).collect()}
    assert set(rows) == {0, 1, 2, 3}

    r0 = rows[0]
    assert r0.n_tokens == 6
    assert abs(r0.dup_token_frac - round(1 - 2 / 6, 6)) < 1e-9
    assert abs(r0.top_2gram_char_frac - round(9 / 11, 6)) < 1e-9
    assert abs(r0.top_3gram_char_frac - round(10 / 11, 6)) < 1e-9
    assert r0.flagged == 1

    r1 = rows[1]
    assert r1.dup_token_frac == 0.0
    # heaviest 2-gram = "three four" (10 chars, count 1), text 18 chars
    assert abs(r1.top_2gram_char_frac - round(10 / 18, 6)) < 1e-9
    assert r1.flagged == 1  # short text: one gram dominates chars

    assert rows[2].n_tokens == 0
    assert rows[2].dup_token_frac == 0.0
    assert rows[2].top_2gram_char_frac == 0.0
    assert rows[2].flagged == 0

    assert rows[3].n_tokens == 1
    assert rows[3].top_2gram_char_frac == 0.0
    assert rows[3].top_3gram_char_frac == 0.0


def test_gopher_repetition_clean_long_doc_not_flagged(spark):
    text = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    r = TS.gopher_repetition(df).collect()[0]
    assert r.dup_token_frac == 0.0
    assert r.top_2gram_char_frac < 0.20
    assert r.flagged == 0
