"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

Everything is pure-JVM column expressions (codegen, pushdown-friendly)
with exact ANSI-SQL equivalents — these operators are in the
DuckDB-oracle correctness gate, so each formula is written to be
reproducible verbatim in SQL (__spark_entry__.py keeps the SQL
side-by-side).

Tokenization contract shared by all of them: lower(text) split on
single spaces, empties dropped (``hashing.tokens_col``) — matching the
corpus shape and trivially expressible in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import tokens_col

# Deterministic per-language marker-token profiles (tiny stopword
# lists).  The n-gram/stopword heuristic is standard public technique;
# the lists are short on purpose — determinism and plumbing are what
# the engine provides, swap in real profiles for production.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "est", "pour"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "por", "con"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "men5"],
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"]


def tokens_expr(text: Column) -> Column:
    return tokens_col(F.lower(text))


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_expr(text))


def word_token_count(text: Column) -> Column:
    """BPE-ish pre-tokenizer count: runs of alnum OR single
    non-alnum-non-space chars (the GPT-2-style pre-split shape)."""
    return F.size(
        F.regexp_extract_all(text, F.lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), 0)
    )


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality signals (length / punctuation / stopword
    ratios — the public-lore web-text quality heuristics)."""
    toks = tokens_expr(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    n_punct = F.size(F.regexp_extract_all(text, F.lit("[^A-Za-z0-9\\s]"), 0))
    n_stop = F.size(F.array_intersect(toks, F.lit(ENGLISH_STOPWORDS)))
    mean_tok_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "punct_ratio": F.when(
            n_chars > 0, n_punct.cast("double") / n_chars
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_tok > 0, n_stop.cast("double") / n_tok
        ).otherwise(F.lit(0.0)),
        "mean_token_len": mean_tok_len,
    }


def quality_score(text: Column) -> Column:
    """Composite quality in [0,1]: length band + low punctuation +
    plausible mean token length.  Fixed formula, SQL-reproducible."""
    f = quality_features(text)
    len_score = F.least(f["n_tokens"].cast("double") / 64.0, F.lit(1.0))
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - f["punct_ratio"] * 5.0)
    tlen_score = F.when(
        (f["mean_token_len"] >= 3.0) & (f["mean_token_len"] <= 10.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    return F.round(
        len_score * 0.4 + punct_score * 0.4 + tlen_score * 0.2, 6
    )


def language_scores(text: Column) -> dict[str, Column]:
    toks = tokens_expr(text)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(toks, lambda t: t.isin(markers)))  # noqa: B023
        out[lang] = hits.cast("double") / n_tok
    return out


def predict_language(text: Column) -> Column:
    """argmax over marker-hit rates; deterministic lexicographic
    tie-break (ties → 'und' when no marker hits at all)."""
    scores = language_scores(text)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reversed lexicographic fold so the FIRST language alphabetically
    # wins ties (when(...) chains evaluate in order)
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def document_profile(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per doc with all text-analysis columns (the headline
    text-ops operator)."""
    text = F.col(text_col)
    f = quality_features(text)
    return documents.select(
        "doc_id",
        token_count(text).alias("n_ws_tokens"),
        word_token_count(text).alias("n_bpe_tokens"),
        F.round(f["punct_ratio"], 6).alias("punct_ratio"),
        F.round(f["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(f["mean_token_len"], 6).alias("mean_token_len"),
        quality_score(text).alias("quality_score"),
        predict_language(text).alias("pred_lang"),
    )


def document_fingerprints_md5(
    documents: DataFrame,
    k: int = 8,
    window: int = 16,
    text_col: str = "text",
    caches: list | None = None,
) -> DataFrame:
    """(doc_id, fingerprint) — winnowing (Schleimer et al., SIGMOD'03)
    for copy detection, pure JVM expressions: the min of every sliding
    ``window`` of char k-gram hashes, distinct values; one global min
    when there are fewer than ``window`` grams; no rows when
    len < k.  The per-gram hash is the first 15 hex chars of md5 read
    as a 60-bit integer, which DuckDB reproduces byte-for-byte, so the
    driver oracle value-checks the whole gram→window-min→distinct
    pipeline (__spark_entry__.py ``doc_fingerprints``).  Emits one row
    per distinct (doc_id, fingerprint)."""
    t = F.col(text_col)
    n = F.length(t)
    gram_hashes = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.conv(F.substring(F.md5(t.substr(i, F.lit(k))), 1, 15), 16, 10)
        .cast("long"),
    )
    # persist the gram-hash array: `mins` references "h" three times
    # (size guard + global min + per-window slice mins) and Catalyst's
    # project collapsing would otherwise inline — and recompute — the
    # O(len) interpreted md5 transform once per reference (same trap as
    # the fused ngram UDF, dedup.py; VERDICT r4 item 4)
    docs = documents.filter(n >= k).select("doc_id", gram_hashes.alias("h")).persist()
    if caches is not None:
        caches.append(docs)
    m = F.size("h")
    mins = F.when(m <= window, F.array(F.array_min("h"))).otherwise(
        F.transform(
            F.sequence(F.lit(1), m - (window - 1)),
            lambda i: F.array_min(F.slice("h", i, window)),
        )
    )
    return (
        docs.select("doc_id", F.explode(mins).alias("fingerprint"))
        .distinct()
    )


def gopher_repetition(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021,
    arXiv:2112.11446 Table A1), adapted to a single-line corpus: the
    paper's duplicate-line / top-n-gram-character-fraction signals
    re-expressed at the word level (the corpus has no newlines, so
    "lines" degenerate; tokens are the repetition unit that remains
    meaningful).  Output, one row per document:

    - ``n_tokens``          whitespace token count
    - ``dup_token_frac``    1 − distinct/total tokens (paper's
                            duplicate-line fraction, token-adapted)
    - ``top_2gram_char_frac`` / ``top_3gram_char_frac``: the character
      mass of the heaviest repeated word n-gram — max over n-grams of
      occurrences × length(gram, incl. joining spaces) — divided by
      the document's total character count.  (The paper's "fraction of
      characters contained within the most frequently-occurring
      n-gram", with the max taken over count×length so ties between
      equally-frequent grams resolve deterministically to the heavier
      one.)
    - ``flagged``           1 when any signal crosses the paper's
      removal thresholds (dup 0.30, top-2-gram 0.20, top-3-gram 0.18)

    Scale shape: per-doc token stats are pure JVM array expressions
    (no shuffle); the n-gram mass needs global counts per (doc, gram),
    so ONE explode feeds ONE partial-aggregating hash shuffle keyed
    (doc_id, n, gram), a second tiny rollup to (doc_id), and a join
    back to the per-doc stats on doc_id — both sides already hash by
    doc_id, and docs with <2 tokens (absent from the gram side) keep a
    row via the left join.  No driver collection, no UDF."""
    text = F.col(text_col)
    toks = tokens_expr(text)
    base = documents.select(
        "doc_id",
        F.length(text).alias("n_chars"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "n_chars",
        "toks",
        F.size("toks").alias("n_tokens"),
    )

    def gram_structs(n: int) -> Column:
        tcol = F.col("toks")
        idx = F.transform(tcol, lambda _, i: i)
        valid = F.filter(idx, lambda i: i + n <= F.size(tcol))
        return F.transform(
            valid,
            lambda i: F.struct(
                F.lit(n).alias("gn"),
                F.concat_ws(" ", F.slice(tcol, i + 1, n)).alias("gram"),
            ),
        )

    grams = base.select(
        "doc_id",
        F.explode(F.concat(gram_structs(2), gram_structs(3))).alias("g"),
    )
    counts = grams.groupBy(
        "doc_id", F.col("g.gn").alias("gn"), F.col("g.gram").alias("gram")
    ).agg(F.count(F.lit(1)).alias("c"))
    top = counts.groupBy("doc_id").agg(
        F.max(F.when(F.col("gn") == 2, F.col("c") * F.length("gram"))).alias("m2"),
        F.max(F.when(F.col("gn") == 3, F.col("c") * F.length("gram"))).alias("m3"),
    )
    dup_frac = F.when(
        F.col("n_tokens") > 0,
        F.lit(1.0)
        - F.size(F.array_distinct("toks")).cast("double") / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    frac2 = F.coalesce(
        F.col("m2").cast("double") / F.nullif(F.col("n_chars"), F.lit(0)), F.lit(0.0)
    )
    frac3 = F.coalesce(
        F.col("m3").cast("double") / F.nullif(F.col("n_chars"), F.lit(0)), F.lit(0.0)
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(dup_frac, 6).alias("dup_token_frac"),
            F.round(frac2, 6).alias("top_2gram_char_frac"),
            F.round(frac3, 6).alias("top_3gram_char_frac"),
        )
        .withColumn(
            "flagged",
            (
                (F.col("dup_token_frac") > 0.30)
                | (F.col("top_2gram_char_frac") > 0.20)
                | (F.col("top_3gram_char_frac") > 0.18)
            ).cast("long"),
        )
    )


def quality_quantiles(
    documents: DataFrame,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
    text_col: str = "text",
    exact: bool = True,
) -> DataFrame:
    """Per-language quantiles of ``quality_score`` — the corpus-curation
    op: pick the per-language quality threshold that keeps a target
    fraction of training data.  Output long form: (lang, p, quantile).

    ``exact=True`` (contract mode) uses SQL-standard ``percentile_disc``
    — the smallest observed value whose cume_dist >= p, a REAL data
    point, so the DuckDB oracle reproduces it byte-for-byte from the
    same definition (no interpolation float drift, and sketches are
    never oracled — approx_count_distinct lesson).  ``exact=False`` is
    the 100 TB mode: ``approx_percentile`` (t-digest), a single-pass
    mergeable sketch that never materializes per-group sorts.

    One hash-shuffle by pred_lang either way; the long-form explode is
    per-GROUP (a handful of rows), not per-document."""
    prof = document_profile(documents, text_col).select(
        F.col("pred_lang").alias("lang"), "quality_score"
    )
    if exact:
        aggs = [
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY quality_score)"
            ).alias(f"_q{i}")
            for i, p in enumerate(probs)
        ]
    else:
        aggs = [
            F.percentile_approx("quality_score", float(p)).alias(f"_q{i}")
            for i, p in enumerate(probs)
        ]
    wide = prof.groupBy("lang").agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("p"), F.col(f"_q{i}").alias("quantile")
            )
            for i, p in enumerate(probs)
        ]
    )
    return (
        wide.select("lang", F.explode(pairs).alias("_x"))
        .select("lang", F.col("_x.p").alias("p"), F.col("_x.quantile").alias("quantile"))
    )
