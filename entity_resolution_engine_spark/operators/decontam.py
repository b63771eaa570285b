"""Benchmark decontamination + cross-corpus dedup for training-data
pipelines.

Two operators every LLM data pipeline runs before training:

- **ngram_decontaminate** — flag corpus documents sharing any token
  n-gram with a benchmark/eval set (the PaLM/GPT-3 style "13-gram
  overlap" test, n configurable).  The benchmark side of the join is
  tiny by construction (eval sets are MBs, corpora are TBs), so the
  gram join is a broadcast: the 100 TB corpus is read once, its gram
  explode is narrow, matched grams partial-aggregate before the only
  shuffle (per-doc hit counts — bytes proportional to CONTAMINATED
  docs, not the corpus), and the hit table joins back unhinted (AQE
  broadcasts it when small; a saturated-contamination corpus falls
  back to an ids+counts shuffle).  No text-sized shuffle anywhere.
- **exact_dedup_against** — drop corpus docs whose normalized text
  already appears in a reference corpus (previous crawl / held-out
  split): md5-keyed left_anti join, the incremental twin of
  ``exact_duplicate_groups``.

Reference parity: the reference engine has no decontamination surface
(its scope is entity resolution over sports tables); these extend the
graft's training-data families (SURVEY.md §2.12) alongside
operators/dedup.py.  Gram/tokenization semantics are shared with
``dedup.ngram_jaccard_pairs`` (both tokenize with
``functions.hashing.tokens_col``), so one tokenizer pins all gram
operators.

Scale notes (100 TB):
- ``gram_hash="xxhash64"`` ships 8-byte gram keys through the
  broadcast + explode instead of (n × avg-token) strings — the
  production mode.  ``gram_hash="none"`` keeps raw gram strings so
  the DuckDB oracle can reproduce the join key byte-for-byte; pytest
  pins the two modes to identical output.
- The benchmark gram set is distinct-reduced BEFORE broadcast; with B
  benchmark tokens that is ≤ B grams regardless of corpus size.  If a
  benchmark ever outgrew broadcast reach, the same code runs as a
  shuffle join by dropping the broadcast hint — semantics unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H


def _grams_from_tokens(toks: Column, n: int) -> Column:
    """token array → distinct token n-gram array (pure JVM).

    Same tokenizer + gram construction as ngram_jaccard_pairs so the
    gram space is consistent across the dedup/decontam suite; docs
    shorter than n tokens contribute their full-token gram (slice
    clamps), mirroring the DuckDB oracle's greatest(len-n+1, 1).
    Callers must filter size(toks) > 0 FIRST — on an empty token
    array the clamped slice concats to the empty-string gram.
    """
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def _doc_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, grams) with empty-token docs excluded — the token-level
    filter matches the oracle's WHERE len(toks) > 0 (a whitespace-only
    doc must not surface a spurious empty-string gram)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            H.tokens_col(F.lower(F.col(text_col))).alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .select("doc_id", _grams_from_tokens(F.col("toks"), n).alias("grams"))
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    gram_hash: str = "none",
) -> DataFrame:
    """Per-corpus-doc benchmark n-gram contamination stats.

    Returns one row per corpus document (empty-token docs excluded,
    as in the gram dedup family):
      doc_id, n_grams (distinct grams in the doc),
      n_contaminated (of those, how many appear anywhere in the
      benchmark), contamination (ratio), is_contaminated
      (contamination > threshold; threshold=0.0 means "any shared
      gram flags", the standard eval-overlap rule).

    gram_hash: "none" joins on raw gram strings (oracle-parity);
    "xxhash64" joins on 8-byte hashes (production byte diet — same
    output, pytest-pinned).
    """
    if gram_hash not in ("none", "xxhash64"):
        raise ValueError(f"unknown gram_hash mode: {gram_hash!r}")
    bench_text = bench_text_col or text_col

    def key(gram: Column) -> Column:
        return F.xxhash64(gram) if gram_hash == "xxhash64" else gram

    bench_grams = (
        benchmark.select(H.tokens_col(F.lower(F.col(bench_text))).alias("toks"))
        .filter(F.size("toks") > 0)
        .select(F.explode(_grams_from_tokens(F.col("toks"), n)).alias("gram"))
        .select(key(F.col("gram")).alias("gram_key"))
        .distinct()
    )

    docs = _doc_grams(corpus, id_col, text_col, n)

    # narrow explode → map-side broadcast join → the ONLY shuffle ships
    # (doc_id, partial count) for matched grams only
    hits = (
        docs.select("doc_id", F.explode("grams").alias("gram"))
        .select("doc_id", key(F.col("gram")).alias("gram_key"))
        .join(F.broadcast(bench_grams), "gram_key")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )

    # join-back deliberately UNhinted: hits is one row per CONTAMINATED
    # doc — usually tiny (AQE broadcasts it), but unbounded if a crawl
    # is saturated with eval text, so forcing broadcast would be the
    # one way this operator could die at 100 TB.  Both sides are
    # already narrow (16-24 bytes/row), so the fallback shuffle ships
    # ids+counts, never text.
    out = (
        docs.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
    )
    contamination = F.round(
        F.col("n_contaminated").cast("double") / F.col("n_grams"), 6
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        contamination.alias("contamination"),
        (contamination > F.lit(threshold)).alias("is_contaminated"),
    )


def exact_dedup_against(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str | None = None,
) -> DataFrame:
    """Corpus rows whose normalized text does NOT appear in reference.

    The incremental-crawl twin of exact_duplicate_groups: both sides
    key on md5(lower(trim(text))); the reference side reduces to
    distinct 16-byte keys before the join, so at 100 TB the anti-join
    ships hashes, never text.  Output keeps the corpus schema.
    """
    ref_text = ref_text_col or text_col

    def text_key(col: str) -> Column:
        return F.md5(F.lower(F.trim(F.col(col))))

    # collision-proof internal key column (ADVICE r5): withColumn on a
    # plain "text_key" would silently overwrite (then drop) a caller's
    # column of that name, breaking the keep-the-corpus-schema contract
    key_col = "__edda_text_key"
    ref_keys = reference.select(text_key(ref_text).alias(key_col)).distinct()
    return (
        corpus.withColumn(key_col, text_key(text_col))
        .join(ref_keys, key_col, "left_anti")
        .drop(key_col)
    )
