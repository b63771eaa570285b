"""Stage 1 — normalization.

web_pages → normalized_pages: canonical text per url (byte-identical
to the reference extractor — the pandas UDF and the pytest oracle share
one Python implementation, functions/normalize.py), match-key
normalization, domain extraction (pure JVM), token count, exact-dup
md5.  Analog of the reference's normalizer layer
(/root/reference/entity_resolution_engine/normalizers/name_normalizer.py:14-26)
applied as one projection over the scan — Catalyst prunes unused
web_pages columns and pushes any caller filter into the parquet read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import tokens_col
from ..functions.normalize import canonical_text_udf, domain_col, normalize_text_udf
from ..sources.readers import fan_out


def normalize_pages(web_pages: DataFrame) -> DataFrame:
    """web_pages → (url, domain, warc_ts, lang, canonical_text,
    norm_text, text_md5, n_tokens): the normalized pages, one row per
    input row, as the select below lays them out."""
    # fan_out: single-row-group inputs otherwise pin the two normalize
    # pandas UDFs — and, through the cache + downstream broadcast
    # joins, the whole block/score chain — to one core (round 6)
    web_pages = fan_out(web_pages)
    return (
        web_pages.withColumn(
            "canonical_text", canonical_text_udf(F.col("html"), F.col("text"))
        )
        .withColumn("norm_text", normalize_text_udf(F.col("canonical_text")))
        .withColumn("domain", domain_col(F.col("url")))
        .withColumn("text_md5", F.md5(F.col("norm_text")))
        .withColumn("n_tokens", F.size(tokens_col(F.col("norm_text"))))
        .select(
            "url",
            "domain",
            "warc_ts",
            "lang",
            "canonical_text",
            "norm_text",
            "text_md5",
            "n_tokens",
        )
    )
