"""The input contract: the explicit StructType of ``web_pages``.

Inference is never used (SURVEY.md §1.3).  Only the input needs a
schema declared here: a file stream cannot infer one, so
``streaming/incremental.py`` reads ``web_pages`` with this one.  Every
table the engine writes gets its schema from the operator that
produces it, and the snapshot catalog's manifest records that schema
(``df.schema.jsonValue()``) with each snapshot and reads the table back
with it (``sources/catalog.py``).  The manifest is the one record of a
written table's schema; a second copy here would drift from it.
"""

from __future__ import annotations

from pyspark.sql import types as T

# primary input (BASELINE.json input_hint)
WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)
