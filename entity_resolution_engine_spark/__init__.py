"""entity_resolution_engine_spark — a PySpark-native record-linkage engine.

A from-scratch, idiomatic-Spark rebuild of the capabilities of the
reference entity-resolution engine (bintu27/entity-resolution-engine):
loaders → normalizers → blocking → pairwise scoring → validation
routing → transitive clustering → survivorship merge, plus
metrics / anomaly-detection / quality-gate observability — expressed
as distributed DataFrame operators designed for 100 TB-scale inputs.

Layout
------
- ``session``    : SparkSession factory (AQE, Arrow, skew-join on).
- ``schemas``    : the ``web_pages`` input StructType; every written
                   table's schema is recorded in its catalog manifest
                   (no inference anywhere).
- ``config``     : thresholds / weights / blocking parameters.
- ``sources``    : deterministic synthetic web_pages generator, the
                   snapshot catalog (parquet+manifest, Iceberg-ready),
                   and testdata readers.
- ``functions``  : scalar/vectorized functions — canonical text
                   normalization, similarity metrics, MinHash/SimHash,
                   text statistics.
- ``operators``  : pipeline stages — blocking, scoring, routing,
                   connected-components clustering, survivorship merge,
                   dedup suite, ANN search, multimodal plumbing,
                   metrics/anomalies/quality gates.
- ``plans``      : stage sequencing with checkpoint/resume.
- ``streaming``  : incremental resolution via Structured Streaming.
"""

__version__ = "0.1.0"
