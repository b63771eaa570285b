"""Testdata readers (the loaders analog,
/root/reference/entity_resolution_engine/loaders/alpha_loader.py:6-23).

The reference loads 5 full tables into a dict of pandas frames; here a
table is a lazily-scanned DataFrame — projection and predicates push
down to the parquet scan via Catalyst, nothing materializes eagerly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition UP TO the session's default parallelism
    when the input has fewer partitions; never shrinks (round 6).

    Why this exists: a parquet file is split by byte ranges, but a row
    group is assigned to the split containing its midpoint — a file
    written as ONE row group (the testdata layout, and any small
    upstream extract) yields ONE non-empty scan partition no matter the
    split size, so every CPU-heavy stage downstream (normalize/feature
    pandas UDFs, per-gram banding, cosine HOFs) inherits single-core
    parallelism through caches and broadcast joins (measured: the
    34s-on-one-worker feature-UDF stage at sf1.0).  The repartition
    costs one exchange of the raw rows — noise next to the Python/JVM
    compute it unlocks — and is a no-op whenever the scan is already at
    least as wide as the session (any real multi-file table at scale),
    so it cannot shrink cluster-scale parallelism."""
    t = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= t:
        return df
    return df.repartition(t)
