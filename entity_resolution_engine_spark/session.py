"""SparkSession factory tuned for the record-linkage workload.

Replaces the reference's env-var connection factory
(/root/reference/entity_resolution_engine/db/connections.py:14-18) with
a SparkSession builder.  Every knob here exists for a scale reason:

- AQE + skew-join: the blocking self-join is skewed (web domains are
  Zipfian) — AQE splits skewed shuffle partitions at runtime on top of
  our explicit salting (operators/blocking.py).
- Arrow: all Python compute is Arrow-batched pandas UDFs; row-at-a-time
  Python UDFs are banned in this codebase.
- shuffle.partitions ~ cores locally; on a real cluster this is set to
  2-3x total cores (or left to AQE coalescing).
- UTC session timezone: required for byte-stable comparison against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _default_driver_mem() -> str:
    """Half the host's physical RAM (``os.sysconf``), in whole GiB and
    at least 1g: the heap is only a cap, but one at or above physical
    RAM (the old fixed 48g on a 15 GB host) lets the driver grow until
    the machine, not the JVM, runs out."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2**31)}g"


def get_spark(
    app_name: str = "entity_resolution_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    the host's core count, ``os.cpu_count()``) on one machine; on a real
    cluster it is supplied by spark-submit and this argument is left
    ``None`` while ``SparkSession.builder`` picks up the cluster config.
    The driver heap is ``$SPARK_GRAFT_DRIVER_MEM``, by default half the
    host's physical RAM (``_default_driver_mem``).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~1x threads. Cluster deployments override via conf.
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # NOTE (round 6): don't be tempted to raise scan parallelism for
    # small single-file inputs via spark.sql.files.openCostInBytes —
    # a parquet ROW GROUP is assigned to the byte-range split holding
    # its midpoint, so a one-row-group file still lands entirely in one
    # task and the extra splits are empty (they only defeat the
    # partition-count check in sources.readers.fan_out, which is the
    # actual fix for CPU-heavy stages over such inputs).
    # Shuffle/spill dirs on tmpfs, OPT-IN via SPARK_GRAFT_LOCAL_DIR:
    # this sandbox's /tmp sits on a throttled virtio disk, which
    # serializes every shuffle write regardless of core count
    # (measured: the block+score phase ran 119s at BOTH local[8] and
    # local[32] with /tmp spills — zero scaling), so the repo's own
    # entry points (bench.py, scripts/bench_scaling.py, tests) set the
    # env var to /dev/shm/spark-local.  The library itself defaults to
    # Spark's disk-backed spill dirs: an unconditional tmpfs redirect
    # would ENOSPC any real deployment whose shuffle spill exceeds the
    # tmpfs (typically 50% of RAM) — round-2 ADVICE.  On a real
    # cluster this is the NVMe local-disk conf.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Tear down the active session (used by the scaling bench, which
    needs back-to-back sessions at different parallelism levels)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        # Spark caches the JVM gateway; a fresh master needs a clean slate.
        SparkSession._instantiatedSession = None  # noqa: SLF001
        SparkSession._activeSession = None  # noqa: SLF001


def arrow_rows(rows: list[tuple], schema: str):
    """Driver rows (tuples in ``schema``'s DDL column order) → ``(table,
    struct)``: a ``pyarrow.Table`` in the Arrow form of ``schema`` and
    the parsed ``StructType``.  The one conversion behind
    ``local_frame`` and the catalog's ``write_rows``.  The columns are
    built straight from the Python values, so ``None`` stays null in
    every column type (a pandas detour would turn it into NaN in double
    columns and widen int columns to double)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return table, struct


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver rows (tuples in ``schema``'s DDL column order) → a
    DataFrame that plans as an Arrow-backed ``LocalRelation`` over
    ``arrow_rows``' table.

    ``createDataFrame(list_of_tuples, ddl)`` plans as a pickled-Python
    ``LogicalRDD``: every job that reads it starts Python workers to
    unpickle the rows: on a 4-core host, counting or writing 46 rows
    took 0.41–0.50 s, against 0.10–0.16 s as an Arrow table.  Use it
    for rows Spark goes on to compute with (a join, a filter); rows
    that only need committing to a catalog table go through
    ``TableCatalog.write_rows``, which the parquet catalog writes
    without a Spark job."""
    table, struct = arrow_rows(rows, schema)
    return spark.createDataFrame(table, schema=struct)
