"""Snapshot-capable table catalog.

The north_rule requires Iceberg tables with snapshot checkpoints and
resume.  This sandbox has no Iceberg jars (verified — SURVEY.md env
facts), so the catalog is an interface with two implementations:

- ``ParquetSnapshotCatalog`` — parquet data directories plus a JSON
  manifest per table.  Each commit writes one new immutable directory
  and appends one history entry carrying the snapshot's schema, its
  directory and, for an append, the snapshot it extends; "commit" is
  an atomic manifest rename.  As in Iceberg, planning a read is
  metadata-only (no schema inference, no Spark job) and an append is
  a fast append: it adds files and rewrites none.  This gives the same
  contract Iceberg does at the granularity the pipeline needs: atomic
  overwrite and append, time-travel by snapshot id, rollback, and
  stage-level resume.  A frame is written by Spark; driver-held rows
  (``write_rows``: observe's run tables, the LLM verdicts) are written
  by ``pyarrow.parquet`` as one ``part-00000.parquet``, with no Spark
  job.  Either way the manifest rename is the only commit point.
- ``IcebergCatalog`` — the same interface over ``writeTo(...)`` /
  ``spark.read.table(...)``; selected automatically when a Spark
  Iceberg catalog is configured (``spark.sql.catalog.<name>`` conf),
  raising a clear error otherwise.

Replaces the reference's Postgres DDL init + FK-ordered reset
(/root/reference/entity_resolution_engine/db/connections.py:21-29,
ues_writer/writer.py:25-37): with snapshots, "reset" is just a new
snapshot and rollback is free (SURVEY.md §2.1 S9).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import arrow_rows, local_frame


class TableCatalog(ABC):
    @abstractmethod
    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> None: ...

    def write_rows(
        self, name: str, rows: list[tuple], schema: str, mode: str = "overwrite"
    ) -> None:
        """Commit driver-held ``rows`` (tuples in the DDL ``schema``'s
        column order) as ``write`` commits ``local_frame(spark, rows,
        schema)``: same rows, same recorded schema, same append check.
        This default is that call; a backend that can commit a few rows
        without a Spark job overrides it."""
        self.write(name, local_frame(self.spark, rows, schema), mode)

    @abstractmethod
    def read(self, name: str) -> DataFrame: ...

    @abstractmethod
    def exists(self, name: str) -> bool: ...

    @abstractmethod
    def snapshots(self, name: str) -> list[dict]: ...

    @abstractmethod
    def rollback(self, name: str, snapshot_id: str) -> None: ...

    @abstractmethod
    def drop(self, name: str) -> None: ...

    @abstractmethod
    def file_row_counts(self, name: str) -> list[int]:
        """Per-data-file row counts of the CURRENT snapshot, from file
        metadata only — no data scan.  This is the 100 TB-friendly
        source for per-partition stage metrics: each write-side file is
        one task's output, so the counts ARE the stage's output-skew
        profile, at O(files) footer reads instead of a full re-scan of
        the snapshot (the observe stage's former cost, VERDICT r3).
        Every backend answers it; observe has no scan to fall back to."""


class ParquetSnapshotCatalog(TableCatalog):
    """Parquet data directories plus one JSON manifest per table.

    Layout::

        root/<table>/snap-<id>/part-*.parquet    one directory per commit
        root/<table>/manifest.json               {"current": "<id>", "history": [...]}

    Each history entry is one snapshot and records what Iceberg's
    snapshot metadata does, so planning a read opens no data file:

    - ``id``, ``ts`` and ``mode`` (``overwrite`` or ``append``);
    - ``dir``: the snapshot's own data directory, ``snap-<id>``;
    - ``schema``: the frame's schema at write time
      (``df.schema.jsonValue()``);
    - ``parent``: for an append, the id of the snapshot it extends;
      ``None`` for an overwrite, or an append that started the table.

    A snapshot's rows are the data directories of its chain: follow
    ``parent`` back to the last overwrite, then read those directories
    in commit order. Every entry is O(1) in size; none copies a file
    list. ``read``, ``read_snapshot`` and ``file_row_counts`` run no
    Spark job: the read takes its schema from the manifest instead of
    inferring it from a footer.

    ``write(mode="append")`` is a fast append: it writes only the new
    rows into a new directory and never rewrites earlier ones. The
    frame's columns are aligned to the table's schema by name; a
    missing or extra column, or a changed type (nullability aside),
    raises ``ValueError`` before anything is written. An append after
    a rollback extends the rolled-back snapshot.

    ``write_rows`` commits driver-held rows the same way without Spark:
    it builds the Arrow table ``session.local_frame`` would
    (``session.arrow_rows``), applies the same append check, and writes
    ``snap-<id>/part-00000.parquet`` with ``pyarrow.parquet``.  Its
    snapshots chain, read, roll back and report footer counts like any
    other; a chain may mix the two kinds.

    No compaction is done. Once a chain holds more than 32 directories
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``), Spark
    lists their files in one job per read; the inferring read it
    replaces ran one job on every call.

    The manifest write is staged to a temp file then ``os.replace``d:
    atomic on POSIX, and the only commit point of both write paths. A
    crash mid-write never corrupts the table: readers keep seeing the
    previous snapshot (the property resume relies on).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "manifest.json")

    def _load_manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _current_manifest(self, name: str) -> dict:
        m = self._load_manifest(name)
        if m is None or m["current"] is None:
            raise FileNotFoundError(f"table {name!r} not in catalog {self.root}")
        return m

    def _commit_manifest(self, name: str, manifest: dict) -> None:
        p = self._manifest_path(name)
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)

    @staticmethod
    def _entry(name: str, manifest: dict | None, snapshot_id: str) -> dict:
        for e in manifest["history"] if manifest else []:
            if e["id"] == snapshot_id:
                return e
        raise KeyError(f"snapshot {snapshot_id} not found for {name}")

    def _chain_dirs(
        self, name: str, manifest: dict, snapshot_id: str
    ) -> tuple[list[str], dict]:
        """The data directories holding ``snapshot_id``'s rows, in
        commit order (back along ``parent`` to the last overwrite), and
        the snapshot's own entry."""
        chain = [self._entry(name, manifest, snapshot_id)]
        while chain[-1]["parent"] is not None:
            chain.append(self._entry(name, manifest, chain[-1]["parent"]))
        dirs = [os.path.join(self._tdir(name), e["dir"]) for e in reversed(chain)]
        return dirs, chain[0]

    def _scan(self, name: str, manifest: dict, snapshot_id: str) -> DataFrame:
        dirs, entry = self._chain_dirs(name, manifest, snapshot_id)
        schema = StructType.fromJson(entry["schema"])
        return self.spark.read.schema(schema).parquet(*dirs)

    def _begin(self, name: str, mode: str) -> tuple[dict, str | None, str]:
        """The table's manifest (a new one for a new table), the
        snapshot a ``mode`` write extends (the current one for an
        append, ``None`` for an overwrite or a first append) and a new
        snapshot id."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unsupported mode {mode!r}")
        manifest = self._load_manifest(name) or {"current": None, "history": []}
        parent = manifest["current"] if mode == "append" else None
        return manifest, parent, uuid.uuid4().hex[:12]

    def _commit(
        self, name: str, manifest: dict, mode: str, parent: str | None,
        snap_id: str, schema: StructType,
    ) -> None:
        manifest["history"].append(
            {
                "id": snap_id,
                "ts": time.time(),
                "mode": mode,
                "dir": f"snap-{snap_id}",
                "schema": schema.jsonValue(),
                "parent": parent,
            }
        )
        manifest["current"] = snap_id
        self._commit_manifest(name, manifest)

    # -- TableCatalog -------------------------------------------------------
    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> None:
        manifest, parent, snap_id = self._begin(name, mode)
        if parent is not None:
            names = _align(df.schema, self._entry(name, manifest, parent)["schema"], name)
            df = df.select(*[F.col(f"`{n}`") for n in names])
        df.write.mode("overwrite").parquet(os.path.join(self._tdir(name), f"snap-{snap_id}"))
        self._commit(name, manifest, mode, parent, snap_id, df.schema)

    def write_rows(
        self, name: str, rows: list[tuple], schema: str, mode: str = "overwrite"
    ) -> None:
        import pyarrow.parquet as pq

        manifest, parent, snap_id = self._begin(name, mode)
        table, struct = arrow_rows(rows, schema)
        if parent is not None:
            names = _align(struct, self._entry(name, manifest, parent)["schema"], name)
            table = table.select(names)
            struct = StructType([struct[n] for n in names])
        snap_dir = os.path.join(self._tdir(name), f"snap-{snap_id}")
        os.makedirs(snap_dir)
        pq.write_table(table, os.path.join(snap_dir, "part-00000.parquet"))
        self._commit(name, manifest, mode, parent, snap_id, struct)

    def read(self, name: str) -> DataFrame:
        m = self._current_manifest(name)
        return self._scan(name, m, m["current"])

    def read_snapshot(self, name: str, snapshot_id: str) -> DataFrame:
        return self._scan(name, self._current_manifest(name), snapshot_id)

    def exists(self, name: str) -> bool:
        m = self._load_manifest(name)
        return m is not None and m["current"] is not None

    def snapshots(self, name: str) -> list[dict]:
        m = self._load_manifest(name)
        return list(m["history"]) if m else []

    def rollback(self, name: str, snapshot_id: str) -> None:
        m = self._load_manifest(name)
        self._entry(name, m, snapshot_id)
        m["current"] = snapshot_id
        self._commit_manifest(name, m)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._tdir(name), ignore_errors=True)

    def file_row_counts(self, name: str) -> list[int]:
        """Parquet-footer row counts per part file: the current
        snapshot's directories in commit order, each sorted by file name
        so the partition ordinals are deterministic.  Footers are a few
        KB regardless of file size — O(files) metadata I/O."""
        import pyarrow.parquet as pq

        m = self._current_manifest(name)
        dirs, _ = self._chain_dirs(name, m, m["current"])
        return [
            pq.read_metadata(os.path.join(d, fn)).num_rows
            for d in dirs
            for fn in sorted(os.listdir(d))
            if fn.startswith("part-") and fn.endswith(".parquet")
        ]


def _align(have: StructType, schema_json: dict, name: str) -> list[str]:
    """The column names of ``have`` (the schema an append brings) in
    the order of the table's recorded schema; ``ValueError`` unless the
    names match and each type matches (nullability aside)."""
    want = StructType.fromJson(schema_json)
    types = {f.name: f.dataType.simpleString() for f in have}
    if sorted(have.names) != sorted(want.names) or any(
        types[f.name] != f.dataType.simpleString() for f in want
    ):
        raise ValueError(
            f"append to {name!r}: {have.simpleString()} does not match "
            f"the table's {want.simpleString()}"
        )
    return want.names


class IcebergCatalog(TableCatalog):
    """Iceberg-backed implementation (requires the Iceberg runtime jar
    and a configured ``spark.sql.catalog.<catalog>``).  Not exercisable
    in this sandbox — kept thin and real so a cluster deployment only
    swaps the catalog object."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "er"):
        conf_key = f"spark.sql.catalog.{catalog}"
        if spark.conf.get(conf_key, None) is None:
            raise RuntimeError(
                f"Iceberg catalog {catalog!r} not configured ({conf_key} unset); "
                "add the iceberg-spark-runtime jar and catalog conf, or use "
                "ParquetSnapshotCatalog"
            )
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.prefix}")

    def _fqn(self, name: str) -> str:
        return f"{self.prefix}.{name}"

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> None:
        if mode == "overwrite":
            df.writeTo(self._fqn(name)).createOrReplace()
        else:
            df.writeTo(self._fqn(name)).append()

    def read(self, name: str) -> DataFrame:
        return self.spark.read.table(self._fqn(name))

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._fqn(name))

    def snapshots(self, name: str) -> list[dict]:
        rows = self.spark.sql(
            f"SELECT snapshot_id, committed_at FROM {self._fqn(name)}.snapshots"
        ).collect()
        return [
            {"id": str(r.snapshot_id), "ts": str(r.committed_at)} for r in rows
        ]

    def rollback(self, name: str, snapshot_id: str) -> None:
        self.spark.sql(
            f"CALL {self.prefix.split('.')[0]}.system.rollback_to_snapshot"
            f"('{self._fqn(name)}', {snapshot_id})"
        )

    def drop(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._fqn(name)}")

    def file_row_counts(self, name: str) -> list[int]:
        """Iceberg answers this from its own metadata: the ``.files``
        table carries record_count per data file — no data scan."""
        rows = self.spark.sql(
            f"SELECT record_count FROM {self._fqn(name)}.files ORDER BY file_path"
        ).collect()
        return [int(r.record_count) for r in rows]


def get_catalog(spark: SparkSession, root: str, iceberg_catalog: str | None = None) -> TableCatalog:
    """Factory: Iceberg when configured, parquet+manifest otherwise."""
    if iceberg_catalog and spark.conf.get(f"spark.sql.catalog.{iceberg_catalog}", None):
        return IcebergCatalog(spark, iceberg_catalog)
    return ParquetSnapshotCatalog(spark, root)
