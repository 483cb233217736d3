"""Commit interface behind the exactly-once sink and the schema ledger.

The sink's exactly-once contract needs only three primitives — *was this
batch committed?*, *atomically record this batch's commit entry*, *list
committed entries* — so they live behind a small interface with two
implementations:

* ``LocalFSCommitLog`` — one JSON file per batch under ``_ledger/``,
  committed by atomic ``os.rename``. Correct on POSIX filesystems (the
  sandbox, HDFS via a local mount, NFS with close-to-open); NOT safe on
  object stores, where rename is copy+delete and not atomic.
* ``IcebergCommitLog`` — the cluster implementation: an Iceberg table's
  snapshot log is the ledger. ``commit`` appends an empty snapshot whose
  summary carries the property ``spark-graft.batch-id`` and the
  per-partition lineage; ``is_committed`` queries the ``<table>.snapshots``
  metadata table for that property. Iceberg's optimistic metadata swap
  gives the atomic commit point, so the ledger is object-store-safe. The
  batch's data is NOT in that snapshot: ``IdempotentBatchSink`` writes it as
  parquet under ``data/batch_id=<id>/`` first, exactly as with the local
  ledger. The code is real but requires the Iceberg runtime jars + a
  configured catalog, which this sandbox does not have — constructing it
  without them raises with provisioning instructions (and
  ``tests/test_commitlog.py`` pins the gate).

The same split applies to the dynamic-schema keep-one ledger
(``sources/dynamic.py``): ``LocalFSSchemaLedger`` is first-writer-wins via
atomic rename; on a cluster the analogue is an Iceberg/JDBC key-value table
written with ``MERGE INTO ... WHEN NOT MATCHED THEN INSERT`` (put-if-absent
under snapshot isolation).
"""
from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Protocol, runtime_checkable


@runtime_checkable
class CommitLog(Protocol):
    """Exactly-once batch ledger: the atomic commit point of the sink."""

    def is_committed(self, batch_id: int) -> bool: ...

    def commit(self, batch_id: int, entry: dict) -> None: ...

    def committed_ids(self) -> list[int]: ...

    def entry(self, batch_id: int) -> dict: ...


@dataclass
class LocalFSCommitLog:
    """POSIX-filesystem ledger: write-temp + atomic rename per batch."""

    ledger_dir: str

    def _path(self, batch_id: int) -> str:
        return os.path.join(self.ledger_dir, f"{batch_id}.json")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._path(batch_id))

    def commit(self, batch_id: int, entry: dict) -> None:
        os.makedirs(self.ledger_dir, exist_ok=True)
        tmp = os.path.join(self.ledger_dir, f".{batch_id}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f)
            # fsync BEFORE the rename: a power cut after an unflushed rename
            # could leave a zero-length ledger file that still reads as
            # committed (batch correctly skipped) but breaks entry()/lineage()
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._path(batch_id))  # atomic commit point

    def committed_ids(self) -> list[int]:
        if not os.path.isdir(self.ledger_dir):
            return []
        return sorted(
            int(f[:-5]) for f in os.listdir(self.ledger_dir) if f.endswith(".json")
        )

    def entry(self, batch_id: int) -> dict:
        with open(self._path(batch_id)) as f:
            return json.load(f)


_ICEBERG_PROVISIONING = (
    "IcebergCommitLog needs the Iceberg runtime on the classpath and a "
    "configured catalog: add the iceberg-spark-runtime jar "
    "(--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>) and "
    "set spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog. "
    "This sandbox has neither; use LocalFSCommitLog here."
)

BATCH_ID_PROP = "spark-graft.batch-id"
LINEAGE_PROP = "spark-graft.lineage"


@dataclass
class IcebergCommitLog:
    """Iceberg-snapshot-log ledger (cluster implementation, jar-gated).

    Commit protocol (all through Iceberg's atomic metadata swap — safe on
    object stores, no rename semantics assumed):

    * ``commit``: an EMPTY append to ``table`` whose snapshot summary
      carries the batch id and the lineage entry (``write_options``). The
      sink has already written the batch's data as parquet under
      ``data/batch_id=<id>/``, so data and ledger entry are two steps, as
      with the local-FS ledger: a crash between them leaves data without a
      ledger entry, which readers ignore and the replay overwrites.
    * ``is_committed`` / ``committed_ids``: read the ``<table>.snapshots``
      metadata table (a metadata-only scan of the snapshot log; no data
      files touched) filtering on the summary property.
    * replay: Structured Streaming re-delivers a batch → the property is
      already present → the sink skips the batch. A crashed half-finished
      append leaves NO snapshot (Iceberg commits are all-or-nothing), so the
      retry is clean.
    """

    spark: "object"  # SparkSession; untyped to keep this module import-light
    table: str  # catalog-qualified Iceberg table name

    def __post_init__(self) -> None:
        jvm = self.spark._jvm  # type: ignore[attr-defined]
        try:
            jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        except Exception as e:  # pragma: no cover - inverse env on a cluster
            raise RuntimeError(_ICEBERG_PROVISIONING) from e

    def _snapshots(self):
        return self.spark.sql(  # metadata table: snapshot log only, no data
            f"SELECT snapshot_id, summary FROM {self.table}.snapshots"
        )

    def is_committed(self, batch_id: int) -> bool:
        from pyspark.sql import functions as F

        return (
            self._snapshots()
            .filter(F.element_at("summary", BATCH_ID_PROP) == str(batch_id))
            .limit(1)
            .count()
            > 0
        )

    def commit(self, batch_id: int, entry: dict) -> None:
        # an EMPTY append carrying the summary properties: the sink writes
        # the batch's data elsewhere (data/batch_id=<id>/) before this call.
        # No SQL string interpolation: the entry travels as a write option.
        writer = self.spark.table(self.table).limit(0).writeTo(self.table)
        for k, v in self.write_options(batch_id, entry).items():
            writer = writer.option(k, v)
        writer.append()

    def write_options(self, batch_id: int, entry: dict) -> dict:
        """Snapshot-summary options of the ledger append."""
        return {
            f"snapshot-property.{BATCH_ID_PROP}": str(batch_id),
            f"snapshot-property.{LINEAGE_PROP}": json.dumps(entry),
        }

    def committed_ids(self) -> list[int]:
        from pyspark.sql import functions as F

        rows = (
            self._snapshots()
            .select(F.element_at("summary", BATCH_ID_PROP).alias("b"))
            .filter(F.col("b").isNotNull())
            .collect()
        )
        return sorted(int(r.b) for r in rows)

    def entry(self, batch_id: int) -> dict:
        from pyspark.sql import functions as F

        row = (
            self._snapshots()
            .filter(F.element_at("summary", BATCH_ID_PROP) == str(batch_id))
            .select(F.element_at("summary", LINEAGE_PROP).alias("e"))
            .first()
        )
        return json.loads(row.e) if row and row.e else {}


@dataclass
class LocalFSSchemaLedger:
    """Keep-one (first-writer-wins) key → columns ledger for the
    dynamic-schema stream (sources/dynamic.py): the durable analogue of the
    reference's ResolveDuplicatesCombineFn side-input map
    (common/ResolveDuplicatesCombineFn.java:21-43). Atomic-rename
    put-if-absent; the Iceberg/JDBC form is a MERGE INTO ... WHEN NOT
    MATCHED INSERT on a (key, columns) table."""

    root_dir: str

    def _path(self, key: str) -> str:
        return os.path.join(self.root_dir, key, "_schema.json")

    def get(self, key: str) -> "list[str] | None":
        p = self._path(key)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["columns"]

    def put_if_absent(self, key: str, columns: list[str], source: str) -> list[str]:
        """Record ``columns`` for ``key`` unless a schema already exists;
        returns the WINNING columns either way (keep-one). True first-writer-
        wins: the publish step is ``os.link`` (exclusive create — fails with
        EEXIST instead of clobbering, unlike rename), and the temp file name
        is per-process, so two concurrent writers cannot corrupt each other
        mid-write and the loser re-reads the winner's schema."""
        existing = self.get(key)
        if existing is not None:
            return existing
        p = self._path(key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump({"columns": columns, "source": source}, f)
        try:
            os.link(tmp, p)  # atomic publish; EEXIST = another writer won
        except FileExistsError:
            return self.get(key)  # keep-one: the first writer's schema
        finally:
            os.unlink(tmp)
        return columns
