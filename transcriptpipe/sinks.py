"""Sink catalog — snapshot-committed, resumable table writes.

The production design is Iceberg: each sink is an Iceberg table, a run
appends one snapshot per sink, and the checkpoint is "which (run_id, sink)
snapshots are committed" read from the table metadata — giving exactly-once
re-runs via snapshot lineage (north_rule requirement).

The sandbox has no Iceberg jars (verified, SURVEY.md §7.3.3), so this module
emulates the same contract over parquet directories + an atomically-replaced
JSON manifest per table:

    <root>/<table>/data/<run_id>/part-*.parquet   -- immutable data files
    <root>/<table>/_manifest.json                 -- ordered snapshot log

A snapshot records run_id, source fingerprint, row count, per-partition
lineage (files + row counts), and commit time. ``committed(run_id, table)``
is the resume predicate: a re-run of the same run_id skips tables that
already have its snapshot (idempotent, exactly-once per run_id) and writes
the missing ones. Readers see only files referenced by the manifest, so a
killed half-written run is invisible — the same isolation Iceberg gives.

On a real cluster, swap SinkCatalog for df.writeTo(<iceberg table>).append()
guarded by the same run_id lookup against the Iceberg snapshot summary.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class SinkCatalog:
    root: str

    def __post_init__(self) -> None:
        # Spark resolves a relative path against the JVM's working
        # directory, this module against the Python process's: pin the
        # root to the Python cwd at construction so both name one place
        self.root = os.path.abspath(self.root)

    # ---------------------------------------------------------- manifest --
    def _mpath(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    def manifest(self, table: str) -> dict:
        p = self._mpath(table)
        if not os.path.exists(p):
            return {"table": table, "snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _commit(self, table: str, snapshot: dict) -> None:
        """Atomic manifest replace (tmp + rename): a crash mid-commit leaves
        the previous manifest intact — the new data files are orphans, not
        visible rows."""
        m = self.manifest(table)
        m["snapshots"].append(snapshot)
        p = self._mpath(table)
        tmp = f"{p}.tmp.{uuid.uuid4().hex}"
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, p)

    def committed(self, run_id: str, table: str) -> bool:
        return any(s["run_id"] == run_id for s in self.manifest(table)["snapshots"])

    # ------------------------------------------------------------- write --
    def write(self, df: DataFrame, table: str, run_id: str,
              source_snapshot: str | None = None) -> dict | None:
        """Append one snapshot. No-op (returns None) if run_id already
        committed for this table — the resume path."""
        if self.committed(run_id, table):
            return None
        data_dir = os.path.join(self.root, table, "data", run_id)
        df.write.mode("overwrite").parquet(data_dir)
        files, lineage, n_rows = [], [], 0
        import pyarrow.parquet as pq

        for fn in sorted(os.listdir(data_dir)):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(data_dir, fn)
            nr = pq.ParquetFile(fp).metadata.num_rows
            files.append(os.path.join("data", run_id, fn))
            lineage.append({"file": os.path.join("data", run_id, fn), "n_rows": nr})
            n_rows += nr
        snapshot = {
            "id": uuid.uuid4().hex,
            "run_id": run_id,
            "source_snapshot": source_snapshot,
            "operation": "append",
            "n_rows": n_rows,
            "files": files,
            "partition_lineage": lineage,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._commit(table, snapshot)
        return snapshot

    # -------------------------------------------------------------- read --
    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Read only manifest-referenced files (snapshot isolation)."""
        m = self.manifest(table)
        paths = [
            os.path.join(self.root, table, f)
            for s in m["snapshots"]
            for f in s["files"]
        ]
        if not paths:
            raise FileNotFoundError(f"no committed snapshots for table {table}")
        return spark.read.parquet(*paths)

    def total_rows(self, table: str) -> int:
        return sum(s["n_rows"] for s in self.manifest(table)["snapshots"])


class IcebergCatalog:
    """The production SinkCatalog: every sink is an Iceberg table, a run
    appends ONE snapshot per sink stamped with ``run-id`` in the snapshot
    summary, and ``committed(run_id, table)`` reads the table's snapshot
    metadata — the same exactly-once contract SinkCatalog emulates with
    JSON manifests, but on real snapshot lineage (time travel, compaction,
    and concurrent readers come for free).

    Cluster config (documented; the sandbox has no Iceberg jars, so this
    class is selected by ``catalog_for`` only when the session carries the
    Iceberg extension):

        spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
        spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.<name>.type=hive | hadoop | rest
        spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:<ver>

    Reference analog: the reference's output commit discipline is one
    atomic write per completed document stream (src/aushape.c single-shot
    convert); snapshot-per-run is the table-format equivalent."""

    def __init__(self, spark: SparkSession, namespace: str = "transcriptpipe",
                 catalog_name: str = "spark_catalog"):
        self.spark = spark
        self.namespace = namespace
        self.catalog_name = catalog_name
        self.root = f"{catalog_name}.{namespace}"  # SinkCatalog-protocol attr

    def _qualified(self, table: str) -> str:
        return f"{self.catalog_name}.{self.namespace}.{table}"

    # ---------------------------------------------------------- manifest --
    def _table_exists(self, table: str) -> bool:
        """Existence probe for the sink table. A probe (rather than a broad
        try/except around the metadata query) keeps transient failures
        loud: if the snapshots query dies for any reason OTHER than the
        table not existing, the exception propagates instead of being
        misread as "no snapshots" — which would make committed() return
        False and write() append a duplicate snapshot, silently breaking
        the exactly-once resume contract."""
        return self.spark.catalog.tableExists(self._qualified(table))

    def _snapshots(self, table: str):
        """Rows of the Iceberg snapshots metadata table ([] only when the
        table does not exist yet; every other failure propagates)."""
        if not self._table_exists(table):
            return []
        return self.spark.sql(
            f"SELECT snapshot_id, summary FROM {self._qualified(table)}.snapshots"
        ).collect()

    def committed(self, run_id: str, table: str) -> bool:
        return any(
            (s["summary"] or {}).get("run-id") == run_id
            for s in self._snapshots(table)
        )

    # ------------------------------------------------------------- write --
    def write(self, df: DataFrame, table: str, run_id: str,
              source_snapshot: str | None = None) -> dict | None:
        """Append one snapshot stamped with run-id (and the source snapshot
        for lineage). No-op if the run_id is already committed — the same
        resume path as SinkCatalog.write."""
        if self.committed(run_id, table):
            return None
        writer = (
            df.writeTo(self._qualified(table))
            .option("snapshot-property.run-id", run_id)
            .option("snapshot-property.source-snapshot", source_snapshot or "")
        )
        # Explicit existence branch, NOT try-append/except-create: an append
        # failing for a real reason (schema mismatch, auth, transient) must
        # propagate, not be reinterpreted as "table missing" and turned into
        # a create() that masks the original error.
        if self._table_exists(table):
            writer.append()
        else:
            # first write: create the table (partitioning/sort order can be
            # ALTERed afterwards; sinks are append-only)
            writer.using("iceberg").create()
        snap = next(
            (s for s in self._snapshots(table)
             if (s["summary"] or {}).get("run-id") == run_id),
            None,
        )
        return {
            "id": snap["snapshot_id"] if snap else None,
            "run_id": run_id,
            "source_snapshot": source_snapshot,
            "operation": "append",
        }

    # -------------------------------------------------------------- read --
    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.table(self._qualified(table))

    def total_rows(self, table: str) -> int:
        return self.spark.read.table(self._qualified(table)).count()


def has_iceberg(spark: SparkSession) -> bool:
    """True when the session was launched with the Iceberg extension (the
    jar-detection gate for catalog_for)."""
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        return False
    return "IcebergSparkSessionExtensions" in ext


def catalog_for(spark: SparkSession, root: str, prefer: str | None = None):
    """Pick the sink catalog: IcebergCatalog when the session carries the
    Iceberg extension (or prefer='iceberg'), else the manifest-emulated
    SinkCatalog over ``root``. ``prefer='manifest'`` forces the fallback."""
    if prefer == "manifest":
        return SinkCatalog(root)
    if prefer == "iceberg" or (prefer is None and has_iceberg(spark)):
        return IcebergCatalog(spark)
    return SinkCatalog(root)
