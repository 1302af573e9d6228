"""Iceberg-or-Parquet sink catalog shim (SURVEY §7 "Iceberg in-sandbox").

At production scale the fan-out sinks are Iceberg tables
(``df.writeTo(tbl).append()`` — transactional append is the analog of the
reference's CRC-checked relay-log segments,
/root/reference/relay_log/src/storage/segment.rs:137-140,340).  The Iceberg
runtime jar is not shipped in this sandbox, so the shim probes once and
falls back to plain Parquet under a base dir with an atomically-written
manifest carrying the same integrity metadata (row counts + lineage).

The API is identical in both modes, so switching to real Iceberg is a
spark-submit --packages change, not a code change.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


@dataclass
class SinkCatalog:
    """Writes route tables under a base location; reads them back."""

    spark: object
    base: str
    use_iceberg: bool = False

    def __post_init__(self):
        if self.use_iceberg and not _iceberg_available(self.spark):
            self.use_iceberg = False
        os.makedirs(self.base, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.base, table)

    def _ident(self, table: str) -> str:
        """Catalog-qualified Iceberg table identifier for a route table."""
        return f"sink.{table}"

    def drop_physical(self, table: str) -> None:
        """Best-effort removal of a Parquet-leg table directory that no
        reader references any more (run AFTER the manifest commit that
        unlists it; a crash here leaves an orphan dir, never data loss).
        """
        import shutil

        shutil.rmtree(self._path(table), ignore_errors=True)

    def append(self, df, table: str, partition_by: list[str] | None = None) -> None:
        if self.use_iceberg:
            # transactional append — the relay-segment atomic-append analog
            # (relay_log_storage.rs:85-124): readers never see a torn write
            writer = df.writeTo(self._ident(table))
            if partition_by:
                writer = writer.partitionedBy(*partition_by)
            # append semantics: createOrReplace would DROP prior appends.
            # Only create the table on first write.
            if self.spark.catalog.tableExists(self._ident(table)):
                writer.append()
            else:
                writer.create()
            return
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))

    def overwrite(self, df, table: str, partition_by: list[str] | None = None) -> None:
        """FULL-replace overwrite — identical semantics on both legs.

        Iceberg uses ``createOrReplace`` (one atomic snapshot swap), NOT
        ``overwritePartitions``: dynamic overwrite keeps partitions absent
        from ``df``, so a route value written by a prior run but missing
        from this one would silently survive in Iceberg mode only (the
        route.py fan-out and checkpoint stages expect Parquet full-replace
        semantics).  Callers that want replace-only-touched-partitions at
        scale use ``overwrite_partitions``.
        """
        if self.use_iceberg:
            writer = df.writeTo(self._ident(table))
            if partition_by:
                writer = writer.partitionedBy(*partition_by)
            writer.createOrReplace()
            return
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))

    def overwrite_partitions(
        self, df, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Dynamic-partition overwrite: replace exactly the partitions
        present in ``df``, keep the rest.  The scale path for incremental
        re-runs (rewriting one day/route of a 10^12-row table must not
        rewrite — or drop — the other partitions).  On the Parquet leg this
        is the per-write ``partitionOverwriteMode=dynamic`` option, so the
        session-wide default (static) is untouched.
        """
        if self.use_iceberg:
            writer = df.writeTo(self._ident(table))
            if partition_by:
                writer = writer.partitionedBy(*partition_by)
            if self.spark.catalog.tableExists(self._ident(table)):
                writer.overwritePartitions()
            else:
                writer.create()
            return
        w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))

    def read(self, table: str, schema: str | None = None):
        """The table as a DataFrame.  ``schema`` (a DDL string) is the
        Parquet leg's read schema: given, the read runs no schema-inference
        job; Iceberg tables carry their own."""
        if self.use_iceberg:
            return self.spark.read.table(self._ident(table))
        reader = self.spark.read
        if schema:
            reader = reader.schema(schema)
        return reader.parquet(self._path(table))

    def exists(self, table: str) -> bool:
        """A root ``_SUCCESS`` or Parquet file, or a ``key=value`` partition
        directory: ``overwrite_partitions`` leaves only the latter."""
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(table))
        p = self._path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" or ("=" in f and f[0] not in "._")
            for f in os.listdir(p)
        )

    # --- manifest: atomic JSON sidecar (checkpoint-resume support) ---------

    def write_manifest(self, name: str, payload: dict) -> None:
        path = os.path.join(self.base, f"_manifest_{name}.json")
        fd, tmp = tempfile.mkstemp(dir=self.base)
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        os.replace(tmp, path)  # atomic on POSIX — no torn manifests

    def read_manifest(self, name: str) -> dict | None:
        path = os.path.join(self.base, f"_manifest_{name}.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)
