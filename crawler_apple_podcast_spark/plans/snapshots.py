"""Checkpointed wave snapshots with lineage (SURVEY.md §7.7).

North_rule asks for one Iceberg commit per crawl wave with
per-partition lineage + metrics, resumable after a kill.  This sandbox
has no iceberg-spark-runtime jar (verified against the 287 jars shipped
with PySpark 4.1.2), so the same contract is provided behind a small
storage interface with a parquet + manifest-JSON backend:

    <root>/<table>/wave=<N>/...parquet      (data files)
    <root>/_manifests/wave-<N>.json         (commit record)
    <root>/_manifests/HEAD.json             (atomically renamed last)

The commit record maps each table to ``{"path", "schema"}``, where
``schema`` is the ``df.schema.json()`` the wave was written with.
Readers pass it to the parquet reader, so reading a committed wave back
starts no schema-inference job.  A record without ``schema`` (written
before it was recorded) or a table whose waves differ in schema is read
by inference.

A wave is committed iff HEAD points at it; data written for a wave that
never reached HEAD is invisible to readers, so a killed job resumes
from the last committed wave exactly — the Iceberg snapshot semantics,
minus the file format.  On a real cluster ``IcebergSnapshotStore`` is
the drop-in (``writeTo(...).append()`` + snapshot summary properties).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(self._mdir(), exist_ok=True)

    # -- paths -----------------------------------------------------------
    def _mdir(self) -> str:
        return os.path.join(self.root, "_manifests")

    def _head_path(self) -> str:
        return os.path.join(self._mdir(), "HEAD.json")

    def _data_dir(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave}")

    # -- commit protocol -------------------------------------------------
    def commit_wave(
        self,
        wave: int,
        tables: dict[str, DataFrame],
        metrics: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Write every table's wave partition, then atomically publish
        the manifest.  Nothing is visible until HEAD moves."""
        summary: dict[str, Any] = {"wave": wave, "ts": time.time(), "tables": {}}
        for name, df in tables.items():
            path = self._data_dir(name, wave)
            df.write.mode("overwrite").parquet(path)
            summary["tables"][name] = {"path": path, "schema": df.schema.json()}
        summary["metrics"] = metrics or {}
        summary["parent_wave"] = wave - 1 if wave > 0 else None

        mpath = os.path.join(self._mdir(), f"wave-{wave}.json")
        with open(mpath, "w") as f:
            json.dump(summary, f)
        # atomic publish
        fd, tmp = tempfile.mkstemp(dir=self._mdir())
        with os.fdopen(fd, "w") as f:
            json.dump({"wave": wave, "manifest": mpath}, f)
        os.replace(tmp, self._head_path())
        return summary

    # -- readers ---------------------------------------------------------
    def last_committed_wave(self) -> int | None:
        try:
            with open(self._head_path()) as f:
                return json.load(f)["wave"]
        except FileNotFoundError:
            return None

    def manifest(self, wave: int) -> dict[str, Any]:
        with open(os.path.join(self._mdir(), f"wave-{wave}.json")) as f:
            return json.load(f)

    def _read(self, paths: list[str], schema: str | None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(*paths)

    def read_wave(self, table: str, wave: int) -> DataFrame:
        try:
            entry = self.manifest(wave)["tables"].get(table, {})
        except FileNotFoundError:
            entry = {}
        return self._read([self._data_dir(table, wave)], entry.get("schema"))

    def read_table(self, table: str, up_to_wave: int | None = None) -> DataFrame:
        """Union of all committed wave partitions of ``table`` (the
        Iceberg-table view).  Uncommitted directories are ignored."""
        head = self.last_committed_wave()
        if head is None:
            raise FileNotFoundError("no committed wave")
        last = head if up_to_wave is None else min(head, up_to_wave)
        entries = [
            m["tables"][table]
            for m in (self.manifest(w) for w in range(last + 1))
            if table in m["tables"]
        ]
        if not entries:
            raise FileNotFoundError(f"table {table} has no committed waves")
        return self.read_entries(entries)

    def read_entries(self, entries: list[dict[str, Any]]) -> DataFrame:
        """One read of the ``{"path", "schema"}`` entries that manifests
        record per table (and ``commit_wave`` returns), with their
        schema when all agree, by inference otherwise."""
        schemas = {e.get("schema") for e in entries}
        schema = schemas.pop() if len(schemas) == 1 else None
        return self._read([e["path"] for e in entries], schema)

    def lineage(self) -> list[dict[str, Any]]:
        """Manifest chain from wave 0 to HEAD (per-wave metrics included)."""
        head = self.last_committed_wave()
        if head is None:
            return []
        return [self.manifest(w) for w in range(head + 1)]
