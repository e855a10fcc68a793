"""Iceberg binding for the wave-snapshot contract (SURVEY.md §7.7).

``SnapshotStore`` is the sandbox stand-in (parquet + manifest JSON);
this module is the drop-in for real clusters where an Iceberg catalog
is configured (iceberg-spark-runtime jar + ``spark.sql.catalog.*``
confs — verified ABSENT from this sandbox's 287 shipped jars, so the
class refuses loudly at construction instead of half-working).

Mapping of the store contract onto Iceberg:

- ``commit_wave(wave, tables)``  -> per table: ``df.withColumn("_wave",
  lit(wave))`` replaces that wave's partition of ``ns.table`` (table
  auto-created partitioned by ``_wave`` on first commit), then ONE
  marker row in ``ns._waves`` carrying (wave, ts, metrics JSON, table
  names JSON) — the HEAD analog.  The summary it returns, like
  ``manifest(wave)``, maps each table to its entry ``{"table",
  "wave"}``.  Each replacement is one Iceberg snapshot; per-partition
  lineage lives in Iceberg's own snapshot/manifest metadata
  (``ns.table.snapshots`` / ``.files`` metadata tables).
- ``last_committed_wave()``      -> ``max(wave)`` of ``ns._waves``;
  a crash between table appends and the marker append leaves orphan
  rows that readers never see because every read filters
  ``wave <= last_committed_wave()``.
- ``read_wave`` / ``read_table`` / ``read_entries`` -> partition-pruned
  reads (``WHERE _wave = N`` / ``WHERE _wave <= HEAD`` / ``WHERE _wave
  IN (...)``); Iceberg prunes on the ``_wave`` partition column so a
  wave read touches one partition.
- ``lineage()``                  -> the ``_waves`` marker rows.

The commit is not two-phase-atomic across N tables the way the manifest
store is; Iceberg's unit is one table.  The marker-last protocol gives
the same reader-visible atomicity (readers gate every query on the
marker), which is the standard multi-table pattern short of a REST
catalog with multi-table transactions.
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True iff an Iceberg catalog named ``catalog`` is usable."""
    try:
        jvm_conf = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not jvm_conf:
            return False
        spark._jvm.java.lang.Class.forName(  # the runtime jar itself
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — any failure means "not usable"
        return False


class IcebergSnapshotStore:
    """Same surface as ``SnapshotStore`` (commit_wave / read_wave /
    read_table / read_entries / last_committed_wave / manifest /
    lineage), backed by Iceberg tables under ``<catalog>.<namespace>``."""

    MARKER_SCHEMA = "wave INT, ts DOUBLE, metrics STRING, tables STRING"

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"Iceberg catalog '{catalog}' is not configured (no "
                "iceberg-spark-runtime jar / spark.sql.catalog."
                f"{catalog} conf). In this sandbox use SnapshotStore; "
                "on a cluster add the runtime jar and catalog confs."
            )
        self.spark = spark
        self.ns = f"{catalog}.{namespace}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")

    # -- backend hooks ----------------------------------------------------
    # The commit/read PROTOCOL below (marker-last publish, idempotent
    # re-commit via atomic per-wave replacement, reads gated on the
    # marker) talks to storage only through these hooks, so the protocol
    # itself is exercised by tests with an in-memory backend
    # (tests/test_iceberg_store.py) even though the Iceberg SQL backend
    # needs the runtime jar this sandbox doesn't ship.

    def _tbl(self, table: str) -> str:
        return f"{self.ns}.{table}"

    def _table_exists(self, full: str) -> bool:
        return self.spark.catalog.tableExists(full)

    def _read(self, full: str) -> DataFrame:
        return self.spark.table(full)

    def _append(self, staged: DataFrame, full: str) -> None:
        # Not on the commit path (commit_wave swaps whole wave
        # partitions atomically via _replace_wave_rows) — kept as a
        # storage hook so tests can inject torn half-commit state
        # (orphan rows with no marker) through the same backend
        # surface the protocol reads from.
        staged.writeTo(full).append()

    def _replace_wave_rows(self, staged: DataFrame, full: str, col: str, wave: int) -> None:
        # ONE Iceberg snapshot replacing exactly this wave's rows
        # (OverwriteByExpression).  Atomicity here is what makes a
        # same-wave writer race lose CLEANLY: two concurrent
        # commit_wave(N) calls each swap the partition whole, so the
        # table ends with exactly one writer's rows — never the
        # delete/delete/append/append duplication a torn
        # delete-then-append pair allows.  (Cross-TABLE agreement
        # between racing writers still needs catalog-level multi-table
        # transactions; see commit_wave.)
        staged.writeTo(full).overwrite(F.col(col) == F.lit(int(wave)))

    def _create_partitioned(self, staged: DataFrame, full: str) -> None:
        staged.writeTo(full).partitionedBy(F.col("_wave")).create()

    def _ensure_marker(self) -> None:
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._tbl('_waves')} "
            f"({self.MARKER_SCHEMA}) USING iceberg"
        )

    # -- commit protocol -------------------------------------------------
    def commit_wave(
        self,
        wave: int,
        tables: dict[str, DataFrame],
        metrics: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Marker-last publish with per-table ATOMIC wave replacement.

        Each data table's wave partition is swapped in one Iceberg
        snapshot (``_replace_wave_rows``), so (a) re-running a crashed
        commit_wave(N) never duplicates rows, and (b) two writers
        racing the SAME wave resolve per table to exactly one writer's
        rows — last replace wins, no interleaved mixture.  The marker
        is replaced the same way, last, so the wave becomes (or stays)
        reader-visible only after some writer's full row set is in
        place.  What racing writers do NOT get is cross-table
        agreement: writer A can win table X while B wins table Y, and
        the surviving marker's metrics name only one of them — that
        needs catalog-level multi-table transactions (REST catalog),
        out of protocol scope and encoded as such in
        tests/test_iceberg_store.py."""
        summary: dict[str, Any] = {"wave": wave, "ts": time.time(), "tables": {}}
        for name, df in tables.items():
            # Reserved `_wave` partition column: several engine tables
            # (e.g. episodes, fetch_log) already carry their own `wave` column.
            staged = df.withColumn("_wave", F.lit(wave).cast("int"))
            full = self._tbl(name)
            if self._table_exists(full):
                self._replace_wave_rows(staged, full, "_wave", wave)
            else:
                self._create_partitioned(staged, full)
            summary["tables"][name] = {"table": full, "wave": wave}
        self._ensure_marker()
        # Idempotent re-commit: one marker row per wave (atomic swap).
        marker = self.spark.createDataFrame(
            [(wave, summary["ts"], json.dumps(metrics or {}), json.dumps(list(tables)))],
            self.MARKER_SCHEMA,
        )
        self._replace_wave_rows(marker, self._tbl("_waves"), "wave", wave)  # marker LAST = publish
        summary["metrics"] = metrics or {}
        return summary

    # -- readers ---------------------------------------------------------
    def last_committed_wave(self) -> int | None:
        if not self._table_exists(self._tbl("_waves")):
            return None
        row = self._read(self._tbl("_waves")).agg(F.max("wave")).first()
        return None if row[0] is None else int(row[0])

    def read_wave(self, table: str, wave: int) -> DataFrame:
        # Gate on the marker: orphan rows from a torn commit (appends
        # landed, marker didn't) must never be reader-visible — the
        # module docstring's 'readers never see' claim, enforced.
        head = self.last_committed_wave()
        if head is None or wave > head:
            raise FileNotFoundError(f"wave {wave} not committed")
        return (
            self._read(self._tbl(table))
            .where(F.col("_wave") == wave)  # partition-pruned scan
            .drop("_wave")
        )

    def read_table(self, table: str, up_to_wave: int | None = None) -> DataFrame:
        head = self.last_committed_wave()
        if head is None:
            raise FileNotFoundError("no committed wave")
        last = head if up_to_wave is None else min(head, up_to_wave)
        return (
            self._read(self._tbl(table))
            .where(F.col("_wave") <= last)
            .drop("_wave")
        )

    def read_entries(self, entries: list[dict[str, Any]]) -> DataFrame:
        """One read of the ``{"table", "wave"}`` entries that
        ``commit_wave`` returns and ``manifest`` records, all of one
        table: its rows of those waves."""
        (full,) = {e["table"] for e in entries}
        return (
            self._read(full)
            .where(F.col("_wave").isin([e["wave"] for e in entries]))
            .drop("_wave")
        )

    def manifest(self, wave: int) -> dict[str, Any]:
        row = (
            self._read(self._tbl("_waves")).where(F.col("wave") == wave).first()
        )
        if row is None:
            raise FileNotFoundError(f"wave {wave} not committed")
        return {
            "wave": wave,
            "ts": row["ts"],
            "metrics": json.loads(row["metrics"]),
            "tables": {
                name: {"table": self._tbl(name), "wave": wave}
                for name in json.loads(row["tables"])
            },
        }

    def lineage(self) -> list[dict[str, Any]]:
        head = self.last_committed_wave()
        if head is None:
            return []
        return [self.manifest(w) for w in range(head + 1)]
