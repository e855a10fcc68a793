"""IcebergSnapshotStore: the commit/read protocol (marker-last publish,
idempotent re-commit, reads gated on the marker) exercised through an
in-memory backend — the Iceberg SQL backend itself needs the runtime
jar this sandbox doesn't ship, and the refusal path for that is tested
too.  The same scenario also runs against the parquet SnapshotStore so
the two stores demonstrably share the contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.datagen import CorpusParams, generate_corpus
from crawler_apple_podcast_spark.datagen.corpus import to_spark
from crawler_apple_podcast_spark.plans.iceberg_store import (
    IcebergSnapshotStore,
    iceberg_available,
)
from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore
from crawler_apple_podcast_spark.plans.wave_loop import WaveConfig, run_crawl


class MemStore(IcebergSnapshotStore):
    """IcebergSnapshotStore with the five storage hooks re-pointed at an
    in-memory table dict; the protocol methods run UNCHANGED."""

    def __init__(self, spark):
        # deliberately skip the availability check — there is no catalog
        self.spark = spark
        self.ns = "mem.ns"
        self.tables = {}

    def _table_exists(self, full):
        return full in self.tables

    def _read(self, full):
        return self.tables[full]

    def _append(self, staged, full):
        cur = self.tables.get(full)
        out = staged if cur is None else cur.unionByName(staged)
        self.tables[full] = out.localCheckpoint()  # durable-snapshot analog

    def _create_partitioned(self, staged, full):
        self.tables[full] = staged.localCheckpoint()

    def _replace_wave_rows(self, staged, full, col, wave):
        # the Iceberg OverwriteByExpression analog: ONE atomic swap of
        # the wave's rows (materialize first, then a single assignment)
        kept = self.tables[full].where(F.col(col) != wave)
        self.tables[full] = kept.unionByName(staged).localCheckpoint()

    def _ensure_marker(self):
        if self._tbl("_waves") not in self.tables:
            self.tables[self._tbl("_waves")] = self.spark.createDataFrame(
                [], self.MARKER_SCHEMA
            )


def _wave_df(spark, wave, n=3):
    return spark.createDataFrame(
        [(wave * 10 + i, f"u{wave}-{i}") for i in range(n)], "id INT, url STRING"
    )


def test_refuses_without_catalog(spark):
    assert not iceberg_available(spark, "nosuchcatalog")
    with pytest.raises(RuntimeError, match="not configured"):
        IcebergSnapshotStore(spark, "nosuchcatalog", "crawl")


def test_commit_read_back_and_lineage(spark):
    st = MemStore(spark)
    st.commit_wave(0, {"fetch_log": _wave_df(spark, 0)}, metrics={"w": 0})
    st.commit_wave(1, {"fetch_log": _wave_df(spark, 1)}, metrics={"w": 1})
    assert st.last_committed_wave() == 1
    assert sorted(r.id for r in st.read_wave("fetch_log", 1).collect()) == [10, 11, 12]
    assert st.read_table("fetch_log").count() == 6
    assert [m["metrics"] for m in st.lineage()] == [{"w": 0}, {"w": 1}]
    assert st.read_wave("fetch_log", 1).columns == ["id", "url"]  # _wave dropped


def test_torn_commit_is_invisible_and_retry_safe(spark):
    """Crash after the table append but before the marker: orphan rows
    at _wave=1 are never reader-visible, and re-running commit_wave(1)
    does not duplicate them."""
    st = MemStore(spark)
    st.commit_wave(0, {"fetch_log": _wave_df(spark, 0)})

    # simulate the torn half-commit through the same hooks the real
    # backend uses: rows landed, marker did not
    orphan = _wave_df(spark, 1).withColumn("_wave", F.lit(1).cast("int"))
    st._append(orphan, st._tbl("fetch_log"))

    assert st.last_committed_wave() == 0
    with pytest.raises(FileNotFoundError):
        st.read_wave("fetch_log", 1)
    assert st.read_table("fetch_log").count() == 3  # orphans filtered

    # retry the commit: delete-before-append removes the orphans first
    st.commit_wave(1, {"fetch_log": _wave_df(spark, 1)})
    assert st.last_committed_wave() == 1
    assert st.read_wave("fetch_log", 1).count() == 3  # not 6
    assert st.read_table("fetch_log").count() == 6


def test_recommit_same_wave_is_idempotent(spark):
    st = MemStore(spark)
    st.commit_wave(0, {"t": _wave_df(spark, 0)}, metrics={"try": 1})
    st.commit_wave(0, {"t": _wave_df(spark, 0)}, metrics={"try": 2})
    assert st.read_wave("t", 0).count() == 3
    assert st._read(st._tbl("_waves")).count() == 1  # one marker row
    assert st.manifest(0)["metrics"] == {"try": 2}


@pytest.mark.parametrize("kind", ["parquet", "iceberg-protocol"])
def test_stores_share_the_contract(spark, tmp_path, kind):
    """Identical scenario against both stores: same reader-visible
    rows, same head, same uncommitted-wave refusal."""
    st = SnapshotStore(spark, str(tmp_path)) if kind == "parquet" else MemStore(spark)
    st.commit_wave(0, {"fetch_log": _wave_df(spark, 0)}, metrics={})
    st.commit_wave(1, {"fetch_log": _wave_df(spark, 1, n=2)}, metrics={})
    assert st.last_committed_wave() == 1
    assert sorted(r.id for r in st.read_wave("fetch_log", 0).collect()) == [0, 1, 2]
    assert st.read_table("fetch_log").count() == 5
    with pytest.raises(Exception):
        st.read_wave("fetch_log", 7)


def test_crawl_kill_and_resume_matches_snapshot_store(spark, tmp_path):
    """``run_crawl`` runs on the Iceberg protocol: a crawl killed after
    2 waves and resumed commits the same ``fetch_log`` and ``episodes``
    as an uninterrupted crawl on the parquet store."""
    pages, seeds = to_spark(
        spark, *generate_corpus(CorpusParams(n_shows=4, max_pages_per_show=3))
    )
    cfg = WaveConfig(use_politeness=False)
    want = SnapshotStore(spark, str(tmp_path))
    run_crawl(spark, pages, seeds, cfg, store=want)

    st = MemStore(spark)
    run_crawl(spark, pages, seeds, WaveConfig(use_politeness=False, max_waves=2), store=st)
    assert st.last_committed_wave() == 1
    run_crawl(spark, pages, seeds, cfg, store=st, resume=True)

    assert st.last_committed_wave() == want.last_committed_wave() > 1
    for table in ("fetch_log", "episodes"):
        got = sorted(map(repr, st.read_table(table).collect()))
        assert got == sorted(map(repr, want.read_table(table).collect())), table


def test_concurrent_same_wave_writers_leave_one_consistent_winner(spark):
    """Two writers racing commit_wave(N) (VERDICT r4 #8): writer B's
    ENTIRE commit lands between writer A's table replacement and A's
    marker publish — the worst interleaving the marker-last protocol
    admits.  Contract encoded here: per table, atomic wave replacement
    means exactly ONE writer's complete row set survives (never a
    duplicated or interleaved mixture), the marker holds exactly one
    row for the wave, and readers see a consistent committed wave.
    What the protocol does NOT promise (and this test pins): the
    surviving marker's metrics may name the LOSING row-writer —
    cross-table/marker agreement needs catalog-level multi-table
    transactions."""
    a_rows = [(1, "a1"), (2, "a2")]
    b_rows = [(1, "b1"), (2, "b2"), (3, "b3")]

    class RacingStore(MemStore):
        def __init__(self, spark):
            super().__init__(spark)
            self._interleave = False

        def _replace_wave_rows(self, staged, full, col, wave):
            fire = self._interleave and full == self._tbl("fetch_log")
            self._interleave = False  # one shot, and not for B's run
            super()._replace_wave_rows(staged, full, col, wave)
            if fire:
                # writer B commits the whole wave while A is between
                # its table write and its marker publish
                self.commit_wave(
                    1,
                    {"fetch_log": spark.createDataFrame(b_rows, "id INT, url STRING")},
                    metrics={"writer": "B"},
                )

    st = RacingStore(spark)
    st.commit_wave(0, {"fetch_log": _wave_df(spark, 0)}, metrics={"w": 0})
    st._interleave = True
    st.commit_wave(
        1,
        {"fetch_log": spark.createDataFrame(a_rows, "id INT, url STRING")},
        metrics={"writer": "A"},
    )

    assert st.last_committed_wave() == 1
    got = sorted((r.id, r.url) for r in st.read_wave("fetch_log", 1).collect())
    # exactly one writer's COMPLETE set — B's table write raced last
    assert got == sorted(b_rows)
    # marker: exactly one row for wave 1; its metrics name A (the last
    # marker writer), which is NOT the surviving row-writer — the
    # documented no-cross-table-agreement hole, pinned
    markers = [m for m in st.lineage() if m["wave"] == 1]
    assert len(markers) == 1
    assert markers[0]["metrics"] == {"writer": "A"}
