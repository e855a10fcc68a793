"""Checkpoint/commit/resume contract (north_rule: a killed job resumes
from the last committed frontier snapshot with identical results)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore
from crawler_apple_podcast_spark.plans.wave_loop import WaveConfig, run_crawl


def test_commit_and_read_back(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    df = spark.createDataFrame([(1, "a")], "k INT, v STRING")
    store.commit_wave(0, {"t": df}, metrics={"n": 1})
    store.commit_wave(1, {"t": df.withColumn("k", F.lit(2))}, metrics={"n": 1})
    assert store.last_committed_wave() == 1
    assert store.read_table("t").count() == 2
    assert store.read_wave("t", 1).collect()[0].k == 2
    assert [m["wave"] for m in store.lineage()] == [0, 1]


def test_reads_carry_the_committed_schema(spark, tmp_path, job_group):
    """Read-backs pass the schema recorded at commit, so neither reader
    starts a schema-inference job before an action."""
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    df = spark.createDataFrame([(1, "a", [2.5])], "k INT, v STRING, xs ARRAY<DOUBLE>")
    store.commit_wave(0, {"t": df})
    store.commit_wave(1, {"t": df})
    assert store.manifest(1)["tables"]["t"]["schema"] == df.schema.json()
    with job_group("snapshot-read-back") as g:
        one = store.read_wave("t", 1)
        both = store.read_table("t")
        assert g.jobs() == 0
    assert one.schema.simpleString() == both.schema.simpleString() == df.schema.simpleString()
    assert one.collect() == df.collect()
    assert both.collect() == df.collect() * 2


def test_read_table_infers_when_wave_schemas_differ(spark, tmp_path):
    """Wave 1 of ``test_commit_and_read_back``'s table has a non-nullable
    ``k``: the recorded schemas differ, so ``read_table`` infers."""
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    df = spark.createDataFrame([(1, "a")], "k INT, v STRING")
    store.commit_wave(0, {"t": df})
    store.commit_wave(1, {"t": df.withColumn("k", F.lit(2))})
    schemas = {store.manifest(w)["tables"]["t"]["schema"] for w in (0, 1)}
    assert len(schemas) == 2
    assert sorted(r.k for r in store.read_table("t").collect()) == [1, 2]


def test_manifest_without_schema_reads_by_inference(spark, tmp_path):
    """A manifest written before schemas were recorded still reads."""
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
    store.commit_wave(0, {"t": df})
    store.commit_wave(1, {"t": df})
    for w in (0, 1):
        path = os.path.join(store.root, "_manifests", f"wave-{w}.json")
        m = store.manifest(w)
        del m["tables"]["t"]["schema"]
        with open(path, "w") as f:
            json.dump(m, f)
    assert sorted(store.read_wave("t", 1).collect()) == sorted(df.collect())
    assert store.read_table("t").count() == 4


def test_uncommitted_wave_invisible(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    df = spark.createDataFrame([(1,)], "k INT")
    store.commit_wave(0, {"t": df})
    # simulate a crash mid-wave-1: data written, manifest never published
    df.write.mode("overwrite").parquet(str(tmp_path / "snap" / "t" / "wave=1"))
    assert store.last_committed_wave() == 0
    assert store.read_table("t").count() == 1


def test_kill_and_resume_crawl(spark, corpus, tmp_path):
    """Run to completion; rerun killed-after-wave-1; resume; outputs equal."""
    pages, seeds = corpus
    cfg = WaveConfig(use_politeness=False)

    full_store = SnapshotStore(spark, str(tmp_path / "full"))
    full = run_crawl(spark, pages, seeds, cfg, store=full_store)
    want = sorted(
        (r.seed_index, r.offset, r.pos, r.id) for r in full.episodes.collect()
    )
    total_waves = full.n_waves

    # "killed" run: stop after 2 committed waves
    kill_store = SnapshotStore(spark, str(tmp_path / "killed"))
    run_crawl(spark, pages, seeds, WaveConfig(use_politeness=False, max_waves=2),
              store=kill_store)
    assert kill_store.last_committed_wave() == 1

    # resume from HEAD with a fresh store handle (new "job")
    resume_store = SnapshotStore(spark, str(tmp_path / "killed"))
    run_crawl(spark, pages, seeds, cfg, store=resume_store, resume=True)
    assert resume_store.last_committed_wave() == total_waves - 1

    got = sorted(
        (r.seed_index, r.offset, r.pos, r.id)
        for r in resume_store.read_table("episodes").collect()
    )
    assert got == want


def test_crawl_opens_no_manifest_per_wave(spark, corpus, tmp_path, monkeypatch):
    """A crawl reads its committed waves back from the entries each
    commit returns, and a resumed crawl walks the manifests once, so
    a 6-wave crawl killed after 3 waves and resumed opens 4 manifests
    (3 on resume, plus the frontier of HEAD).  Re-reading ``fetch_log``
    through ``read_table`` after every commit, and each table through
    ``read_wave``, opened 43: O(W^2) in the number of waves."""
    pages, seeds = corpus
    opened = []
    manifest = SnapshotStore.manifest

    def counting(self, wave):
        opened.append(wave)
        return manifest(self, wave)

    monkeypatch.setattr(SnapshotStore, "manifest", counting)
    root = str(tmp_path / "s")
    first = run_crawl(spark, pages, seeds, WaveConfig(max_waves=3), store=SnapshotStore(spark, root))
    assert opened == []
    rest = run_crawl(spark, pages, seeds, WaveConfig(), store=SnapshotStore(spark, root), resume=True)
    assert first.n_waves + rest.n_waves == 6
    assert sorted(opened) == [0, 1, 2, 2]


def test_resume_is_noop_when_frontier_exhausted(spark, corpus, tmp_path):
    pages, seeds = corpus
    store = SnapshotStore(spark, str(tmp_path / "s"))
    cfg = WaveConfig(use_politeness=False)
    first = run_crawl(spark, pages, seeds, cfg, store=store)
    head = store.last_committed_wave()
    again = run_crawl(spark, pages, seeds, cfg, store=store, resume=True)
    assert again.n_waves == 0
    assert store.last_committed_wave() == head
    assert first.n_waves > 0


def test_crawl_releases_its_persisted_frames(spark, corpus, tmp_path, persisted_frames):
    """run_crawl local-checkpoints its host dim table and persists
    nothing, so it leaves no persisted frame, with or without a
    snapshot store."""
    pages, seeds = corpus
    for store in (None, SnapshotStore(spark, str(tmp_path / "s"))):
        before = persisted_frames()
        out = run_crawl(spark, pages, seeds, WaveConfig(), store=store)
        assert out.n_waves > 0
        assert persisted_frames() == before, store
