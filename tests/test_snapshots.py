"""Checkpoint/commit/resume contract (north_rule: a killed job resumes
from the last committed frontier snapshot with identical results)."""

from __future__ import annotations

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


def _persisted_frames(spark) -> int:
    # RDDs backing a persisted DataFrame carry a name; unnamed ones
    # (local checkpoints) are dropped by the context cleaner, not by us.
    return sum(
        rdd.name() is not None
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values()
    )


def test_crawl_releases_its_persisted_frames(spark, corpus, tmp_path):
    """run_crawl caches the robots dim table for its waves and must
    unpersist it on return, with or without a snapshot store."""
    pages, seeds = corpus
    for store in (None, SnapshotStore(spark, str(tmp_path / "s"))):
        before = _persisted_frames(spark)
        out = run_crawl(spark, pages, seeds, WaveConfig(), store=store)
        assert out.n_waves > 0
        assert _persisted_frames(spark) == before, store
