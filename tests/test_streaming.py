"""Structured Streaming frontier feed (streaming/frontier_stream.py).

Driven with the file source + ``availableNow`` trigger so each test is
deterministic and bounded; restart-from-checkpoint covers the
exactly-once contract.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.streaming import (
    StreamConfig,
    host_rate_metrics,
    run_frontier_stream,
)
from crawler_apple_podcast_spark.streaming.frontier_stream import (
    CANDIDATE_SCHEMA,
    process_candidate_batch,
    reset_seen_state,
    seen_state_stats,
)


def _write_candidates(spark, path, rows):
    spark.createDataFrame(rows, CANDIDATE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _cfg(tmp):
    return StreamConfig(
        seen_dir=f"{tmp}/seen",
        out_dir=f"{tmp}/out",
        checkpoint_dir=f"{tmp}/ckpt",
        default_budget=1_000_000,
    )


import datetime

TS = datetime.datetime(2024, 5, 23, 12, 0, 0)


def test_stream_drains_and_schedules(spark, tmp_path):
    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    _write_candidates(
        spark,
        f"{tmp}/src",
        [(f"https://H{i % 3}.example:443/p/{i}#f", i % 2, TS) for i in range(20)],
    )
    q = run_frontier_stream(spark, f"{tmp}/src", cfg)
    q.awaitTermination(120)
    out = spark.read.parquet(cfg.out_dir)
    # canonicalized: lowercase host, port/fragment stripped
    urls = [r["fetch_url"] for r in out.collect()]
    assert len(urls) == 20 and len(set(urls)) == 20
    assert all(u.startswith("https://h") and ":443" not in u and "#" not in u for u in urls)


def test_stream_cross_batch_dedupe(spark, tmp_path):
    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    rows = [(f"https://a.example/p/{i}", 0, TS) for i in range(10)]
    _write_candidates(spark, f"{tmp}/src", rows)
    run_frontier_stream(spark, f"{tmp}/src", cfg).awaitTermination(120)
    # second drop: 5 repeats + 5 new — only the new may be scheduled
    rows2 = rows[:5] + [(f"https://a.example/p/{i}", 0, TS) for i in range(10, 15)]
    _write_candidates(spark, f"{tmp}/src", rows2)
    run_frontier_stream(spark, f"{tmp}/src", cfg).awaitTermination(120)
    out = spark.read.parquet(cfg.out_dir)
    urls = sorted(r["fetch_url"] for r in out.collect())
    assert len(urls) == 15 and len(set(urls)) == 15


def test_stream_in_batch_dedupe_and_idempotent_replay(spark, tmp_path):
    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    batch = spark.createDataFrame(
        [("https://a.example/p/1", 0, TS), ("https://a.example/p/1", 1, TS),
         ("https://a.example/p/2", 0, TS)],
        CANDIDATE_SCHEMA,
    )
    process_candidate_batch(spark, batch, 0, cfg)
    n1 = spark.read.parquet(cfg.out_dir).count()
    # replaying the SAME batch id must overwrite, not duplicate
    process_candidate_batch(spark, batch, 0, cfg)
    n2 = spark.read.parquet(cfg.out_dir).count()
    assert n1 == n2 == 2


def test_deferred_rows_carry_over_to_next_batch(spark, tmp_path):
    """Over-budget rows must not be lost: they carry into the next
    micro-batch's candidates until scheduled (ADVICE r01)."""
    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    cfg.default_budget = 2
    rows = [(f"https://one.example/p/{i}", i, TS) for i in range(5)]
    batch0 = spark.createDataFrame(rows, CANDIDATE_SCHEMA)
    empty = spark.createDataFrame([], CANDIDATE_SCHEMA)
    process_candidate_batch(spark, batch0, 0, cfg)
    assert spark.read.parquet(f"{cfg.out_dir}/batch_id=0").count() == 2
    process_candidate_batch(spark, empty, 1, cfg)  # drains carried rows
    process_candidate_batch(spark, empty, 2, cfg)
    out = spark.read.parquet(cfg.out_dir)
    urls = sorted(r["fetch_url"] for r in out.collect())
    assert len(urls) == 5 and len(set(urls)) == 5
    # priority order respected: batch 0 scheduled the two best priorities
    first = {r["fetch_url"] for r in spark.read.parquet(f"{cfg.out_dir}/batch_id=0").collect()}
    assert first == {"https://one.example/p/0", "https://one.example/p/1"}


def test_seen_state_compaction_bounded_rebuilds(spark, tmp_path):
    """Per-batch work stays O(batch + recent tail): the full seen dir
    is re-read only every ``rebuild_every`` batches, never per batch."""
    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    cfg.rebuild_every = 3
    reset_seen_state(cfg.seen_dir)
    for b in range(7):
        rows = [(f"https://h.example/p/{b}-{i}", 0, TS) for i in range(4)]
        # every batch re-offers batch 0's urls: must stay deduped
        rows += [(f"https://h.example/p/0-{i}", 0, TS) for i in range(4)]
        process_candidate_batch(
            spark, spark.createDataFrame(rows, CANDIDATE_SCHEMA), b, cfg
        )
    out = spark.read.parquet(cfg.out_dir)
    assert out.count() == 7 * 4
    stats = seen_state_stats(cfg.seen_dir)
    # batches 0..6 with rebuild_every=3 -> rebuilds at 0, 3, 6 only
    assert stats["n_rebuilds"] == 3
    assert stats["n_recent_parts"] <= 3


def test_fresh_process_replay_rebuilds_from_disk(spark, tmp_path):
    """Crash-restart analog: state reset, a replayed batch still
    excludes its own prior output and reproduces it identically."""
    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    rows = [(f"https://h.example/p/{i}", 0, TS) for i in range(6)]
    process_candidate_batch(spark, spark.createDataFrame(rows[:3], CANDIDATE_SCHEMA), 0, cfg)
    process_candidate_batch(spark, spark.createDataFrame(rows[3:], CANDIDATE_SCHEMA), 1, cfg)
    reset_seen_state(cfg.seen_dir)  # "new process"
    process_candidate_batch(spark, spark.createDataFrame(rows[3:], CANDIDATE_SCHEMA), 1, cfg)
    out = spark.read.parquet(cfg.out_dir)
    assert out.count() == 6
    assert spark.read.parquet(f"{cfg.out_dir}/batch_id=1").count() == 3


def test_host_rate_metrics_windowing(spark):
    rows = [
        ("https://a.example/1", 1, TS),
        ("https://a.example/2", 0, TS + datetime.timedelta(seconds=30)),
        ("https://b.example/1", 2, TS + datetime.timedelta(seconds=61)),
    ]
    df = spark.createDataFrame(rows, CANDIDATE_SCHEMA)
    got = {(r["host"], r["window_start"].minute): r for r in host_rate_metrics(df).collect()}
    assert got[("a.example", 0)]["n_urls"] == 2
    assert got[("a.example", 0)]["top_priority"] == 0
    assert got[("b.example", 1)]["n_urls"] == 1


def test_carry_vs_fresh_priority_resolved_deterministically(spark, tmp_path):
    """When a carried deferred row and a fresh candidate share a url at
    different priorities, the batch must keep the MIN (most urgent)
    priority, not an arbitrary one — otherwise a replayed batch can
    produce a different scheduled/deferred split (ADVICE r2)."""
    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    cfg.default_budget = 1
    reset_seen_state(cfg.seen_dir)
    url = "https://one.example/p/dup"
    # Batch 0: two urls; the dup url gets priority 9 -> deferred (budget 1).
    b0 = spark.createDataFrame(
        [("https://one.example/p/a", 0, TS), (url, 9, TS)], CANDIDATE_SCHEMA
    )
    process_candidate_batch(spark, b0, 0, cfg)
    carried = spark.read.parquet(f"{cfg.out_dir}_carry/batch_id=0").collect()
    assert [(r.fetch_url, r.priority) for r in carried] == [(url, 9)]
    # Batch 1: the SAME url arrives fresh with priority 2 -> the merged
    # candidate must carry priority 2 and be scheduled with it.
    b1 = spark.createDataFrame([(url, 2, TS)], CANDIDATE_SCHEMA)
    process_candidate_batch(spark, b1, 1, cfg)
    out = spark.read.parquet(f"{cfg.out_dir}/batch_id=1").collect()
    assert [(r.fetch_url, r.priority) for r in out] == [(url, 2)]
    reset_seen_state(cfg.seen_dir)


def test_stream_snapshot_commits_share_batch_store_protocol(spark, tmp_path):
    """With snapshot_root set, every micro-batch publishes through the
    SnapshotStore manifest/HEAD protocol: one wave per batch,
    read_table equals the per-batch output dirs, lineage carries the
    batch metrics."""
    from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore

    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    cfg.snapshot_root = f"{tmp}/snap"
    _write_candidates(
        spark, f"{tmp}/src", [(f"https://a.example/p/{i}", 0, TS) for i in range(8)]
    )
    run_frontier_stream(spark, f"{tmp}/src", cfg).awaitTermination(120)
    _write_candidates(
        spark, f"{tmp}/src", [(f"https://a.example/p/{i}", 0, TS) for i in range(8, 12)]
    )
    run_frontier_stream(spark, f"{tmp}/src", cfg).awaitTermination(120)

    store = SnapshotStore(spark, cfg.snapshot_root)
    head = store.last_committed_wave()
    assert head is not None and head >= 1
    committed = sorted(
        r["fetch_url"] for r in store.read_table("scheduled").collect()
    )
    direct = sorted(r["fetch_url"] for r in spark.read.parquet(cfg.out_dir).collect())
    assert committed == direct and len(committed) == 12
    lin = store.lineage()
    assert [m["metrics"]["batch_id"] for m in lin] == list(range(head + 1))
    assert sum(m["metrics"]["n_scheduled"] for m in lin) == 12


def test_stream_snapshot_replay_is_exactly_once(spark, tmp_path):
    """Replaying a batch whose commit already published (crash after
    HEAD moved, offsets uncommitted) must not double-publish; replaying
    one whose commit tore (data written, HEAD not moved) must land it."""
    from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore

    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    cfg.snapshot_root = f"{tmp}/snap"
    batch = spark.createDataFrame(
        [("https://a.example/p/1", 0, TS), ("https://a.example/p/2", 0, TS)],
        CANDIDATE_SCHEMA,
    )
    process_candidate_batch(spark, batch, 0, cfg)
    store = SnapshotStore(spark, cfg.snapshot_root)
    assert store.last_committed_wave() == 0
    ts0 = store.manifest(0)["ts"]

    # replay after successful publish: skipped (manifest untouched)
    reset_seen_state(cfg.seen_dir)
    process_candidate_batch(spark, batch, 0, cfg)
    assert store.last_committed_wave() == 0
    assert store.manifest(0)["ts"] == ts0
    assert store.read_table("scheduled").count() == 2

    # torn commit: wind HEAD back (as if the crash hit before publish)
    # and replay — the batch must recommit over its own orphan data
    os.remove(f"{cfg.snapshot_root}/_manifests/HEAD.json")
    reset_seen_state(cfg.seen_dir)
    process_candidate_batch(spark, batch, 0, cfg)
    assert store.last_committed_wave() == 0
    assert store.read_table("scheduled").count() == 2


# --------------------------------------------------- TTL dedupe (ST5)


def _run_ttl_pass(spark, src, tmp, rows):
    from crawler_apple_podcast_spark.streaming.frontier_stream import (
        ttl_dedup_stream,
    )

    _write_candidates(spark, src, rows)
    stream = (
        spark.readStream.schema(CANDIDATE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(src)
    )
    q = (
        ttl_dedup_stream(stream, ttl="10 minutes")
        .writeStream.format("parquet")
        .option("path", f"{tmp}/ttl_out")
        .option("checkpointLocation", f"{tmp}/ttl_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted(
        (r.url, str(r.discovered_ts)) for r in spark.read.parquet(f"{tmp}/ttl_out").collect()
    )


def test_ttl_dedup_suppresses_within_horizon_readmits_after(spark, tmp_path):
    import datetime

    tmp, src = str(tmp_path), f"{tmp_path}/ttl_src"
    t = lambda m: datetime.datetime(2024, 5, 23, 12, 0, 0) + datetime.timedelta(minutes=m)  # noqa: E731

    # pass 1: A and B first seen
    out1 = _run_ttl_pass(spark, src, tmp, [("https://a.example/x", 0, t(0)),
                                           ("https://b.example/y", 0, t(0))])
    assert [u for u, _ in out1] == ["https://a.example/x", "https://b.example/y"]

    # pass 2: A re-arrives 5 min later (inside TTL: suppressed),
    # C is new (emitted); watermark advances to ~12:50
    out2 = _run_ttl_pass(spark, src, tmp, [("https://a.example/x", 0, t(5)),
                                           ("https://c.example/z", 0, t(60))])
    urls2 = [u for u, _ in out2]
    assert urls2.count("https://a.example/x") == 1   # only the pass-1 row
    assert "https://c.example/z" in urls2

    # pass 3: A re-arrives long after its state expired: emitted again
    out3 = _run_ttl_pass(spark, src, tmp, [("https://a.example/x", 0, t(90))])
    assert [u for u, _ in out3].count("https://a.example/x") == 2


def test_stream_batches_release_caches_and_commit_their_outputs(
    spark, tmp_path, persisted_frames, job_group
):
    """Each batch materializes its plan outputs once and leaves no
    persisted frame behind: after every batch, rebuild batches
    included, the named persisted frames are their level before the
    stream plus the one seen-set base the stream keeps across batches.
    The batch's local checkpoints run through AQE, so each of its five
    output dirs (out, seen, carry and the snapshot's two wave tables)
    holds one part file, and a batch runs at most 60 tasks.  On
    ``local[4]`` with 8 shuffle partitions these batches ran 21-34
    tasks, and 42 in the last rebuild batch; persisting the probe, the
    confirmed rows and the ranking instead kept all 8 partitions of
    each shuffle, ran 110-172 tasks and wrote 3-4 part files per dir.
    The snapshot wave tables hold exactly the rows of the batch's
    out/carry dirs, and the seen dir holds exactly the scheduled
    urls."""
    from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore

    tmp = str(tmp_path)
    cfg = _cfg(tmp)
    cfg.snapshot_root = f"{tmp}/snap"
    cfg.default_budget = 3
    cfg.bloom_threshold = 1  # gate through the Bloom path from batch 1 on
    cfg.bloom_shards = 4
    cfg.rebuild_every = 2  # rebuilds at batches 0, 2 and 4
    reset_seen_state(cfg.seen_dir)
    store = SnapshotStore(spark, cfg.snapshot_root)
    start = persisted_frames()
    n_deferred = 0

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    def n_parts(path):
        return sum(f.startswith("part-") for f in os.listdir(path))

    tasks = []
    for b in range(5):
        fresh = [(f"https://h{i % 3}.example/p/{b}-{i}", i % 4, TS) for i in range(8)]
        # rediscoveries of the previous batch's urls and an in-batch repeat
        redisc = [(f"https://h{i % 3}.example/p/{b - 1}-{i}", 0, TS) for i in range(4)]
        batch = spark.createDataFrame(fresh + redisc + fresh[:1], CANDIDATE_SCHEMA)
        with job_group(f"stream-batch-{b}") as g:
            process_candidate_batch(spark, batch, b, cfg)
            tasks.append(g.tasks())
        assert persisted_frames() == start + 1, b

        dirs = [
            f"{cfg.out_dir}/batch_id={b}",
            f"{cfg.seen_dir}/batch_id={b}",
            f"{cfg.resolved_carry_dir()}/batch_id={b}",
            f"{cfg.snapshot_root}/scheduled/wave={b}",
            f"{cfg.snapshot_root}/deferred/wave={b}",
        ]
        assert [n_parts(d) for d in dirs] == [1] * 5, (b, [n_parts(d) for d in dirs])
        out = spark.read.parquet(f"{cfg.out_dir}/batch_id={b}")
        carry = spark.read.parquet(f"{cfg.resolved_carry_dir()}/batch_id={b}")
        seen = spark.read.parquet(f"{cfg.seen_dir}/batch_id={b}")
        assert store.last_committed_wave() == b
        cols = ("fetch_url", "priority")
        assert rows(store.read_wave("scheduled", b), *cols) == rows(out, *cols)
        assert rows(store.read_wave("deferred", b), *cols) == rows(carry, *cols)
        assert rows(seen, "fetch_url") == rows(out, "fetch_url")
        assert store.manifest(b)["metrics"] == {
            "batch_id": b, "n_scheduled": out.count(), "n_deferred": carry.count(),
        }
        n_deferred += carry.count()
    assert max(tasks) <= 60, tasks
    assert seen_state_stats(cfg.seen_dir)["n_rebuilds"] == 3
    assert n_deferred > 0  # the budget really defers, so carry tables are compared
    # no url is scheduled twice across the stream
    sched = rows(spark.read.parquet(cfg.out_dir), "fetch_url")
    assert len(sched) == len(set(sched))
    reset_seen_state(cfg.seen_dir)
    assert persisted_frames() == start
