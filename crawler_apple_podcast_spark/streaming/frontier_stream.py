"""Structured Streaming front-end for the frontier scheduler.

The batch engine (plans/wave_loop.py) runs discrete waves; this module
exposes the same schedule+dedupe core as a continuous micro-batch
stream, for deployments where URL discoveries arrive as a feed (e.g. a
Kafka topic or an object-store drop directory) rather than as bounded
wave outputs.  Mirrors the reference's poller pattern
(/root/reference/test/cronjob_test.py:7-23 — `schedule.every(...)`)
at cluster scale.

Design
- Source: any streaming DataFrame with ``url STRING, priority INT,
  discovered_ts TIMESTAMP`` (file source in tests; swap for Kafka in
  production — the transformation is source-agnostic).
- Each micro-batch runs inside ``foreachBatch``: in-batch dedupe,
  Bloom-gated EXACT anti-join against the persistent seen set, per-host
  politeness gate, then three idempotent writes (scheduled rows to the
  out dir, their urls to the seen dir, deferred rows to the carry dir)
  keyed by ``batch_id`` so a replayed batch overwrites rather than
  duplicates — exactly-once downstream given the checkpointed source
  offsets.
- The batch plan is evaluated once: the confirmed ``fresh`` frame and
  its politeness ranking are local-checkpointed, and every write and
  the optional snapshot commit (data and counts) read the two gate
  outputs split from that one ranking.  A checkpoint runs through AQE,
  so the probe UDF and every write get as many tasks and part files as
  the batch's data needs (a persisted shuffle would keep all of its
  partitions), and no batch leaves a cached frame to release.
- Watermarked windowed aggregation (``host_rate_metrics``) gives
  per-host scheduling-rate observability with bounded state; late
  discoveries beyond the watermark are dropped from metrics only,
  never from scheduling.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..functions.urls import canonicalize_url, host_of
from ..operators.bloom import BloomShards, build_bloom_shards, bloom_gated_anti_join
from ..operators.politeness import politeness_rank, split_ranked

CANDIDATE_SCHEMA = "url STRING, priority INT, discovered_ts TIMESTAMP"
# Given to every read of the seen dirs, so no read starts a
# schema-inference job.
SEEN_SCHEMA = "fetch_url STRING"


@dataclass
class StreamConfig:
    seen_dir: str                 # persistent URL-seen set (parquet)
    out_dir: str                  # scheduled-URL sink (parquet, per-batch subdirs)
    checkpoint_dir: str           # Structured Streaming offset/commit log
    carry_dir: str | None = None  # politeness-deferred carry-over (default: <out_dir>_carry)
    default_budget: int = 1_000_000
    bloom_shards: int = 32
    bloom_threshold: int = 100_000  # build a Bloom gate only past this seen-set size
    rebuild_every: int = 16         # full seen re-read + Bloom rebuild cadence
    # Optional SnapshotStore root: each micro-batch additionally commits
    # (scheduled, deferred) through the batch pipeline's manifest/HEAD
    # protocol, wave id = batch_id — streaming output then shares the
    # atomic publish, lineage, and read_table view of the wave loop.
    # Must be paired with a matching checkpoint_dir (batch ids are the
    # wave numbering, and both restart from the same offsets); waves
    # are contiguous because foreachBatch ids are.
    snapshot_root: str | None = None

    def resolved_carry_dir(self) -> str:
        return self.carry_dir or f"{self.out_dir}_carry"


@dataclass
class _SeenState:
    """Compacted seen-set state, kept across micro-batches so a batch
    is O(batch + recent tail), not O(full history): ``base`` is the
    persisted full-history frame (re-read every ``rebuild_every``
    batches), ``bloom`` gates against it, and ``recent`` is the exact
    small tail appended since the last rebuild (the Bloom does not
    cover it, so it is anti-joined exactly — staleness can never leak
    a duplicate)."""
    base: DataFrame | None = None
    n_base: int = 0
    bloom: BloomShards | None = None
    recent_parts: list[tuple[int, DataFrame]] = field(default_factory=list)
    rebuild_batch: int = -1
    n_rebuilds: int = 0


# One state per seen_dir; foreachBatch runs batches sequentially per
# query, so no locking.  A fresh process starts empty and rebuilds from
# disk on its first batch (crash/replay safe).
_seen_states: dict[str, _SeenState] = {}


def reset_seen_state(seen_dir: str | None = None) -> None:
    for key in [seen_dir] if seen_dir else list(_seen_states):
        st = _seen_states.pop(key, None)
        if st is not None and st.base is not None:
            st.base.unpersist()


def seen_state_stats(seen_dir: str) -> dict:
    st = _seen_states.get(seen_dir)
    return {
        "n_rebuilds": st.n_rebuilds if st else 0,
        "n_recent_parts": len(st.recent_parts) if st else 0,
        "n_base": st.n_base if st else 0,
    }


def _read_seen(spark: SparkSession, seen_dir: str, exclude_batch: int) -> DataFrame:
    """Seen set from all committed batches EXCEPT ``exclude_batch``: a
    replayed batch must not dedupe against its own prior output (that
    would drop its rows and overwrite the sink with nothing)."""
    if os.path.isdir(seen_dir) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(seen_dir) for f in fs
    ):
        return (
            spark.read.schema(f"{SEEN_SCHEMA}, batch_id INT")
            .parquet(seen_dir)
            .where(F.col("batch_id") != exclude_batch)
            .select("fetch_url")
        )
    return spark.createDataFrame([], SEEN_SCHEMA)


def _latest_carry(
    spark: SparkSession, carry_dir: str, batch_id: int, schema: StructType
) -> DataFrame | None:
    """Deferred rows carried from the most recent prior batch.  Each
    batch's carry output subsumes all earlier ones (still-deferred rows
    re-enter candidates and are re-deferred), so only the latest dir
    below ``batch_id`` is read — O(pending), not O(history).  ``schema``
    is the candidates' ``(fetch_url, priority)`` schema the carry was
    written with."""
    if not os.path.isdir(carry_dir):
        return None
    prior = [
        int(d.split("=", 1)[1])
        for d in os.listdir(carry_dir)
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) < batch_id
    ]
    if not prior:
        return None
    return spark.read.schema(schema).parquet(f"{carry_dir}/batch_id={max(prior)}")


def process_candidate_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, cfg: StreamConfig
) -> None:
    """One micro-batch of the frontier stream (also callable directly —
    the unit tests drive it both ways)."""
    st = _seen_states.setdefault(cfg.seen_dir, _SeenState())

    cand = batch_df.select(
        canonicalize_url(F.col("url")).alias("fetch_url"),
        F.col("priority"),
    )
    carry = _latest_carry(spark, cfg.resolved_carry_dir(), batch_id, cand.schema)
    if carry is not None:
        cand = cand.unionByName(carry)
    # Deterministic duplicate resolution: when a carried deferred row
    # and a fresh candidate share a url with different priorities,
    # dropDuplicates would keep an arbitrary one — a replayed batch
    # could then produce a different scheduled/deferred split.  min()
    # keeps the most urgent priority (the gate schedules ascending).
    cand = cand.groupBy("fetch_url").agg(F.min("priority").alias("priority"))

    if st.base is None or batch_id - st.rebuild_batch >= cfg.rebuild_every:
        if st.base is not None:
            st.base.unpersist()
        st.base = _read_seen(spark, cfg.seen_dir, exclude_batch=batch_id).persist()
        st.n_base = st.base.count()
        st.bloom = (
            build_bloom_shards(
                st.base, "fetch_url", n_shards=cfg.bloom_shards,
                expected_items=st.n_base,
            )
            if st.n_base >= cfg.bloom_threshold
            else None
        )
        st.recent_parts = []
        st.rebuild_batch = batch_id
        st.n_rebuilds += 1

    if st.bloom is not None:
        fresh = bloom_gated_anti_join(cand, st.base, st.bloom, "fetch_url")
    else:
        fresh = cand.join(st.base, "fetch_url", "left_anti")
    # Exact anti-join against the small recent tail (not Bloom-covered;
    # skip a replayed batch's own earlier output).
    tail = [p for bid, p in st.recent_parts if bid != batch_id]
    if tail:
        recent = tail[0]
        for p in tail[1:]:
            recent = recent.unionByName(p)
        fresh = fresh.join(recent, "fetch_url", "left_anti")

    # Checkpointed so the ranking's two reads of ``fresh`` share one
    # run of canonicalize → probe → confirm, and the ranking itself once
    # so the three writes and the snapshot commit split ONE evaluation.
    fresh = fresh.localCheckpoint()
    ranked = politeness_rank(fresh, None, default_budget=cfg.default_budget).localCheckpoint()
    scheduled, deferred = split_ranked(ranked)
    # Idempotent per-batch dirs: a replayed batch overwrites its own
    # output instead of appending a duplicate; the dir name doubles as
    # a hive-style `batch_id` partition column on read.
    scheduled.write.mode("overwrite").parquet(f"{cfg.out_dir}/batch_id={batch_id}")
    scheduled.select("fetch_url").write.mode("overwrite").parquet(
        f"{cfg.seen_dir}/batch_id={batch_id}"
    )
    # Over-budget rows are NOT lost: they carry over and are unioned
    # into the next batch's candidates (batch analog of the wave loop's
    # deferred-rows union).
    deferred.select("fetch_url", "priority").write.mode("overwrite").parquet(
        f"{cfg.resolved_carry_dir()}/batch_id={batch_id}"
    )

    # Track this batch's seen rows as disk-backed recent tail.
    st.recent_parts = [(b, p) for b, p in st.recent_parts if b != batch_id]
    seen_part = spark.read.schema(SEEN_SCHEMA).parquet(f"{cfg.seen_dir}/batch_id={batch_id}")
    st.recent_parts.append((batch_id, seen_part))

    # Optional snapshot commit: publish this batch as wave `batch_id`
    # through the manifest/HEAD protocol.  Exactly-once under replay:
    # Structured Streaming replays a batch with the SAME id, so
    # - crash BEFORE HEAD moved -> batch_id > head -> recommit (the
    #   data write is mode=overwrite, the orphan is replaced);
    # - crash AFTER HEAD moved (offsets not yet committed) ->
    #   batch_id <= head -> skip, nothing double-publishes.
    # The commit writes and counts the checkpointed gate outputs that
    # fed the per-batch dirs, so it never re-executes the batch plan.
    if cfg.snapshot_root:
        from ..plans.snapshots import SnapshotStore

        store = SnapshotStore(spark, cfg.snapshot_root)
        head = store.last_committed_wave()
        if head is None or batch_id > head:
            store.commit_wave(
                int(batch_id),
                {"scheduled": scheduled, "deferred": deferred},
                metrics={
                    "batch_id": int(batch_id),
                    "n_scheduled": scheduled.count(),
                    "n_deferred": deferred.count(),
                },
            )


def run_frontier_stream(
    spark: SparkSession,
    source_dir: str,
    cfg: StreamConfig,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming scheduler over a file-source drop directory.

    ``available_now=True`` drains what exists and stops (deterministic
    for tests / catch-up runs); ``False`` runs continuously.
    """
    candidates = (
        spark.readStream.schema(CANDIDATE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(source_dir)
    )
    writer = candidates.writeStream.foreachBatch(
        lambda df, bid: process_candidate_batch(spark, df, bid, cfg)
    ).option("checkpointLocation", cfg.checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def host_rate_metrics(
    candidates: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Watermarked per-host discovery-rate metrics (bounded state):
    append-mode windowed counts keyed by (window, host)."""
    return (
        candidates.withWatermark("discovered_ts", watermark)
        .groupBy(
            F.window("discovered_ts", window).alias("w"),
            host_of(F.col("url")).alias("host"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("priority").alias("top_priority"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_urls",
            "top_priority",
        )
    )


def ttl_dedup_stream(
    candidates: DataFrame,
    ttl: str = "10 minutes",
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "discovered_ts",
) -> DataFrame:
    """TTL-bounded streaming dedupe: keep the first arrival of each key
    within the watermark horizon via ``dropDuplicatesWithinWatermark``
    — re-discovery storms of one URL (hub pages re-emitting their
    outlinks every refresh) are suppressed while the key's state lives,
    and the state store stays bounded by ``arrival_rate x ttl`` instead
    of growing with the URL universe.

    Contract vs the exact seen set: ``process_candidate_batch``'s
    disk-backed ledger is the FOREVER dedupe (exact, replay-idempotent,
    unbounded key space on disk); this operator is admission control in
    managed state — a key re-arriving after the watermark passes its
    last occurrence + ttl is emitted again by design.  Compose both:
    TTL dedupe upstream shrinks each micro-batch before the exact
    ledger anti-join pays disk reads.  (Spark drops state keys once the
    watermark clears them — the same bounded-state argument as the
    windowed host metrics above.)"""
    return candidates.withWatermark(ts_col, ttl).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
