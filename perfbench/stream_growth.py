"""Workload ``stream-growth``: ``process_candidate_batch`` called directly
on a sequence of seeded micro-batches; one operation is one batch.

About 10% of candidates are rediscoveries, 5% are in-batch repeats in
another raw spelling, and the hot host holds 30%.  The seen set starts
above ``bloom_threshold`` and grows every batch; ``rebuild_every`` makes
several Bloom rebuilds happen per episode.  Each batch runs the whole
frontier pass (canonicalize, the Bloom-gated anti-join, the politeness
gate) with mostly-new candidates, and the Bloom build repeats as the seen
set grows, while parquet appends and the per-batch snapshot commits run
beside the probes.

An episode is one fresh stream (empty sink, the initial seen set, a
reset seen-state); the loop runs whole episodes so every run sees the
same mix of rebuild and plain batches.
"""

from __future__ import annotations

import math
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Observation
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.functions.urls import canonicalize_url
from crawler_apple_podcast_spark.operators.bloom import bloom_gated_anti_join
from crawler_apple_podcast_spark.operators.politeness import politeness_gate, release_rank_cache
from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore
from crawler_apple_podcast_spark.streaming import frontier_stream as FS

from . import gen
from .common import OpLog, median, release_state, tree_cpu_s
from .tracing import Tracer, dir_bytes_files


@dataclass
class Size:
    n_initial: int = 16_000
    n_new: int = 4_000
    redisc_permille: int = 100
    dup_permille: int = 50
    hot_permille: int = 300
    n_cold_hosts: int = 200
    batches: int = 3
    warm_batches: int = 1
    rebuild_every: int = 2
    bloom_threshold: int = 12_000
    bloom_shards: int = 16
    budget: int = 1_000


TOY = Size(n_initial=2_000, n_new=500, batches=4, rebuild_every=2, bloom_threshold=1_000,
           budget=100, warm_batches=1)


class Stream:
    def __init__(self, sess, seed: int, size: Size, tracer: Tracer):
        self.sess = sess
        self.spark = sess.spark
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.n_episodes = 0
        self.layers: list[dict] = []

    @property
    def inputs(self):
        return self.sess.work / "inputs"

    def write_inputs(self, batches: int) -> None:
        """The initial seen set, every micro-batch, and what the check
        expects: the canonical URLs of the batches' new ids."""
        s = self.size
        d = self.inputs
        gen.write_canonicals(d / "initial_seen", 0, s.n_initial, self.seed, s.hot_permille,
                             s.n_cold_hosts)
        for b in range(batches):
            gen.write_stream_batch(
                d / "batches" / f"batch={b}", b, self.seed, s.n_initial, s.n_new,
                s.redisc_permille, s.dup_permille, s.hot_permille, s.n_cold_hosts,
            )
        gen.write_canonicals(d / "expected_new", s.n_initial, s.n_initial + batches * s.n_new,
                             self.seed, s.hot_permille, s.n_cold_hosts)

    def read_batch(self, b: int):
        return self.spark.read.parquet(str(self.inputs / "batches" / f"batch={b}"))

    def batch_rows(self) -> int:
        s = self.size
        return s.n_new + s.n_new * s.redisc_permille // 1000 + s.n_new * s.dup_permille // 1000

    def config(self, ep_dir):
        s = self.size
        return FS.StreamConfig(
            seen_dir=str(ep_dir / "seen"),
            out_dir=str(ep_dir / "out"),
            checkpoint_dir=str(ep_dir / "ckpt"),
            default_budget=s.budget,
            bloom_shards=s.bloom_shards,
            bloom_threshold=s.bloom_threshold,
            rebuild_every=s.rebuild_every,
            snapshot_root=str(ep_dir / "snap"),
        )

    def episode(self, batches: int, tracer: Tracer):
        """One fresh stream over ``batches`` micro-batches.  Returns (batch
        seconds, batch CPU seconds, batch windows, config, per-batch traced
        records)."""
        ep = self.sess.work / f"episode{self.n_episodes}"
        self.n_episodes += 1
        shutil.rmtree(ep, ignore_errors=True)
        shutil.copytree(self.inputs / "initial_seen", ep / "seen" / "batch_id=-1")
        cfg = self.config(ep)
        FS.reset_seen_state(cfg.seen_dir)
        times, cpu, windows, recs = [], [], [], []
        for b in range(batches):
            batch = self.read_batch(b)
            t0, c0 = time.perf_counter(), tree_cpu_s(self.sess.jvm_pid)
            with tracer.span("frontier_stream.batch") as sp, self._timed_commits(tracer) as commits:
                FS.process_candidate_batch(self.spark, batch, b, cfg)
            t1, c1 = time.perf_counter(), tree_cpu_s(self.sess.jvm_pid)
            times.append(t1 - t0)
            cpu.append(c1 - c0)
            windows.append((t0, t1))
            if sp is not None:
                recs.append({**self._batch_record(sp, commits, cfg, b),
                             **self._replica_pass(batch, cfg, b)})
        return times, cpu, windows, cfg, recs

    def _replica_pass(self, batch, cfg, b: int) -> dict:
        """Per-layer times of the frontier pass inside a batch.

        ``process_candidate_batch`` runs canonicalize, the Bloom probe and
        confirm, and the politeness gate lazily inside one plan, so their
        times cannot be read apart there.  After the batch, the traced run
        repeats the same public calls on the same input, against the same
        seen state the batch probed (its base and filter; the small exact
        tail is left out), and forces each one at its boundary."""
        tr = self.tracer
        state = FS._seen_states.get(cfg.seen_dir)  # module state, no accessor
        if state is None or state.bloom is None:
            return {}
        t0 = time.perf_counter()
        with tr.span("urls.canonicalize") as s_canon:
            o_canon = Observation("canon")
            cand = batch.select(
                canonicalize_url(F.col("url")).alias("fetch_url"), "priority"
            ).observe(o_canon, F.count(F.lit(1)).alias("rows")).persist()
            cand.count()
        canon = cand
        with tr.span("bloom.probe") as s_probe:
            # The batch's own candidate set: last batch's carry joins the
            # canonical rows, one row per URL (lazy, so it runs in the
            # probe's jobs as it does in the batch).
            if b > 0:
                carry_dir = f"{cfg.resolved_carry_dir()}/batch_id={b - 1}"
                cand = cand.unionByName(
                    self.spark.read.parquet(carry_dir).select("fetch_url", "priority")
                )
            cand = cand.groupBy("fetch_url").agg(F.min("priority").alias("priority"))
            reg: list = []
            fresh = bloom_gated_anti_join(
                cand, state.base, state.bloom, "fetch_url", cache_registry=reg
            )
            n_probed = reg[0].count()
        with tr.span("bloom.confirm") as s_confirm:
            fresh = fresh.persist()
            n_fresh = fresh.count()
        with tr.span("politeness.gate") as s_gate:
            scheduled, _ = politeness_gate(fresh, None, default_budget=self.size.budget)
            n_sched = scheduled.count()
        wall = time.perf_counter() - t0

        probe_row = reg[0].agg(
            F.sum(F.col("maybe_seen").cast("long")).alias("positives"),
            F.sum((F.col("maybe_seen") & F.col("fetch_url").isNotNull()).cast("long"))
            .alias("suspects"),
        ).first()
        release_rank_cache()
        for df in (fresh, reg[0], canon):
            df.unpersist()
        bloom = state.bloom
        positives = int(probe_row["positives"] or 0)
        definitely_new = n_probed - positives
        false_pos = n_fresh - definitely_new  # suspects that were not seen
        fpp_design = (
            1.0 - math.exp(-bloom.k * bloom.n_items / (bloom.m_bits * bloom.n_shards))
        ) ** bloom.k
        confirm = tr.stage_stats([s_confirm.group])
        gate = tr.stage_stats([s_gate.group])
        spans = [s_canon, s_probe, s_confirm, s_gate]
        return {
            "urls.canonicalize.s": s_canon.seconds,
            "urls.canonicalize.rows": int(o_canon.get["rows"]),
            "bloom.probe.s": s_probe.seconds,
            "bloom.probe.rows": n_probed,
            "bloom.probe.positives": positives,
            "bloom.probe.fpp_observed": false_pos / n_fresh if n_fresh else 0.0,
            "bloom.probe.fpp_design": fpp_design,
            "bloom.probe.fpp_base": n_fresh,
            "bloom.gate.useful_ratio": definitely_new / n_probed if n_probed else 0.0,
            "bloom.confirm.s": s_confirm.seconds,
            "bloom.confirm.suspects": int(probe_row["suspects"] or 0),
            "bloom.confirm.shuffle_read_bytes": confirm.shuffle_read_bytes,
            "politeness.gate.s": s_gate.seconds,
            "politeness.gate.rows_in": n_fresh,
            "politeness.gate.scheduled": n_sched,
            "politeness.gate.deferred": n_fresh - n_sched,
            "politeness.gate.shuffle_bytes": gate.shuffle_read_bytes + gate.shuffle_write_bytes,
            "politeness.gate.task_skew": gate.task_skew,
            "frontier.stage_coverage": sum(x.seconds for x in spans) / wall,
        }

    @staticmethod
    @contextmanager
    def _timed_commits(tracer: Tracer):
        """When traced, time every ``SnapshotStore.commit_wave`` call the
        batch makes (it builds its own store inside the call)."""
        spans: list = []
        if not tracer.enabled:
            yield spans
            return
        inner = SnapshotStore.commit_wave

        def commit_wave(store, *args, **kwargs):
            with tracer.span("snapshots.commit") as sc:
                out = inner(store, *args, **kwargs)
            spans.append(sc)
            return out

        SnapshotStore.commit_wave = commit_wave
        try:
            yield spans
        finally:
            SnapshotStore.commit_wave = inner

    def _batch_record(self, sp, commits, cfg, b: int) -> dict:
        tr = self.tracer
        st = tr.stage_stats([sp.group, *(c.group for c in commits)])
        build_s = 0.0
        for (a, z), site in zip(st.job_intervals, st.call_sites):
            if "operators/bloom.py" in site and site.startswith("collect"):
                build_s += (z - a) / 1000
        commit_s = sum(c.seconds for c in commits)
        stats = FS.seen_state_stats(cfg.seen_dir)
        # The filter itself is module state with no accessor; read it only
        # if it is still there.
        state = getattr(FS, "_seen_states", {}).get(cfg.seen_dir)
        bloom = getattr(state, "bloom", None)
        snap = cfg.snapshot_root
        nbytes, _ = dir_bytes_files([
            f"{cfg.out_dir}/batch_id={b}", f"{cfg.seen_dir}/batch_id={b}",
            f"{cfg.resolved_carry_dir()}/batch_id={b}",
        ])
        snap_bytes, snap_files = dir_bytes_files([
            f"{snap}/scheduled/wave={b}", f"{snap}/deferred/wave={b}",
        ])
        return {
            "batch": b,
            "rebuilt": stats["n_rebuilds"],
            "bloom.build.s": build_s,
            "bloom.build.items": stats["n_base"] if bloom is not None else 0,
            "bloom.build.filter_bytes": bloom.m_bits * bloom.n_shards // 8 if bloom is not None else 0,
            "snapshots.commit.s": commit_s,
            "snapshots.commit.bytes_written": snap_bytes,
            "snapshots.commit.files": snap_files,
            "frontier_stream.bytes_written": nbytes + snap_bytes,
            "spark.spill_bytes": st.spill_bytes,
            "spark.shuffle_write_bytes": st.shuffle_write_bytes,
            "trace.batch_s": sp.seconds,
        }

    def check(self, cfg, last_batch: int) -> str | None:
        """No URL scheduled twice, none already seen, and scheduled plus
        the final carry equals the distinct new canonical candidates."""
        d = self.inputs
        sched = self.spark.read.parquet(cfg.out_dir).select("fetch_url")
        carry = self.spark.read.parquet(
            f"{cfg.resolved_carry_dir()}/batch_id={last_batch}"
        ).select("fetch_url")
        seen0 = self.spark.read.parquet(str(d / "initial_seen"))
        expected = self.spark.read.parquet(str(d / "expected_new"))
        # One pass over the four sets: per URL, how often each holds it.
        tagged = [
            df.select("fetch_url", *[F.lit(int(t == name)).alias(t) for t in "sczn"])
            for name, df in (("s", sched), ("c", carry), ("z", seen0), ("n", expected))
        ]
        union = tagged[0]
        for t in tagged[1:]:
            union = union.unionByName(t)
        per_url = union.groupBy("fetch_url").agg(*[F.sum(t).alias(t) for t in "sczn"])
        s_, c_, z_, n_ = (F.col(t) for t in "sczn")
        got = (s_ + c_) > 0
        row = per_url.agg(
            F.sum((s_ > 1).cast("long")).alias("twice"),
            F.sum(((s_ > 0) & (z_ > 0)).cast("long")).alias("seen"),
            F.sum(((s_ > 0) & (c_ > 0)).cast("long")).alias("both"),
            F.sum(((n_ > 0) & ~got).cast("long")).alias("missing"),
            F.sum(((n_ == 0) & got).cast("long")).alias("extra"),
        ).first()
        errors = []
        if row["twice"]:
            errors.append(f"{row['twice']} URLs scheduled more than once")
        if row["seen"]:
            errors.append(f"{row['seen']} already-seen URLs scheduled")
        if row["both"]:
            errors.append(f"{row['both']} URLs both scheduled and still deferred")
        if row["missing"] or row["extra"]:
            errors.append(f"scheduled + carry vs new candidates: {row['missing']} missing, "
                          f"{row['extra']} extra")
        return "; ".join(errors) or None

    def traced_layers(self, recs: list[dict], times: list[float]) -> dict:
        rebuild = [t for t, r in zip(times, recs) if r["is_rebuild"]]
        plain = [t for t, r in zip(times, recs) if not r["is_rebuild"]]
        keys = [k for k in recs[0] if "." in k]
        out = {k: median([r[k] for r in recs if k in r]) for k in keys}
        for k in ("bloom.build.s", "bloom.build.items", "bloom.build.filter_bytes"):
            out[k] = median([r[k] for r in recs if r["is_rebuild"]] or [0.0])
        out["frontier_stream.rebuild.s"] = (
            median(rebuild) - median(plain) if rebuild and plain else 0.0
        )
        return out


def run(sess, seed: int, seconds: float, tracer: Tracer, size: Size) -> dict:
    spark = sess.spark
    st = Stream(sess, seed, size, tracer)
    off = Tracer(spark, False)

    t0 = time.perf_counter()
    st.write_inputs(size.batches)
    gen_s = time.perf_counter() - t0
    base = release_state(spark)

    ops = OpLog()
    rebuilds: list[int] = []
    untraced_batches: list[float] = []
    warm_s = 0.0
    t_start = time.perf_counter()
    i = 0
    min_eps = 2 if tracer.enabled else 1
    while i < min_eps or time.perf_counter() - t_start < seconds:
        traced = tracer.enabled and i % 2 == 1
        tr = tracer if traced else off
        # Batch 0 of the first episode is the warm-up: the first jobs of a
        # JVM pay for class loading, code generation and the Python
        # workers' start.  It is timed into set-up, not counted as an
        # operation.
        skip = size.warm_batches if i == 0 else 0
        try:
            times, cpu, windows, cfg, recs = st.episode(size.batches, tr)
        except Exception as e:  # count, report, keep the loop running
            ops.fail(size.batches - skip, f"episode {i} raised {type(e).__name__}: {e}")
            FS.reset_seen_state()
            release_state(spark)
            i += 1
            continue
        warm_s += sum(times[:skip])
        measured = times[skip:]
        for t, c in zip(measured, cpu[skip:]):
            ops.add(t, c, st.batch_rows())
        ops.windows.extend(windows[skip:])
        n_rebuilds = FS.seen_state_stats(cfg.seen_dir)["n_rebuilds"]
        rebuilds.append(n_rebuilds)
        err = st.check(cfg, size.batches - 1)
        if traced:
            prev = 0
            for r in recs:
                r["is_rebuild"] = r["rebuilt"] > prev
                prev = r["rebuilt"]
            st.layers.append({**st.traced_layers(recs, times),
                              "frontier_stream.rebuilds": n_rebuilds})
        else:
            # Only the first episode runs untraced in a traced run, and it is
            # still warming up, so the overhead reads low (even below 0).
            untraced_batches.extend(measured)
        FS.reset_seen_state()
        left = release_state(spark)
        if err is None and left != base:
            err = f"{left} persisted frames left after the episode, expected {base}"
        if err is not None:
            ops.fail_check(len(measured), f"episode {i}: {err}")
        i += 1
    setup_s = sess.start_s + gen_s + warm_s

    layers = {}
    if tracer.enabled and st.layers:
        layers = {k: median([d[k] for d in st.layers]) for k in st.layers[0]}
        layers["trace.overhead_s"] = layers.pop("trace.batch_s") - median(untraced_batches)
    return {
        "ops": ops,
        "setup_s": setup_s,
        "layers": layers,
        "info": {
            "batch_rows": st.batch_rows(),
            "batches_per_episode": size.batches,
            "episodes": len(rebuilds),
            "rebuilds_per_episode": rebuilds,
            "setup_parts_s": {"session": sess.start_s, "warm_up": warm_s,
                              "inputs": gen_s},
        },
    }
