"""Workload ``wave-crawl``: ``run_crawl`` with a ``SnapshotStore`` to
frontier exhaustion over a ``generate_corpus`` corpus; one operation is
one wave.

The waves are small, so per-wave orchestration dominates: Spark jobs,
local checkpoints, the broadcast fetch join, ``functions.episodes``
parsing and ``SnapshotStore.commit_wave``.  Canonicalization and the
Bloom filter never run here, so a change to them must predict no change
on this workload.

The two seams are the ones the wave loop offers: a ``fetcher`` built on
``make_join_fetcher`` and a ``SnapshotStore`` subclass.  The subclass
marks wave boundaries (a wave ends when its commit returns) in both
runs; the traced run also times the commit and forces the politeness
gate and the fetch at their boundaries.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Observation
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.datagen import CorpusParams, generate_corpus
from crawler_apple_podcast_spark.functions.episodes import parity_text
from crawler_apple_podcast_spark.oracle import crawl as reference_crawl
from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore
from crawler_apple_podcast_spark.plans.wave_loop import WaveConfig, make_join_fetcher, run_crawl
from crawler_apple_podcast_spark.serde import normalize_fetch_url

from . import gen
from .common import OpLog, median, release_state, tree_cpu_s
from .tracing import Tracer, covered_seconds, dir_bytes_files

# The waves that count as operations.  Wave 0 is the warm-up.  Waves 0
# and 1 hold one fetch per chain; wave 2, the last, holds the final fetch
# of every chain with two pages.
MEASURED = slice(1, 3)
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])
SEEDS_SCHEMA = pa.schema([("seed_index", pa.int32()), ("url", pa.string()),
                          ("batch_id", pa.string())])


@dataclass
class Size:
    n_shows: int = 300
    max_pages: int = 2


TOY = Size(n_shows=6, max_pages=2)

# Politeness budgets are the defaults: the corpus' own robots Crawl-delay
# (1, 5 or 10 s per host) and ``WaveConfig``'s ``wave_seconds``.  A wave
# holds at most one row per chain, so with no more chains than the
# smallest budget no wave defers.  That keeps the budget cut out of the
# run: ``politeness_gate`` loses and duplicates rows when the cut falls
# inside a tie of equal fetch URLs, which every chain's shared bare-base
# URL makes (see the README and ``tests/test_gate_ties.py``).
MAX_CRAWL_DELAY = 10
MIN_BUDGET = WaveConfig().wave_seconds // MAX_CRAWL_DELAY


def oracle_expectations(pages, seeds) -> dict:
    """What the sequential reference crawler fetches and emits on the
    same corpus: its fetches and the pages whose episodes it flushes."""
    res = reference_crawl(list(seeds.url), dict(zip(pages.url, pages.html)))
    emitted = {(e["seed_index"], e["offset"]) for e in res.emissions}
    fetches = Counter((si, u, bool(hit)) for si, u, hit in res.fetch_log)
    return {"fetches": fetches, "n_emissions": len(res.emissions),
            "n_parity_pages": len(emitted)}


class _Boundaries:
    """State shared by the store subclass and the fetcher wrapper."""

    def __init__(self, tracer: Tracer, jvm_pid: int):
        self.tracer = tracer
        self.jvm_pid = jvm_pid
        # (perf_counter, JVM-tree CPU seconds) when each wave's commit returned
        self.marks: list[tuple[float, float]] = []
        self.wave_span = None
        self.waves: list[dict] = []  # traced per-wave records

    def mark(self) -> tuple[float, float]:
        return time.perf_counter(), tree_cpu_s(self.jvm_pid)


class BoundaryStore(SnapshotStore):
    """Marks the end of each wave; when traced, also times the commit and
    counts what it wrote."""

    def __init__(self, spark, root: str, bnd: _Boundaries):
        super().__init__(spark, root)
        self.bnd = bnd

    def commit_wave(self, wave, tables, metrics=None):
        bnd, tr = self.bnd, self.bnd.tracer
        if not tr.enabled:
            out = super().commit_wave(wave, tables, metrics)
            bnd.marks.append(bnd.mark())
            return out
        with tr.span("snapshots.commit") as sc:
            out = super().commit_wave(wave, tables, metrics)
        bnd.marks.append(bnd.mark())
        tr.end(bnd.wave_span)
        nbytes, nfiles = dir_bytes_files([t["path"] for t in out["tables"].values()])
        bnd.waves[-1].update(
            span=bnd.wave_span,
            commit=sc,
            bytes=nbytes,
            files=nfiles,
            episodes=self.spark.read.parquet(out["tables"]["episodes"]["path"]).count(),
            frontier_next=self.spark.read.parquet(out["tables"]["frontier"]["path"]).count(),
        )
        bnd.wave_span = tr.begin("wave")
        return out


def make_fetcher(pages, bnd: _Boundaries):
    """``make_join_fetcher`` itself when untraced; when traced, a wrapper
    that first forces the politeness-gated wave side, then the fetch, each
    at its own boundary, counting rows with ``observe``."""
    inner = make_join_fetcher(pages)
    tr = bnd.tracer
    if not tr.enabled:
        return inner

    def fetch(wave_side):
        with tr.span("politeness.gate") as sg:
            o_gate = Observation("gate")
            ws = wave_side.observe(o_gate, F.count(F.lit(1)).alias("n")).persist()
            ws.count()
        with tr.span("wave_loop.fetch") as sf:
            o_fetch = Observation("fetch")
            out = inner(ws).observe(
                o_fetch,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("html").isNotNull().cast("int")).alias("hits"),
            ).persist()
            out.count()
        n, hits = int(o_fetch.get["n"]), int(o_fetch.get["hits"] or 0)
        bnd.waves.append({
            "gate": sg, "fetch": sf, "scheduled": int(o_gate.get["n"]),
            "hits": hits, "misses": n - hits,
        })
        return out

    return fetch


class Crawl:
    def __init__(self, sess, seed: int, size: Size, tracer: Tracer):
        self.sess = sess
        self.spark = sess.spark
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.n_crawls = 0
        self.layers: list[dict] = []
        self.parity_s = 0.0

    def write_inputs(self):
        s = self.size
        if s.n_shows > MIN_BUDGET:
            raise ValueError(f"{s.n_shows} chains exceed the smallest per-wave budget {MIN_BUDGET}")
        pages_pdf, seeds_pdf = generate_corpus(
            CorpusParams(seed=self.seed, n_shows=s.n_shows, max_pages_per_show=s.max_pages)
        )
        # Written with pyarrow in the schemas of ``datagen.corpus.to_spark``,
        # so generating the inputs starts no Spark job.
        d = self.sess.work / "inputs"
        gen.write_parquet(pa.Table.from_pandas(pages_pdf, PAGES_SCHEMA, preserve_index=False),
                          d / "pages")
        gen.write_parquet(pa.Table.from_pandas(seeds_pdf, SEEDS_SCHEMA, preserve_index=False),
                          d / "seeds")
        return pages_pdf, seeds_pdf

    def crawl(self, tracer: Tracer):
        """One crawl to exhaustion.  Returns (wave seconds, wave CPU
        seconds, crawl seconds, outputs, boundaries, pages, snapshot
        root)."""
        d = self.sess.work / "inputs"
        pages = self.spark.read.parquet(str(d / "pages"))
        seeds = self.spark.read.parquet(str(d / "seeds"))
        bnd = _Boundaries(tracer, self.sess.jvm_pid)
        root = str(self.sess.work / f"snap{self.n_crawls}")
        self.n_crawls += 1
        store = BoundaryStore(self.spark, root, bnd)
        start = bnd.mark()
        bnd.wave_span = tracer.begin("wave")
        out = run_crawl(self.spark, pages, seeds, WaveConfig(), store=store, fetcher=make_fetcher(pages, bnd))
        wall = time.perf_counter() - start[0]
        tracer.end(bnd.wave_span)  # after the last commit: the loop's exit, not a wave
        edges = [start] + bnd.marks
        waves = [b[0] - a[0] for a, b in zip(edges, edges[1:])]
        cpu = [b[1] - a[1] for a, b in zip(edges, edges[1:])]
        return waves, cpu, wall, out, bnd, pages, root

    def check(self, out, pages, want: dict, tracer: Tracer) -> str | None:
        """The crawl's fetches, as a multiset, equal the sequential
        reference crawler's; and ``parity_text`` of the episodes equals the
        corpus' canonical ``text`` bytes for every page the reference
        flushes.  Returns a description of every difference, or None."""
        errors = []
        got = Counter(
            (r.seed_index, r.fetch_url, bool(r.fetch_ok)) for r in out.fetch_log.collect()
        )
        if got != want["fetches"]:
            missing = sorted((want["fetches"] - got).elements())
            extra = sorted((got - want["fetches"]).elements())
            errors.append(
                f"fetches differ from the reference crawler: {len(missing)} missing "
                f"{missing[:3]}, {len(extra)} extra {extra[:3]}"
            )
        with tracer.span("episodes.parity") as sp:
            row = parity_text(out.episodes).join(
                pages.select("url", F.col("text").alias("want")), "url", "left"
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("want").isNull() | (F.col("text") != F.col("want"))).cast("int"))
                .alias("bad"),
            ).first()
        if sp is not None:
            self.parity_s = sp.seconds
        if row["bad"]:
            errors.append(f"{row['bad']} pages' parity_text differs from the corpus text")
        if row["n"] != want["n_parity_pages"]:
            errors.append(
                f"parity_text covers {row['n']} pages, the reference flushes {want['n_parity_pages']}"
            )
        return "; ".join(errors) or None

    def committed_waves(self, store_root: str, seeds_pdf) -> tuple[list[int], dict[int, str]]:
        """Read the committed fetch log and frontiers back.  Returns the
        fetches per wave and ``{wave: description}`` for waves that break
        the gate's partition: every row the politeness gate received must
        come out exactly once, fetched this wave or deferred into the next
        frontier.  A wave's input is the previous wave's committed frontier
        (the seeds for wave 0); its deferred rows are the next frontier's
        rows whose priority is from an earlier wave (new cursors get
        ``wave + 1``)."""
        fetched = Counter(
            (r.wave, r.seed_index, r.fetch_url)
            for r in self.spark.read.parquet(f"{store_root}/fetch_log")
            .select("wave", "seed_index", "fetch_url").collect()
        )
        frontier: dict[int, list] = {}
        for r in self.spark.read.parquet(f"{store_root}/frontier").select(
            "wave", "seed_index", "url", "priority"
        ).collect():
            frontier.setdefault(r.wave, []).append(r)
        inputs = Counter(
            (int(s), normalize_fetch_url(u)) for s, u in zip(seeds_pdf.seed_index, seeds_pdf.url)
        )
        per_wave, errors = [], {}
        for wv in sorted({k[0] for k in fetched} | set(frontier)):
            this = Counter({(s, u): n for (w2, s, u), n in fetched.items() if w2 == wv})
            per_wave.append(sum(this.values()))
            out = this + Counter(
                (r.seed_index, normalize_fetch_url(r.url))
                for r in frontier.get(wv, []) if r.priority <= wv
            )
            if out != inputs:
                lost, dup = sum((inputs - out).values()), sum((out - inputs).values())
                errors[wv] = f"wave {wv}: {lost} gate rows lost, {dup} duplicated"
            inputs = Counter((r.seed_index, normalize_fetch_url(r.url)) for r in frontier.get(wv, []))
        return per_wave, errors

    def trace_layers(self, bnd: _Boundaries, n_seeds: int) -> dict:
        tr = self.tracer
        per = []
        rows_in = n_seeds
        for w in bnd.waves:
            span = w["span"]
            kids = [s.group for s in tr.spans if s.parent == span.group]
            st = tr.stage_stats([span.group, *kids])
            gate = tr.stage_stats([w["gate"].group])
            covered = covered_seconds(st.job_intervals, span.epoch_start_ms, span.epoch_end_ms)
            per.append({
                "politeness.gate.s": w["gate"].seconds,
                "politeness.gate.rows_in": rows_in,
                "politeness.gate.scheduled": w["scheduled"],
                "politeness.gate.deferred": rows_in - w["scheduled"],
                "politeness.gate.shuffle_bytes": gate.shuffle_read_bytes + gate.shuffle_write_bytes,
                "politeness.gate.task_skew": gate.task_skew,
                "wave_loop.fetch.s": w["fetch"].seconds,
                "wave_loop.fetch.hits": w["hits"],
                "wave_loop.fetch.misses": w["misses"],
                "wave_loop.jobs_per_wave": st.jobs,
                "wave_loop.stages_per_wave": st.stages,
                "wave_loop.driver_gap_s": span.seconds - covered,
                "episodes.rows_per_wave": w["episodes"],
                "snapshots.commit.s": w["commit"].seconds,
                "snapshots.commit.bytes_written": w["bytes"],
                "snapshots.commit.files": w["files"],
                "spark.spill_bytes": st.spill_bytes,
                "spark.shuffle_write_bytes": st.shuffle_write_bytes,
                "trace.wave_s": span.seconds,
            })
            rows_in = w["frontier_next"]
        per = per[MEASURED]
        return {k: median([p[k] for p in per]) for k in per[0]}


def run(sess, seed: int, seconds: float, tracer: Tracer, size: Size) -> dict:
    spark = sess.spark
    cr = Crawl(sess, seed, size, tracer)
    off = Tracer(spark, False)

    t0 = time.perf_counter()
    pages_pdf, seeds_pdf = cr.write_inputs()
    gen_s = time.perf_counter() - t0
    want = oracle_expectations(pages_pdf, seeds_pdf)
    base = release_state(spark)

    ops = OpLog()
    untraced_waves: list[float] = []
    warm_s = 0.0
    t_start = time.perf_counter()
    i = 0
    min_ops = 2 if tracer.enabled else 1
    while i < min_ops or time.perf_counter() - t_start < seconds:
        # In the traced run every other crawl is traced, so the tracing
        # overhead is measured in the same JVM on the same input.
        traced = tracer.enabled and i % 2 == 1
        tr = tracer if traced else off
        t0 = time.perf_counter()
        try:
            waves, cpu, wall, out, bnd, pages, store_root = cr.crawl(tr)
        except Exception as e:  # count, report, keep the loop running
            ops.fail(1, f"crawl {i} raised {type(e).__name__}: {e}")
            release_state(spark)
            i += 1
            continue
        # Wave 0 of the first crawl is the warm-up: the first jobs of a
        # JVM pay for class loading, code generation and the Python
        # workers' start.  It is timed into set-up, not counted as an
        # operation.
        if i == 0:
            warm_s = waves[0]
        measured = waves[MEASURED]
        fetches, wave_errs = cr.committed_waves(store_root, seeds_pdf)
        for w, c, n in zip(measured, cpu[MEASURED], fetches[MEASURED]):
            ops.add(w, c, n)
        ops.windows.append((t0 + sum(waves[:MEASURED.start]), t0 + sum(waves[:MEASURED.stop])))
        err = cr.check(out, pages, want, tr)
        if traced:
            cr.layers.append(cr.trace_layers(bnd, len(seeds_pdf)))
        else:
            # Only the first crawl runs untraced in a traced run, and it is
            # still warming up, so the overhead reads low (even below 0).
            untraced_waves.extend(measured)
        del out, bnd
        left = release_state(spark)
        if err is None and left != base:
            err = f"{left} persisted frames left after the crawl, expected {base}"
        if wave_errs:
            # The partition check names the operations at fault; the
            # crawl-level difference it explains is reported with them.
            ops.fail_check(min(len(wave_errs), len(measured)),
                           f"crawl {i}: " + "; ".join(wave_errs.values())
                           + (f" (crawl check: {err})" if err else ""))
        elif err is not None:
            ops.fail_check(len(measured), f"crawl {i}: {err}")
        i += 1
    setup_s = sess.start_s + gen_s + warm_s

    layers = {}
    if tracer.enabled and cr.layers:
        layers = {k: median([d[k] for d in cr.layers]) for k in cr.layers[0]}
        layers["trace.overhead_s"] = layers.pop("trace.wave_s") - median(untraced_waves)
        layers["episodes.parity.s"] = cr.parity_s
    return {
        "ops": ops,
        "setup_s": setup_s,
        "layers": layers,
        "info": {
            "n_shows": size.n_shows,
            "max_pages_per_show": size.max_pages,
            "crawls": i,
            "reference": {"fetches": sum(want["fetches"].values()),
                          "emissions": want["n_emissions"],
                          "parity_pages": want["n_parity_pages"]},
            "setup_parts_s": {"session": sess.start_s, "warm_up": warm_s,
                              "inputs": gen_s},
        },
    }
