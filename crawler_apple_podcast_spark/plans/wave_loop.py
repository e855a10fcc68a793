"""Driver-side BFS wave loop — the reference's pagination loop,
re-architected (SURVEY.md §3 E1.4).

The reference advances one seed at a time, one page per ~12.9 s
(crawler_podcasts.py:25-81).  Here every live seed advances one
pagination step per *wave*: the whole frontier is politeness-gated,
joined against the ``pages`` table in one broadcast join, parsed
natively, and the next frontier is built from the extracted cursors.
Ordering parity with the sequential reference is defined on the O1
total order ``(seed_index, offset, array_pos)`` which every emission
carries.

Scale shape per wave (1000-executor reading 100 TB):
- the frontier wave is small (≤ millions of rows) -> it is ALWAYS the
  broadcast side; the pages table is streamed, never shuffled;
- a missed fetch is an anti-join of the (broadcast) wave against the
  (broadcast) hit set — no big-table shuffle anywhere;
- the politeness ranking runs ONCE per wave: it is localCheckpointed
  and split, so the fetch, the next frontier, the status delta and the
  rate-pacing counts all read one ranking (two lazy evaluations could
  split a tie at the budget cut differently, losing or duplicating a
  fetch);
- per-wave state is truncated via localCheckpoint / snapshot read-back,
  so the logical plan does not grow with wave count; read-backs carry
  the schema recorded at commit, so none starts a schema-inference job;
- every wave commits atomically through ``SnapshotStore`` with
  per-host counters in the manifest (kill -> resume from HEAD).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import episodes as E
from ..functions import urls as U
from ..operators.politeness import (
    host_budgets,
    host_delays,
    pacing_allowance,
    pacing_carry_update,
    parse_robots,
    politeness_rank,
    split_ranked,
)
from ..operators.retry import due_retries, schedule_retries
from ..operators.traps import detect_url_traps, trap_gate
from .snapshots import SnapshotStore
from .status import latest_status, wave_status_delta

# Crawl-delay (seconds) for hosts whose robots.txt names none.
DEFAULT_CRAWL_DELAY = 5

EPISODES_COLS = [
    "seed_index", "offset", "pos", "wave", "source_url",
    "id", "title", "full_url", "author", "duration", "categories", "asset_url",
]


@dataclass
class WaveConfig:
    max_waves: int = 64
    wave_seconds: int = 3600          # politeness wall-clock budget per wave
    use_politeness: bool = True
    # Rate pacing: carry per-host credit across waves so the CRAWL-WIDE
    # rate never exceeds 1/crawl_delay per host (the reference's
    # semantics, crawler_podcasts.py:81), instead of resetting the
    # budget every wave.  See operators/politeness.py pacing section.
    use_rate_pacing: bool = False
    default_budget: int = 1 << 30
    # Exponential-backoff retries of failed fetches (operators/retry.py):
    # None = off (the reference's behavior — failures are lost,
    # crawler_podcasts.py:28-30 — and the e1 parity oracles assume it);
    # an int enables re-fetching a URL whose latest attempt failed at
    # wave last+2^failures, abandoning it past this many failures.
    # Backoff is a lower bound on spacing: when the frontier otherwise
    # drains, the earliest pending retries run immediately (an idle
    # crawler advances time) so waves stay contiguous for the store.
    retry_max_attempts: int | None = None
    # Spider-trap gate (operators/traps.py): None = off (reference
    # behavior and e1 parity).  When set, URLs whose (host, digit-
    # collapsed path template) accumulated >= trap_min_urls distinct
    # fetches with content diversity <= trap_max_diversity_milli are
    # dropped from later frontiers.  Content fingerprint is the hash of
    # parsed.data ONLY — the pagination cursor is excluded, so an
    # infinite offset chain serving the same payload IS a trap even
    # though its raw bytes differ per page.  Observations are in-run
    # state (not snapshotted); a resumed crawl re-learns traps.
    trap_min_urls: int | None = None
    trap_max_diversity_milli: int = 200


def make_join_fetcher(pages: DataFrame):
    """Default S3 fetcher: one broadcast join of the (small) wave
    against the (huge) pages table.  ``wave_side`` has columns
    ``seed_index, fetch_url, priority?, wave``; the fetcher must return
    those plus ``html BINARY`` (null = miss / fetch failure)."""

    def fetch(wave_side: DataFrame) -> DataFrame:
        hits = pages.select(F.col("url").alias("fetch_url"), "html").join(
            F.broadcast(wave_side), "fetch_url", "inner"
        )
        misses = wave_side.join(
            F.broadcast(hits.select("fetch_url", "seed_index")),
            ["fetch_url", "seed_index"],
            "left_anti",
        ).withColumn("html", F.lit(None).cast("binary"))
        return hits.select(*misses.columns).unionByName(misses)

    return fetch


def http_fetcher_stub(wave_side: DataFrame) -> DataFrame:
    """Live-fetch escape hatch (reference: requests.get at
    handler/apple_podcast_api.py:43).  The real implementation exists:
    ``plans/http_fetcher.make_http_fetcher`` — a ``mapInPandas`` over
    the scheduled wave with a per-executor-process client, in-task
    thread pool, and bounded retries; parity-tested against
    ``make_join_fetcher`` with an injected fake client
    (tests/test_http_fetcher.py).  Only the SOCKET is out of sandbox
    scope: pass a requests/httpx session factory to
    ``make_http_fetcher`` in production.  This argumentless stub
    remains the honest marker that no network client exists here."""
    raise NotImplementedError(
        "no network in this sandbox; use plans.http_fetcher."
        "make_http_fetcher(session_factory) for live crawling"
    )


@dataclass
class CrawlOutputs:
    episodes: DataFrame
    metrics: DataFrame
    fetch_log: DataFrame
    n_waves: int
    manifests: list[dict[str, Any]] = field(default_factory=list)


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema)


def next_frontier(
    parsed: DataFrame, visited: DataFrame, deferred: DataFrame, next_priority: int
) -> DataFrame:
    """Next-wave frontier: live cursors minus already-visited, plus the
    politeness-deferred rows.

    ``visited`` accumulates every fetched URL and is unbounded (10^10
    at target scale) — it must NEVER be a forced broadcast.  The exact
    anti-join is left unhinted: Spark plans a shuffle join and AQE
    downgrades to broadcast only when runtime stats actually fit."""
    nxt = (
        parsed.where(F.col("fetch_ok"))
        .select(
            "seed_index",
            F.col("next_url").alias("url"),
            F.lit(next_priority).alias("priority"),
        )
        .withColumn("fetch_url", U.normalize_fetch_url(F.col("url")))
        .join(visited, ["seed_index", "fetch_url"], "left_anti")
        .drop("fetch_url")
    )
    return nxt.unionByName(deferred.select("seed_index", "url", "priority"))


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    cfg: WaveConfig | None = None,
    store: SnapshotStore | None = None,
    resume: bool = False,
    fetcher=None,
) -> CrawlOutputs:
    """Crawl to frontier exhaustion.  ``seeds``: (seed_index, url[, ...]).

    With ``store`` set, each wave is one atomic commit of
    ``episodes / metrics / fetch_log / frontier``; ``resume=True``
    restarts from the last committed frontier snapshot.

    ``fetcher``: callable ``(wave_side) -> fetched`` replacing the
    default frontier⨝pages broadcast join (``make_join_fetcher``) —
    swap in a live HTTP ``mapInPandas`` fetcher (``http_fetcher_stub``
    documents the shape) without touching the loop.
    """
    cfg = cfg or WaveConfig()
    fetcher = fetcher or make_join_fetcher(pages)
    robots = parse_robots(pages).cache() if cfg.use_politeness else None
    try:
        return _crawl_waves(spark, seeds, cfg, store, resume, fetcher, robots)
    finally:
        # Released however the crawl ends; the outputs are checkpointed
        # or read back from the store, so none needs the cached robots.
        if robots is not None:
            robots.unpersist()


def _crawl_waves(
    spark: SparkSession,
    seeds: DataFrame,
    cfg: WaveConfig,
    store: SnapshotStore | None,
    resume: bool,
    fetcher,
    robots: DataFrame | None,
) -> CrawlOutputs:
    budgets = (
        host_budgets(robots, cfg.wave_seconds, DEFAULT_CRAWL_DELAY)
        if cfg.use_politeness and robots is not None
        else None
    )
    # Rate pacing: per-wave budgets derive from a carried credit
    # ledger instead of resetting each wave.
    pace_delays = (
        host_delays(robots, DEFAULT_CRAWL_DELAY * 1000).localCheckpoint()
        if cfg.use_politeness and cfg.use_rate_pacing and robots is not None
        else None
    )
    pace_carry: DataFrame | None = None

    frontier_schema = "seed_index INT, url STRING, priority INT"
    visited_schema = "seed_index INT, fetch_url STRING"

    start_wave = 0
    if resume and store is not None and store.last_committed_wave() is not None:
        head = store.last_committed_wave()
        frontier = store.read_wave("frontier", head)
        visited = store.read_table("fetch_log").select("seed_index", "fetch_url")
        start_wave = head + 1
    else:
        frontier = seeds.select(
            F.col("seed_index").cast("int"), "url", F.lit(0).alias("priority")
        )
        visited = _empty(spark, visited_schema)

    episodes_parts: list[DataFrame] = []
    metrics_parts: list[DataFrame] = []
    fetchlog_parts: list[DataFrame] = []
    manifests: list[dict[str, Any]] = []
    trap_obs: DataFrame | None = None  # (fetch_url, _fp) across waves

    wave = start_wave
    while wave < cfg.max_waves:
        if frontier.limit(1).count() == 0:
            break

        f = frontier.withColumn("fetch_url", U.normalize_fetch_url(F.col("url")))
        if cfg.trap_min_urls is not None and trap_obs is not None:
            traps = detect_url_traps(
                trap_obs,
                url_col="fetch_url",
                fp_col="_fp",
                min_urls=cfg.trap_min_urls,
                max_diversity_milli=cfg.trap_max_diversity_milli,
            )
            f = trap_gate(f, traps, url_col="fetch_url")

        if cfg.use_politeness:
            wave_budgets = (
                pacing_allowance(pace_delays, pace_carry, cfg.wave_seconds * 1000)
                if pace_delays is not None
                else budgets
            )
            scheduled, deferred = split_ranked(
                politeness_rank(
                    f, wave_budgets, default_budget=cfg.default_budget
                ).localCheckpoint()
            )
            if pace_delays is not None:
                counts = (
                    scheduled.groupBy(U.host_of(F.col("fetch_url")).alias("host"))
                    .agg(F.count(F.lit(1)).alias("n"))
                )
                pace_carry = pacing_carry_update(
                    pace_delays, pace_carry, counts, cfg.wave_seconds * 1000
                ).localCheckpoint()
        else:
            scheduled, deferred = f, _empty(
                spark, frontier_schema + ", fetch_url STRING"
            )

        wave_side = scheduled.select("seed_index", "fetch_url", "priority").withColumn(
            "wave", F.lit(wave)
        )
        # fetch step behind the fetcher interface (default: broadcast
        # join of the small wave against the huge pages table).
        fetched = fetcher(wave_side)

        parsed = E.next_cursor(E.parse_pages(fetched)).localCheckpoint()

        if cfg.trap_min_urls is not None:
            obs = parsed.where(F.col("fetch_ok")).select(
                "fetch_url",
                F.xxhash64(F.to_json(F.col("parsed.data"))).alias("_fp"),
            )
            trap_obs = (
                obs if trap_obs is None else trap_obs.unionByName(obs)
            ).localCheckpoint()

        eps = E.extract_episodes(parsed).select(*EPISODES_COLS)
        fetch_log = parsed.select(
            "seed_index",
            "fetch_url",
            F.lit(wave).alias("wave"),
            F.col("fetch_ok"),
            U.offset_of(F.col("fetch_url")).alias("offset"),
        )
        metrics = (
            parsed.withColumn("host", U.host_of(F.col("fetch_url")))
            .groupBy(F.lit(wave).alias("wave"), "host")
            .agg(
                F.count(F.lit(1)).alias("scheduled"),
                F.sum(F.when(F.col("fetch_ok"), 1).otherwise(0)).alias("fetched"),
                F.sum(F.when(~F.col("fetch_ok"), 1).otherwise(0)).alias("failed"),
                F.sum(F.size(F.coalesce(F.col("parsed.data"), F.array()))).alias("records"),
                F.sort_array(
                    F.collect_list(F.when(~F.col("fetch_ok"), F.col("fetch_url")))
                ).alias("fail_urls"),
            )
        )

        # next frontier: live cursors, minus already-visited (cycle guard),
        # plus politeness-deferred rows.  With a store, visited stays a
        # DISK-backed snapshot table re-read per wave (no executor-memory
        # union chain); the in-wave rows are unioned on top.
        visited = visited.unionByName(fetch_log.select("seed_index", "fetch_url"))
        if store is None:
            visited = visited.localCheckpoint()
        frontier = next_frontier(parsed, visited, deferred, wave + 1).localCheckpoint()

        if cfg.retry_max_attempts is not None:
            # Cumulative log incl. this wave (parts are materialized).
            full_log = fetch_log
            for p in fetchlog_parts:
                full_log = full_log.unionByName(p)
            sched = schedule_retries(full_log, cfg.retry_max_attempts)
            due = due_retries(sched, wave + 1)
            if frontier.limit(1).count() == 0 and due.limit(1).count() == 0:
                # Idle advance: nothing else to do — run the earliest
                # pending retries now instead of ending the crawl with
                # work still scheduled (wave numbering stays contiguous
                # for the snapshot store; backoff is a lower bound).
                nd = sched.agg(F.min("due_wave")).first()[0]
                if nd is not None:
                    due = due_retries(sched, int(nd))
            # Retried URLs are by definition visited, and deferred rows
            # were never fetched — the union is disjoint from the base.
            frontier = frontier.unionByName(due).localCheckpoint()

        if store is not None:
            # K3 lifecycle delta: fetched -> 3/4, deferred stays 1;
            # current status = latest row per key (read_current_status).
            status_delta = wave_status_delta(
                fetch_log, deferred.select("seed_index", "fetch_url"), wave
            )
            m = store.commit_wave(
                wave,
                {
                    "episodes": eps,
                    "metrics": metrics,
                    "fetch_log": fetch_log,
                    "frontier": frontier,
                    "url_status": status_delta,
                },
                metrics={"wave": wave},
            )
            manifests.append(m)
            eps = store.read_wave("episodes", wave)
            metrics = store.read_wave("metrics", wave)
            fetch_log = store.read_wave("fetch_log", wave)
            frontier = store.read_wave("frontier", wave)
            visited = store.read_table("fetch_log").select("seed_index", "fetch_url")
        else:
            eps = eps.localCheckpoint()
            metrics = metrics.localCheckpoint()
            fetch_log = fetch_log.localCheckpoint()

        episodes_parts.append(eps)
        metrics_parts.append(metrics)
        fetchlog_parts.append(fetch_log)
        wave += 1

    def _union(parts: list[DataFrame], schema: str) -> DataFrame:
        if not parts:
            return _empty(spark, schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    episodes = _union(
        episodes_parts,
        "seed_index INT, offset INT, pos INT, wave INT, source_url STRING, "
        + E.EPISODE_SCHEMA,
    )
    metrics = _union(
        metrics_parts,
        "wave INT, host STRING, scheduled BIGINT, fetched BIGINT, failed BIGINT, "
        "records BIGINT, fail_urls ARRAY<STRING>",
    )
    fetch_log = _union(
        fetchlog_parts,
        "seed_index INT, fetch_url STRING, wave INT, fetch_ok BOOLEAN, offset INT",
    )
    return CrawlOutputs(
        episodes=episodes,
        metrics=metrics,
        fetch_log=fetch_log,
        n_waves=wave - start_wave,
        manifests=manifests,
    )


def read_current_status(store: SnapshotStore) -> DataFrame:
    """Current crawl_status per (seed_index, fetch_url) from the
    committed ``url_status`` deltas — the reference's
    ``web_search_info.crawl_status`` view of the frontier."""
    return latest_status(
        store.read_table("url_status"), ["seed_index", "fetch_url"], "wave"
    )
