"""Engine-vs-oracle parity (SURVEY.md §5.1): same seeds, same corpus,
same politeness budget -> identical emissions (O1 order), identical
fetch set, identical extraction bytes."""

from __future__ import annotations

from collections import Counter
from urllib.parse import urlsplit

from pyspark.sql import functions as F

from crawler_apple_podcast_spark.datagen import CorpusParams, generate_corpus
from crawler_apple_podcast_spark.datagen.corpus import to_spark
from crawler_apple_podcast_spark.functions.episodes import parity_text
from crawler_apple_podcast_spark.oracle import crawl
from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore
from crawler_apple_podcast_spark.serde import normalize_fetch_url, offset_of
from crawler_apple_podcast_spark.plans.wave_loop import (
    WaveConfig,
    next_frontier,
    run_crawl,
    wave_metrics,
)


def _oracle(corpus_pdfs):
    pages_pdf, seeds_pdf = corpus_pdfs
    lookup = dict(zip(pages_pdf.url, pages_pdf.html))
    return crawl(list(seeds_pdf.url), lookup)


def _engine(spark, corpus, politeness=True):
    pages, seeds = corpus
    cfg = WaveConfig(use_politeness=politeness, max_waves=32)
    return run_crawl(spark, pages, seeds, cfg)


def _emission_key(rec):
    return (
        rec["id"], rec["title"], rec["full_url"], rec["author"],
        rec["duration"], tuple(rec["categories"]), rec["asset_url"],
    )


def test_emissions_match_oracle_o1_order(spark, corpus, corpus_pdfs):
    want = _oracle(corpus_pdfs)
    got = _engine(spark, corpus)

    got_rows = [
        ((r.seed_index, r.offset, r.pos), _emission_key(r.asDict()))
        for r in got.episodes.orderBy("seed_index", "offset", "pos").collect()
    ]
    want_rows = [
        ((e["seed_index"], e["offset"], e["pos"]), _emission_key(e["record"]))
        for e in want.emissions
    ]
    assert len(got_rows) == len(want_rows) > 0
    assert got_rows == want_rows


def test_fetch_set_matches_oracle(spark, corpus, corpus_pdfs):
    """Every (seed, url) the reference fetches, the engine fetches —
    including the terminal bare-base quirk fetches — and no others."""
    want = _oracle(corpus_pdfs)
    got = _engine(spark, corpus)
    got_set = {
        (r.seed_index, r.fetch_url, r.fetch_ok) for r in got.fetch_log.collect()
    }
    want_set = {(si, u, hit) for si, u, hit in want.fetch_log}
    assert got_set == want_set


def test_parity_without_politeness_gate(spark, corpus, corpus_pdfs):
    want = _oracle(corpus_pdfs)
    got = _engine(spark, corpus, politeness=False)
    assert got.episodes.count() == len(want.emissions)


def test_extraction_bytes_match_corpus(spark, corpus):
    pages, _ = corpus
    got = _engine(spark, corpus)
    texts = parity_text(got.episodes)
    joined = texts.join(pages.select("url", F.col("text").alias("want")), "url")
    assert joined.where(F.col("text") != F.col("want")).count() == 0
    assert joined.count() == texts.count() > 0


def test_next_frontier_large_visited_not_broadcast(spark):
    """Visited 100x the wave size (the unbounded-at-10^10 side): the
    anti-join stays exact and the plan carries no forced broadcast of
    visited — Spark/AQE picks the strategy from stats."""
    n_wave, n_visited = 1_000, 100_000
    parsed = spark.range(n_wave).select(
        F.lit(0).cast("int").alias("seed_index"),
        F.lit(True).alias("fetch_ok"),
        F.concat(F.lit("https://h.example/p/"), F.col("id").cast("string")).alias(
            "next_url"
        ),
    )
    # Every 2nd wave URL is already visited, plus 99k unrelated rows.
    visited = spark.range(n_visited).select(
        F.lit(0).cast("int").alias("seed_index"),
        F.when(
            F.col("id") < n_wave / 2,
            F.concat(
                F.lit("https://h.example/p/"),
                (F.col("id") * 2).cast("string"),
                F.lit("?l=en-US&offset=10"),  # fetch_log stores normalized urls
            ),
        )
        .otherwise(F.concat(F.lit("https://old.example/x/"), F.col("id").cast("string")))
        .alias("fetch_url"),
    ).localCheckpoint()
    deferred = spark.createDataFrame([], "seed_index INT, url STRING, priority INT")
    out = next_frontier(parsed, visited, deferred, 1)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed  # no forced broadcast of visited
    assert out.count() == n_wave / 2
    got = {r.url for r in out.collect()}
    assert all(int(u.rsplit("/", 1)[1]) % 2 == 1 for u in got)


def _oracle_wave_metrics(want) -> dict:
    """``{(wave, host): (scheduled, fetched, failed, records, fail_urls)}``
    of the reference crawl.  A seed's k-th fetch falls in wave k (the
    fixture's budgets never defer), and each run of emissions starting
    at ``pos`` 0 is the page of the seed's next hit with its offset."""
    fetches: dict[int, list] = {}
    for si, url, hit in want.fetch_log:
        fetches.setdefault(si, []).append((url, hit))
    records = Counter()
    cursor = Counter()
    for e in want.emissions:
        si = e["seed_index"]
        if e["pos"] == 0:
            k = cursor[si]
            while not (fetches[si][k][1] and offset_of(fetches[si][k][0]) == e["offset"]):
                k += 1
            cursor[si] = k + 1
        records[(si, cursor[si] - 1)] += 1
    out: dict = {}
    for si, seq in fetches.items():
        for k, (url, hit) in enumerate(seq):
            key = (k, urlsplit(url).hostname)
            sched, ok, bad, rec, fails = out.get(key, (0, 0, 0, 0, []))
            out[key] = (
                sched + 1, ok + hit, bad + (not hit),
                rec + records[(si, k)], sorted(fails + ([] if hit else [url])),
            )
    return out


def test_metrics_counters(spark, corpus, corpus_pdfs, tmp_path):
    """Per wave and host, the derived metrics equal the reference crawl's
    fetches, failures and emitted episodes, with and without a store;
    a store-backed wave commits exactly the four fact tables, and the
    same metrics derive from them."""
    want = _oracle_wave_metrics(_oracle(corpus_pdfs))
    pages, seeds = corpus
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    for st in (None, store):
        got = run_crawl(spark, pages, seeds, WaveConfig(max_waves=32), store=st)
        rows = got.metrics.collect()
        assert {
            (r.wave, r.host): (r.scheduled, r.fetched, r.failed, r.records, r.fail_urls)
            for r in rows
        } == want
        assert len(rows) == len(want)
    lineage = store.lineage()
    assert len(lineage) == got.n_waves
    for m in lineage:
        assert set(m["tables"]) == {"episodes", "fetch_log", "frontier", "url_status"}
    resumed = wave_metrics(store.read_table("fetch_log"), store.read_table("episodes"))
    assert sorted(resumed.collect()) == sorted(rows)


def test_custom_fetcher_interface_parity(spark, corpus, corpus_pdfs):
    """The fetch step runs through the fetcher callable: an instrumented
    wrapper around the default join fetcher produces identical emissions
    and is invoked once per wave; the live-HTTP stub raises honestly."""
    import pytest

    from crawler_apple_podcast_spark.plans.wave_loop import (
        http_fetcher_stub,
        make_join_fetcher,
    )

    pages, seeds = corpus
    calls = []
    base = make_join_fetcher(pages)

    def counting_fetcher(wave_side):
        calls.append(1)
        return base(wave_side)

    cfg = WaveConfig(use_politeness=True, max_waves=32)
    got = run_crawl(spark, pages, seeds, cfg, fetcher=counting_fetcher)
    want = _oracle(corpus_pdfs)
    got_rows = [
        ((r.seed_index, r.offset, r.pos), _emission_key(r.asDict()))
        for r in got.episodes.orderBy("seed_index", "offset", "pos").collect()
    ]
    want_rows = [
        ((e["seed_index"], e["offset"], e["pos"]), _emission_key(e["record"]))
        for e in want.emissions
    ]
    assert got_rows == want_rows
    assert len(calls) == got.n_waves > 0

    with pytest.raises(NotImplementedError):
        run_crawl(spark, pages, seeds, WaveConfig(max_waves=1), fetcher=http_fetcher_stub)


def test_retries_recover_wave0_outage(spark, corpus, tmp_path):
    """A fetcher that blacks out wave 0 entirely: with backoff retries
    enabled the crawl recovers every episode a healthy run finds (the
    idle-advance rule reruns the failed seeds as soon as the frontier
    is otherwise empty); with retries off (the reference's behavior)
    the failures are lost and nothing is ever extracted.  With a
    snapshot store the retried crawl makes the same fetches in the same
    waves and extracts the same episodes."""
    from crawler_apple_podcast_spark.plans.wave_loop import (
        WaveConfig,
        make_join_fetcher,
        run_crawl,
    )

    pages, seeds = corpus
    inner = make_join_fetcher(pages)

    def outage_fetcher(wave_side):
        fetched = inner(wave_side)
        return fetched.withColumn(
            "html", F.when(F.col("wave") == 0, F.lit(None)).otherwise(F.col("html"))
        )

    healthy = run_crawl(spark, pages, seeds, WaveConfig())
    n_healthy = healthy.episodes.count()
    assert n_healthy > 0

    no_retry = run_crawl(spark, pages, seeds, WaveConfig(), fetcher=outage_fetcher)
    assert no_retry.episodes.count() == 0

    retried = run_crawl(
        spark, pages, seeds, WaveConfig(retry_max_attempts=3), fetcher=outage_fetcher
    )
    assert retried.episodes.count() == n_healthy
    # recovery costs extra waves (the corpus also has PERMANENT misses
    # — ghost cursors — that retries re-attempt until the cap), but the
    # loop still terminates well inside max_waves
    assert healthy.n_waves < retried.n_waves < WaveConfig().max_waves
    # the attempt cap holds: a permanently-missing URL is fetched at
    # most 1 + 3 times (4th failure exceeds the cap and abandons it)
    attempts = (
        retried.fetch_log.groupBy("seed_index", "fetch_url")
        .agg(F.count(F.lit(1)).alias("n"), F.max("fetch_ok").alias("ever_ok"))
    )
    worst = attempts.where(~F.col("ever_ok")).agg(F.max("n")).first()[0]
    assert worst == 4
    # recovered URLs were fetched at most twice (wave-0 fail + success)
    assert attempts.where(F.col("ever_ok")).agg(F.max("n")).first()[0] <= 2

    stored = run_crawl(
        spark, pages, seeds, WaveConfig(retry_max_attempts=3), fetcher=outage_fetcher,
        store=SnapshotStore(spark, str(tmp_path / "snap")),
    )
    assert stored.n_waves == retried.n_waves

    def fetches(out):
        return Counter(tuple(r) for r in out.fetch_log.collect())

    def episodes(out):
        return sorted(tuple(r) for r in out.episodes.collect())

    assert fetches(stored) == fetches(retried)
    assert episodes(stored) == episodes(retried)


def _gate_partition_errors(store, seeds_pdf) -> list[str]:
    """Every row a wave's politeness gate receives comes out exactly
    once: fetched in that wave, or deferred into the next frontier with
    the priority it came in with (new cursors get ``wave + 1``).  A
    wave's input is the previous wave's committed frontier, the seeds
    for wave 0."""
    fetched = Counter(
        (r.wave, r.seed_index, r.fetch_url)
        for r in store.read_table("fetch_log").collect()
    )
    inputs = Counter(
        (int(s), normalize_fetch_url(u)) for s, u in zip(seeds_pdf.seed_index, seeds_pdf.url)
    )
    errors = []
    for wave in range(store.last_committed_wave() + 1):
        frontier = store.read_wave("frontier", wave).collect()
        out = Counter({(s, u): n for (w, s, u), n in fetched.items() if w == wave})
        out += Counter(
            (r.seed_index, normalize_fetch_url(r.url)) for r in frontier if r.priority <= wave
        )
        if out != inputs:
            errors.append(
                f"wave {wave}: {sum((inputs - out).values())} gate rows lost, "
                f"{sum((out - inputs).values())} duplicated"
            )
        inputs = Counter((r.seed_index, normalize_fetch_url(r.url)) for r in frontier)
    return errors


def test_deferring_crawl_matches_oracle(spark, tmp_path):
    """Budgets that defer in most waves: ties on the chains' shared
    bare-base URL straddle the cut, and each wave's ranking is evaluated
    once, so no fetch is lost or repeated against the oracle and every
    gate input is fetched or deferred exactly once."""
    pages_pdf, seeds_pdf = generate_corpus(CorpusParams(n_shows=40, max_pages_per_show=3))
    want = Counter(crawl(list(seeds_pdf.url), dict(zip(pages_pdf.url, pages_pdf.html))).fetch_log)
    pages, seeds = to_spark(spark, pages_pdf, seeds_pdf)
    pages.cache()
    try:
        for i in range(2):
            store = SnapshotStore(spark, str(tmp_path / f"snap{i}"))
            out = run_crawl(spark, pages, seeds, WaveConfig(wave_seconds=200), store=store)
            assert out.n_waves == 7
            got = Counter(
                (r.seed_index, r.fetch_url, r.fetch_ok) for r in out.fetch_log.collect()
            )
            assert got == want
            assert _gate_partition_errors(store, seeds_pdf) == []
    finally:
        pages.unpersist()
