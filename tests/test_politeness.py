"""Robots parsing, budget computation, and the two-phase per-host gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators.politeness import (
    host_budgets,
    parse_robots,
    politeness_gate,
)


def test_parse_robots(spark, corpus):
    pages, _ = corpus
    robots = parse_robots(pages)
    rows = {r.host: r.crawl_delay for r in robots.collect()}
    assert "amp-api.podcasts.apple.com" in rows
    assert all(d in (1, 5, 10) for d in rows.values())


def test_host_budgets(spark, corpus):
    pages, _ = corpus
    budgets = host_budgets(parse_robots(pages), wave_seconds=20)
    for r in budgets.collect():
        assert r.budget >= 1


def _frontier(spark, n_hosts=3, per_host=20):
    rows = [
        (h * 1000 + i, f"https://host{h}.example/p/{i}", 0)
        for h in range(n_hosts)
        for i in range(per_host)
    ]
    return spark.createDataFrame(rows, "seed_index INT, fetch_url STRING, priority INT")


def test_gate_respects_budget_and_is_exact_topk(spark):
    f = _frontier(spark)
    budgets = spark.createDataFrame(
        [(f"host{h}.example", 5) for h in range(3)], "host STRING, budget INT"
    )
    sched, deferred = politeness_gate(
        f, budgets, key_cols=["seed_index", "fetch_url"]
    )
    per_host = (
        sched.withColumn("h", F.parse_url("fetch_url", F.lit("HOST")))
        .groupBy("h").count().collect()
    )
    assert all(r["count"] == 5 for r in per_host)
    assert sched.count() + deferred.count() == f.count()
    # scheduled ∩ deferred = ∅
    assert sched.join(deferred, ["seed_index", "fetch_url"], "inner").count() == 0


def test_gate_deterministic_and_priority_first(spark):
    rows = [(i, f"https://h.example/p/{i}", 1 if i < 10 else 0) for i in range(20)]
    f = spark.createDataFrame(rows, "seed_index INT, fetch_url STRING, priority INT")
    budgets = spark.createDataFrame([("h.example", 10)], "host STRING, budget INT")
    s1, _ = politeness_gate(f, budgets, key_cols=["seed_index", "fetch_url"])
    s2, _ = politeness_gate(f, budgets, key_cols=["seed_index", "fetch_url"])
    got1 = sorted(r.seed_index for r in s1.collect())
    got2 = sorted(r.seed_index for r in s2.collect())
    assert got1 == got2
    # all priority-0 rows (10 of them) win the 10 slots
    assert got1 == list(range(10, 20))


def test_default_budget_schedules_everything(spark):
    f = _frontier(spark)
    sched, deferred = politeness_gate(f, None, key_cols=["seed_index", "fetch_url"])
    assert sched.count() == f.count()
    assert deferred.count() == 0


# ------------------------------------------------ cross-wave rate pacing


def _delays(spark, rows):
    return spark.createDataFrame(rows, "host STRING, delay_ms LONG")


def _counts(spark, rows):
    return spark.createDataFrame(rows, "host STRING, n LONG")


def test_pacing_carries_fractional_credit(spark):
    """delay 3 s, 10 s waves: allowances 3,3,4 then repeat — exactly
    10 fetches per 30 s, the true rate; a per-wave floor() alone gives
    9 (truncation loses credit every wave)."""
    from crawler_apple_podcast_spark.operators.politeness import (
        pacing_allowance,
        pacing_carry_update,
    )

    d = _delays(spark, [("h", 3000)])
    carry, seen = None, []
    for _ in range(6):
        allow = pacing_allowance(d, carry, 10_000)
        n = allow.collect()[0].budget
        seen.append(n)
        carry = pacing_carry_update(d, carry, _counts(spark, [("h", n)]), 10_000)
    assert seen == [3, 3, 4, 3, 3, 4]


def test_pacing_debt_host_fetches_every_third_wave(spark):
    """delay 30 s in 10 s waves: budget 0,0,1,0,0,1 — a host slower
    than the wave is NEVER granted 'at least one per wave' (which
    would triple its contracted rate)."""
    from crawler_apple_podcast_spark.operators.politeness import (
        pacing_allowance,
        pacing_carry_update,
    )

    d = _delays(spark, [("slow", 30_000)])
    carry, seen = None, []
    for _ in range(6):
        allow = pacing_allowance(d, carry, 10_000)
        n = allow.collect()[0].budget
        seen.append(n)
        carry = pacing_carry_update(d, carry, _counts(spark, [("slow", n)]), 10_000)
    assert seen == [0, 0, 1, 0, 0, 1]


def test_pacing_idle_time_is_not_banked(spark):
    """A host that scheduled less than its allowance resets to zero
    carry: an empty frontier must not earn a later burst."""
    from crawler_apple_podcast_spark.operators.politeness import (
        pacing_allowance,
        pacing_carry_update,
    )

    d = _delays(spark, [("h", 3000)])
    # wave 1: allowance 3, but only 1 URL was available
    carry = pacing_carry_update(d, None, _counts(spark, [("h", 1)]), 10_000)
    assert carry.collect()[0].carry_ms == 0
    # wave 2: allowance is back to the plain 3, not 3 + banked credit
    assert pacing_allowance(d, carry, 10_000).collect()[0].budget == 3


def test_crawl_with_rate_pacing_reaches_same_episode_set(spark, corpus):
    """Pacing changes WHEN a URL is scheduled, never WHETHER: the
    paced crawl (smaller waves, credit carried) emits exactly the
    same episode rows as the unpaced one, just over more waves."""
    from crawler_apple_podcast_spark.plans.wave_loop import WaveConfig, run_crawl

    pages, seeds = corpus
    base = run_crawl(spark, pages, seeds, WaveConfig(use_politeness=False))
    paced = run_crawl(
        spark,
        pages,
        seeds,
        WaveConfig(wave_seconds=20, use_rate_pacing=True, max_waves=64),
    )
    a = base.episodes.orderBy("seed_index", "offset", "pos").drop("wave").collect()
    b = paced.episodes.orderBy("seed_index", "offset", "pos").drop("wave").collect()
    assert a == b
    assert paced.n_waves >= base.n_waves


# ------------------------------------------------ property: gate invariants

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators.politeness import politeness_gate


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2)), min_size=1, max_size=40
    ),
    st.lists(st.integers(0, 4), min_size=4, max_size=4),
)
def test_gate_invariants_property(spark, spec, budget_vals):
    """Random skewed frontiers x random per-host budgets: the gate must
    (1) schedule at most budget rows per host, (2) partition the input
    exactly (scheduled + deferred == input), (3) admit priority-first —
    per host, the scheduled priorities are the smallest-k of that
    host's priorities."""
    rows = [
        (f"https://h{h}.example/p/{i}", p) for i, (h, p) in enumerate(spec)
    ]
    f = spark.createDataFrame(rows, "fetch_url STRING, priority INT")
    budgets = spark.createDataFrame(
        [(f"h{h}.example", b) for h, b in enumerate(budget_vals)],
        "host STRING, budget INT",
    )
    sched, defer = politeness_gate(f, budgets, default_budget=1)
    s = [(r.fetch_url, r.priority) for r in sched.collect()]
    d = [(r.fetch_url, r.priority) for r in defer.collect()]
    assert sorted(s + d) == sorted(rows)  # (2) exact partition
    by_host_in: dict[str, list[int]] = {}
    for u, p in rows:
        by_host_in.setdefault(u.split("/")[2], []).append(p)
    by_host_s: dict[str, list[int]] = {}
    for u, p in s:
        by_host_s.setdefault(u.split("/")[2], []).append(p)
    for h, b in ((f"h{i}.example", v) for i, v in enumerate(budget_vals)):
        got = sorted(by_host_s.get(h, []))
        allp = sorted(by_host_in.get(h, []))
        k = min(b, len(allp))
        assert len(got) == k  # (1) exactly budget (or all pending)
        assert got == allp[:k]  # (3) priority-first


def test_adaptive_delay_aimd_actions(spark):
    from crawler_apple_podcast_spark.operators.politeness import adaptive_delay

    log = spark.createDataFrame(
        # sick: 2/4 errors -> backoff; fast: all ok, mean 100 -> decrease
        # slow: all ok, mean 500 -> hold; fresh: no delay row, fast
        [("sick", True, 100), ("sick", False, 100), ("sick", True, 100),
         ("sick", False, 100),
         ("fast", True, 90), ("fast", True, 110),
         ("slow", True, 500), ("slow", True, 500),
         ("fresh", True, 50)],
        "host STRING, ok BOOLEAN, latency_ms LONG",
    )
    delays = spark.createDataFrame(
        [("sick", 400), ("fast", 400), ("slow", 400), ("idle", 400),
         ("floor", 100)],
        "host STRING, delay_ms LONG",
    )
    # floor host: fast but already at min -> stays 100
    log = log.union(
        spark.createDataFrame([("floor", True, 10)],
                              "host STRING, ok BOOLEAN, latency_ms LONG")
    )
    out = {
        r.host: (r.delay_ms, r.action)
        for r in adaptive_delay(log, delays).collect()
    }
    assert out["sick"] == (800, "backoff")          # 500 per-mille errs
    assert out["fast"] == (350, "decrease")         # mean 100 < 200
    assert out["slow"] == (400, "hold")
    assert out["idle"] == (400, "hold")             # delay row, no traffic
    assert out["fresh"] == (950, "decrease")        # default 1000 - 50
    assert out["floor"] == (100, "decrease")        # clamped at min


def test_adaptive_delay_backoff_caps_at_max(spark):
    from crawler_apple_podcast_spark.operators.politeness import adaptive_delay

    log = spark.createDataFrame(
        [("h", False, 100)], "host STRING, ok BOOLEAN, latency_ms LONG"
    )
    delays = spark.createDataFrame([("h", 50_000)], "host STRING, delay_ms LONG")
    row = adaptive_delay(log, delays).collect()[0]
    assert (row.delay_ms, row.action) == (60_000, "backoff")
