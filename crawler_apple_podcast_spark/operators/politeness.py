"""Per-host politeness scheduling (SURVEY.md §2.7 / §4.3).

The reference sleeps 10-15 s between pages of ONE host
(/root/reference/crawler_podcasts.py:81, utils/utime.py:5-14) and
consults nothing else; the engine turns that into a per-host *budget*:
with crawl-delay d and a wave lasting W seconds, a host may receive at
most ``max(1, W // d)`` fetches per wave.  Crawl-delays come from the
corpus' own ``robots.txt`` rows (broadcast as a tiny dim table).

Scale note: ranking "top-B per host" with a window over ``host`` puts
the whole ``amp-api.podcasts.apple.com`` skew bucket in ONE task — at
the 10^10-URL target that single sorted partition is the job.  The
gate instead ranks with ``hash_bucketed_host_rank``: the top bits of
the uniform url hash are an order-aligned salt, so the hot host spans
many window partitions, and one tiny ``(host, priority, bucket)``
count aggregate turns each partition-local row number into the exact
per-host rank — one shuffle of the frontier, no range-sampling pass,
no persisted intermediate.

``deferred`` falls out as ``rank > budget`` — no anti-join needed.

``politeness_rank`` returns that ranking with a boolean ``_scheduled``
column; callers materialize it once (``localCheckpoint`` or
``persist``) and split it with ``split_ranked``, so both halves come
from ONE evaluation.  ``politeness_gate`` returns the same split as two
lazy plans over an unmaterialized ranking: evaluated separately, a tie
of equal ``(priority, url)`` rows that straddles the budget cut may be
ordered differently in each, so a row can land in both outputs or in
neither.  It keeps that behaviour (and its ignored ``key_cols``) until
the benchmark that pins it changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import host_of, url_hash


def release_rank_cache() -> None:
    """Does nothing: the gate's ranker persists no intermediate.  Kept
    because the benchmark harness (``perfbench/``) still calls it."""


def parse_robots(pages: DataFrame) -> DataFrame:
    """robots.txt rows -> ``(host, crawl_delay)`` dim table.  Disallow
    rules are ``operators/robots.py``'s job (RFC 9309 parsing and
    gating)."""
    robots = pages.where(F.col("url").rlike(r"^https?://[^/]+/robots\.txt$"))
    body = F.decode(F.col("html"), "UTF-8")
    return robots.select(
        host_of(F.col("url")).alias("host"),
        F.regexp_extract(body, r"Crawl-delay:\s*([0-9]+)", 1).try_cast("int").alias("crawl_delay"),
    )


def host_budgets(robots: DataFrame, wave_seconds: int, default_delay: int = 5) -> DataFrame:
    """Budget dim table: fetches allowed per host per wave."""
    delay = F.coalesce(F.col("crawl_delay"), F.lit(default_delay))
    return robots.select(
        "host",
        F.greatest(F.lit(1), (F.lit(wave_seconds) / delay).cast("int")).alias("budget"),
    )


def hash_bucketed_host_rank(
    df: DataFrame,
    host_col: str,
    priority_col,
    hash_col: str,
    tiebreak_col: str,
    out_col: str = "_rn",
    n_buckets: int = 32,
) -> DataFrame:
    """Exact per-host rank by ``(priority, hash, tiebreak)`` with no
    single-task window AND no ``repartitionByRange`` sampling pass.

    The hash column is uniform, so its top bits are an ORDER-ALIGNED
    salt: for equal priority, signed(hash_a) < signed(hash_b) implies
    bucket_a <= bucket_b (arithmetic shift keeps signed order).  The
    skewed host therefore spreads over ``n_buckets`` ordinary window
    partitions, and the global per-host rank is
    ``local row_number + offset``, where offsets come from one tiny
    (host, priority, bucket) count aggregate.  Exactly one shuffle of
    the big frame, no sampling job, no persist."""
    if n_buckets & (n_buckets - 1) != 0:
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    k = n_buckets.bit_length() - 1
    b = df.withColumn("_bkt", F.shiftright(F.col(hash_col), 64 - k).cast("int"))
    cnt = b.groupBy(host_col, priority_col, "_bkt").agg(F.count(F.lit(1)).alias("_c"))
    ow = (
        Window.partitionBy(host_col)
        .orderBy(priority_col, "_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cnt.withColumn("_off", F.coalesce(F.sum("_c").over(ow), F.lit(0))).drop("_c")
    lw = Window.partitionBy(host_col, priority_col, "_bkt").orderBy(
        hash_col, tiebreak_col
    )
    ranked = b.join(off, [host_col, priority_col, "_bkt"]).withColumn(
        out_col, (F.row_number().over(lw) + F.col("_off")).cast("int")
    )
    return ranked.drop("_bkt", "_off")


def politeness_rank(
    frontier: DataFrame,
    budgets: DataFrame | None,
    default_budget: int = 1_000_000_000,
    url_col: str = "fetch_url",
    priority_col: str = "priority",
) -> DataFrame:
    """The frontier ranked per host for this wave: its columns plus a
    boolean ``_scheduled`` (host rank within the host's budget).

    Deterministic order within a host: ``(priority, url_hash, url)``.
    Materialize the result before splitting it with ``split_ranked``
    when both halves are used (see the module docstring).
    """
    f = frontier.withColumn("_host", host_of(F.col(url_col))).withColumn(
        "_uh", url_hash(F.col(url_col))
    )
    if budgets is not None:
        f = f.join(F.broadcast(budgets), f["_host"] == budgets["host"], "left").drop("host")
        f = f.withColumn("_budget", F.coalesce(F.col("budget"), F.lit(default_budget))).drop("budget")
    else:
        f = f.withColumn("_budget", F.lit(default_budget))

    # Order-aligned hash-prefix salting: the skewed host spans many
    # window partitions, no range-sampling pass, no cached intermediate.
    ranked = hash_bucketed_host_rank(f, "_host", priority_col, "_uh", url_col)
    return ranked.withColumn("_scheduled", F.col("_rn") <= F.col("_budget")).drop(
        "_host", "_uh", "_budget", "_rn"
    )


def split_ranked(ranked: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``politeness_rank`` output -> (scheduled, deferred)."""
    return (
        ranked.where(F.col("_scheduled")).drop("_scheduled"),
        ranked.where(~F.col("_scheduled")).drop("_scheduled"),
    )


def politeness_gate(
    frontier: DataFrame,
    budgets: DataFrame | None,
    default_budget: int = 1_000_000_000,
    url_col: str = "fetch_url",
    priority_col: str = "priority",
    key_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split the frontier into (scheduled, deferred) for this wave.

    Both outputs keep all original frontier columns; deferred rows
    should be unioned into the next wave's frontier.  The two are lazy
    halves of one unmaterialized ``politeness_rank`` and ``key_cols``
    is ignored (see the module docstring).
    """
    return split_ranked(
        politeness_rank(frontier, budgets, default_budget, url_col, priority_col)
    )


# -------------------------------------------------- cross-wave pacing
#
# The per-wave budget alone is a RATE only when every wave lasts
# exactly ``wave_seconds``: floor() truncation loses up to one
# crawl-delay of credit per wave, and variable wave lengths let a
# short wave followed by a long one exceed the host's average rate.
# The reference's semantics is a rate — one fetch per 10-15 s per host
# (crawler_podcasts.py:81) — so the engine carries per-host credit
# across waves in a tiny (host, carry_ms) ledger:
#
#   credit  = wave_ms + carry          (ms the host may spend)
#   budget  = max(0, credit // delay)  (0 = host still in debt: a
#                                       30 s-delay host in 10 s waves
#                                       fetches every 3rd wave, never
#                                       "at least once per wave")
#   carry'  = credit - n*delay   if the host used its full budget
#           = 0                  if it scheduled fewer than allowed
#                                (idle time is NOT banked — a host
#                                with an empty frontier must not earn
#                                a burst allowance for later)
#
# All three frames are host-dim-sized (broadcastable); the big
# frontier is only ever touched by the gate itself.


def host_delays(robots: DataFrame, default_delay_ms: int = 5000) -> DataFrame:
    """(host, delay_ms) dim table from robots crawl-delays."""
    return robots.select(
        "host",
        (F.coalesce(F.col("crawl_delay"), F.lit(default_delay_ms / 1000.0)) * 1000)
        .cast("long")
        .alias("delay_ms"),
    )


def _with_credit(delays: DataFrame, carry: DataFrame | None, wave_ms: int) -> DataFrame:
    d = delays
    if carry is None:
        return d.withColumn("_credit", F.lit(int(wave_ms)).cast("long"))
    return (
        d.join(F.broadcast(carry), "host", "left")
        .withColumn(
            "_credit", F.lit(int(wave_ms)) + F.coalesce(F.col("carry_ms"), F.lit(0))
        )
        .drop("carry_ms")
    )


def pacing_allowance(
    delays: DataFrame, carry: DataFrame | None, wave_ms: int
) -> DataFrame:
    """Per-host budget for THIS wave under rate pacing: (host, budget).
    Plugs straight into ``politeness_rank``'s ``budgets`` argument."""
    c = _with_credit(delays, carry, wave_ms)
    return c.select(
        "host",
        F.greatest(
            F.lit(0), F.floor(F.col("_credit") / F.col("delay_ms"))
        ).cast("int").alias("budget"),
    )


def pacing_carry_update(
    delays: DataFrame,
    carry: DataFrame | None,
    scheduled_counts: DataFrame,
    wave_ms: int,
) -> DataFrame:
    """Next wave's (host, carry_ms) ledger given what this wave
    actually scheduled (``scheduled_counts``: (host, n))."""
    c = _with_credit(delays, carry, wave_ms)
    j = (
        c.join(F.broadcast(scheduled_counts), "host", "left")
        .withColumn("_n", F.coalesce(F.col("n"), F.lit(0)))
        .withColumn(
            "_allow", F.greatest(F.lit(0), F.floor(F.col("_credit") / F.col("delay_ms")))
        )
    )
    return j.select(
        "host",
        F.when(F.col("_n") < F.col("_allow"), F.lit(0).cast("long"))
        .otherwise(F.col("_credit") - F.col("_n") * F.col("delay_ms"))
        .alias("carry_ms"),
    )


# --------------------------------------- adaptive crawl-delay (AIMD)

def adaptive_delay(
    fetch_log: DataFrame,
    delays: DataFrame,
    default_delay_ms: int = 1000,
    min_delay_ms: int = 100,
    max_delay_ms: int = 60_000,
    err_backoff_milli: int = 100,
    fast_latency_ms: int = 200,
    decrease_step_ms: int = 50,
) -> DataFrame:
    """AIMD crawl-delay controller: per host, tune the politeness delay
    from the last wave's observed behavior the way TCP tunes cwnd —
    multiplicative backoff on distress, additive decrease when the
    server is comfortably fast, hold otherwise.

    - error share > ``err_backoff_milli`` per-mille  -> ``delay * 2``
      (capped at ``max_delay_ms``), action ``'backoff'``;
    - mean latency < ``fast_latency_ms``             -> ``delay -
      decrease_step_ms`` (floored at ``min_delay_ms``), ``'decrease'``;
    - otherwise ``'hold'``.  Hosts with traffic but no delay row start
      from ``default_delay_ms``; hosts with a delay row but no traffic
      hold.

    All state is integers (error share in per-mille, mean latency by
    integer division), so the controller replays exactly in SQL and
    two engines never drift by a rounding ULP.  Plan: one map-side-
    combined groupBy(host) over the fetch log + one host-keyed outer
    join against the (hosts-sized, not fetch-sized) delay table.
    """
    stats = fetch_log.groupBy("host").agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_err"),
        F.sum("latency_ms").alias("_lat_sum"),
        F.count(F.lit(1)).alias("_n"),
    )
    j = delays.select("host", "delay_ms").join(stats, "host", "full_outer")
    cur = F.coalesce(F.col("delay_ms"), F.lit(default_delay_ms))
    err_milli = F.expr("(1000 * n_err) div (n_ok + n_err)")
    mean_lat = F.expr("_lat_sum div _n")
    action = F.when(F.col("_n").isNull(), F.lit("hold")).when(
        err_milli > err_backoff_milli, F.lit("backoff")
    ).when(mean_lat < fast_latency_ms, F.lit("decrease")).otherwise(F.lit("hold"))
    nxt = (
        F.when(action == "backoff", F.least(cur * 2, F.lit(max_delay_ms)))
        .when(
            action == "decrease",
            F.greatest(cur - decrease_step_ms, F.lit(min_delay_ms)),
        )
        .otherwise(cur)
    )
    return j.select(
        "host",
        nxt.cast("long").alias("delay_ms"),
        F.coalesce("n_ok", F.lit(0)).cast("long").alias("n_ok"),
        F.coalesce("n_err", F.lit(0)).cast("long").alias("n_err"),
        F.coalesce(err_milli, F.lit(0)).cast("long").alias("err_milli"),
        F.coalesce(mean_lat, F.lit(-1)).cast("long").alias("mean_latency_ms"),
        action.alias("action"),
    )
