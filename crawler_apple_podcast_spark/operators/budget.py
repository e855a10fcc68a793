"""Crawl-budget apportionment across hosts (largest-remainder method).

A crawl wave has a global fetch budget ``B``; per-host shares should
be proportional to a host score (PageRank mass, quality, historical
yield).  Floats drift and floor-only truncation loses up to one fetch
per host, so this uses Hamilton's largest-remainder method: exact
integer quotas ``(score*B) div S`` plus one extra fetch to the
``B - sum(base)`` largest remainders — ``sum(alloc) == B`` exactly,
every alloc within 1 of the real quota, fully deterministic
(remainder desc, key asc tie-break).  The reference has no budget
notion (it fetches every seed, /root/reference/main.py); this is
scheduler-side engine addition.

Scale: the global remainder rank NEVER uses a single-partition window
over the host table.  Remainders live in ``[0, S)``, so
``NB-1 - (rem * NB) div S`` is an order-aligned bucket of remainders
descending, and ``skew.bucketed_scan`` ranks by it.  One shuffle of
the host table plus two tiny aggregates.

Overflow note: ``score * B`` and ``rem * NB`` must fit in signed 64
bits — pre-scale scores so ``S * max(B, NB) < 2^63`` (Spark 4 ANSI
mode would throw, not wrap, if violated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import bucketed_scan


def apportion_budget(
    scores: DataFrame,
    total: int,
    key_col: str = "host",
    score_col: str = "score",
    n_buckets: int = 1024,
) -> DataFrame:
    """``(key_col, score_col, alloc)`` with ``sum(alloc) == total``,
    ``alloc`` proportional to non-negative integer ``score_col`` by
    the largest-remainder method."""
    if total < 0:
        raise ValueError("total budget must be >= 0")
    if n_buckets & (n_buckets - 1) != 0:
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    tot = scores.agg(F.sum(score_col).cast("long").alias("_s"))
    q = scores.crossJoin(F.broadcast(tot)).select(
        key_col,
        score_col,
        F.expr(f"({score_col} * {total}) div _s").alias("_base"),
        F.expr(f"({score_col} * {total}) % _s").alias("_rem"),
        F.col("_s"),
    )
    # leftover seats: B - sum(base); tiny 1-row frame
    left = q.agg((F.lit(total) - F.sum("_base")).cast("long").alias("_left"))
    # order-aligned value buckets: ascending _bkt = descending _rem
    b = q.withColumn(
        "_bkt", F.expr(f"{n_buckets - 1} - (_rem * {n_buckets}) div _s").cast("int")
    )
    ranked = bucketed_scan(b, [], ["_bkt"], [F.desc("_rem"), F.asc(key_col)], "_rk")
    return ranked.crossJoin(F.broadcast(left)).select(
        key_col,
        score_col,
        (
            F.col("_base")
            + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )


def mixture_apportion(
    counts: DataFrame,
    total: int,
    key_col: str = "source",
    count_col: str = "n_docs",
    n_buckets: int = 1024,
) -> DataFrame:
    """Temperature-scaled training-mixture apportionment: per-source
    sampling quotas ``alloc`` with ``sum(alloc) == total``,
    proportional to ``count^(1/2)`` — the classic multilingual /
    source-mixing temperature move (tau = 0.5 flattens the head so
    low-resource sources keep representation; tau = 1 is plain
    proportional, already ``apportion_budget``).

    Exactness: ``sqrt`` of an integer is ONE correctly-rounded IEEE op
    and the half-up milli quantizer is the repo-wide convention, so
    the integer weights — and therefore the largest-remainder
    allocation — replay bit-identically in the SQL oracle.  Scale
    shape is ``apportion_budget``'s: one shuffle of the (tiny) source
    dimension plus two broadcastable aggregates."""
    w = counts.select(
        key_col,
        F.col(count_col).cast("long").alias("n"),
        F.floor(F.sqrt(F.col(count_col).cast("double")) * 1000 + F.lit(0.5))
        .cast("long")
        .alias("weight"),
    )
    out = apportion_budget(w, total, key_col, "weight", n_buckets)
    return out.join(w.select(key_col, "n"), key_col).select(
        key_col, "n", "weight", "alloc"
    )
