"""HTTP redirect-chain resolution by pointer doubling.

The reference never sees a redirect graph: ``requests.get`` silently
follows 3xx chains one URL at a time
(``/root/reference/handler/apple_podcast_api.py:43-48``,
``/root/reference/utils/file.py:59``).  A distributed crawler records
``(src_url, Location)`` edges from fetch logs and must resolve every
source to its final landing URL itself — chains (bit.ly -> t.co ->
publisher -> canonical), and cycles (misconfigured A <-> B), at
frontier scale.

Naive iteration follows one hop per round: L shuffle joins for chain
length L.  ``resolve_redirects`` uses **pointer doubling** instead:
maintain a mapping ``u -> (v, d)`` ("from u one reaches v in d hops,
v terminal or d saturated") and compose it with itself, so reach
doubles every round — ``ceil(log2(max_hops))`` self-joins total (5
rounds for the default 32-hop browser-style cap) regardless of how
many million chains are in flight.  Each round is ONE shuffle of the
mapping on the composition key; each round is local-checkpointed, so
lineage stays flat (no 2^k-deep plan) and a round's blocks go once no
frame references it.  The trade: a lost executor fails the job instead
of recomputing the round.

Loop handling is the cap semantics real fetchers use (curl
``--max-redirs``, browsers ~20): a chain that has not terminated
within ``max_hops`` — cycles included, since a cycle never reaches a
terminal — comes back ``status='truncated'`` with NULL final/hops.

Precondition: HTTP gives one ``Location`` per source URL, so the edge
relation should be functional; duplicate observations of the same
``src`` are collapsed deterministically to ``min(dst)`` first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def release_redirect_cache() -> None:
    """Does nothing: ``resolve_redirects`` local-checkpoints its
    rounds, and Spark drops a checkpoint once nothing references its
    frame.  Kept because the benchmark harness (``perfbench/``) still
    calls it."""


def resolve_redirects(
    edges: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    max_hops: int = 32,
) -> DataFrame:
    """``(src_col, final_url, hops, status)`` for every distinct source
    in ``edges``; ``status`` is ``'resolved'`` (final_url terminal,
    hops = exact chain length) or ``'truncated'`` (no terminal within
    ``max_hops``: over-long chain or cycle; final_url/hops NULL)."""
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")

    # enforce a functional graph deterministically
    step = (
        edges.groupBy(F.col(src_col).alias("_u"))
        .agg(F.min(dst_col).alias("_v"))
        .withColumn("_d", F.lit(1).cast("long"))
        .localCheckpoint()
    )

    # compose until reach >= max_hops (reach doubles per round)
    cur, reach = step, 1
    while reach < max_hops:
        nxt = (
            cur.alias("a")
            .join(
                cur.select(
                    F.col("_u").alias("_bu"),
                    F.col("_v").alias("_bv"),
                    F.col("_d").alias("_bd"),
                ).alias("b"),
                F.col("a._v") == F.col("b._bu"),
                "left",
            )
            .select(
                F.col("a._u").alias("_u"),
                F.coalesce(F.col("b._bv"), F.col("a._v")).alias("_v"),
                (
                    F.col("a._d")
                    + F.coalesce(F.col("b._bd"), F.lit(0).cast("long"))
                ).alias("_d"),
            )
        )
        cur, reach = nxt.localCheckpoint(), reach * 2

    # v is terminal iff it has no outgoing edge
    heads = step.select(F.col("_u").alias("_t"))
    out = (
        cur.join(heads, cur["_v"] == heads["_t"], "left")
        .withColumn("_terminal", F.col("_t").isNull())
        .select(
            F.col("_u").alias(src_col),
            F.when(F.col("_terminal") & (F.col("_d") <= max_hops), F.col("_v"))
            .alias("final_url"),
            F.when(F.col("_terminal") & (F.col("_d") <= max_hops), F.col("_d"))
            .cast("long")
            .alias("hops"),
            F.when(
                F.col("_terminal") & (F.col("_d") <= max_hops), F.lit("resolved")
            )
            .otherwise(F.lit("truncated"))
            .alias("status"),
        )
    )
    return out
