"""Mirror-host detection: host pairs serving largely-identical content.

Crawling both sides of a mirror (www2.example.com, the .net twin, a
university FTP mirror) wastes fetch budget and floods dedup; the
crawl-operations fix is to detect host pairs whose content-fingerprint
sets overlap heavily and demote one side's frontier priority (Bharat &
Broder, "A comparison of techniques to find mirrored hosts on the
WWW", WWW'99).  The reference crawler never needs this (one seed
host); at Common-Crawl breadth it is a standard frontier hygiene pass
alongside DUST (operators/dust.py — intra-host aliases) and
rel=canonical (operators/canonical.py — declared aliases): mirrors are
the CROSS-host aliases nothing declares.

Plan shape (three small shuffles, nothing quadratic in the corpus):

1. distinct ``(host, fp)`` where ``fp = md5(text)`` — one shuffle of
   32-byte fingerprints, never page bodies; md5 on both engines makes
   the whole operator value-oracle-replayable.
2. **ubiquity cap**: fingerprints on more than ``max_hosts_per_fp``
   distinct hosts (empty pages, shared boilerplate, parked-domain
   templates) are dropped BEFORE the pair join — they assert nothing
   about mirroring and would otherwise fan out H^2 pairs per
   fingerprint.  With the cap, the pair join emits at most
   ``C(max_hosts_per_fp, 2)`` rows per fingerprint — linear in the
   fingerprint table, by construction.
3. host-pair shared counts via the fp self-join, then containment
   against the SMALLER host (mirrors are rarely byte-complete:
   ``shared / min(|A|, |B|)`` finds partial and staged mirrors that
   symmetric Jaccard misses), integer per-mille.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import idiv
from .similarity import _overlap_counts


def host_fingerprints(
    pages: DataFrame, host_col: str = "host", text_col: str = "text"
) -> DataFrame:
    """Distinct ``(host, fp)`` content-fingerprint table."""
    return pages.select(
        F.col(host_col).alias("host"), F.md5(text_col).alias("fp")
    ).distinct()


def mirror_host_pairs(
    pages: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    threshold_milli: int = 500,
    min_docs: int = 5,
    max_hosts_per_fp: int = 10,
) -> DataFrame:
    """``(host_a, host_b, shared, containment_milli)`` for host pairs
    whose fingerprint containment (vs the smaller side) clears the
    threshold; hosts below ``min_docs`` fingerprints never pair."""
    from pyspark.sql import Window

    hf = host_fingerprints(pages, host_col, text_col)
    # ubiquity cap: boilerplate fingerprints say nothing about mirrors.
    # One window over fp (hf is distinct, so count == distinct hosts)
    # instead of a groupBy+self-join — one Exchange, no join.  The
    # capped table is read three times below (both pair sides + sizes);
    # checkpoint it so the union+distinct upstream runs once and the
    # self-join reuses one exchange.
    hf2 = (
        hf.withColumn("_nh", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .where(F.col("_nh") <= max_hosts_per_fp)
        .drop("_nh")
        .localCheckpoint()
    )
    # sizes over the CAPPED table: ubiquitous fingerprints assert
    # nothing about mirroring, so they inflate neither numerator nor
    # denominator — a host that is pure boilerplate has size 0 and
    # never pairs.
    return (
        _overlap_counts(hf2, "host", "fp")
        .where(F.least("na", "nb") >= min_docs)
        .select(
            F.col("a").alias("host_a"),
            F.col("b").alias("host_b"),
            F.col("inter").alias("shared"),
            idiv(F.col("inter") * F.lit(1000), F.least("na", "nb")).alias(
                "containment_milli"
            ),
        )
        .where(F.col("containment_milli") >= threshold_milli)
    )


def demote_mirror_hosts(
    frontier: DataFrame,
    mirrors: DataFrame,
    host_col: str = "host",
    priority_col: str = "priority",
    penalty: int = 1_000_000,
) -> DataFrame:
    """Frontier hygiene: push the LEXICALLY-LARGER side of each mirror
    pair to the back of the priority queue (deterministic loser; a
    deployment would rank by host reputation instead).  Mirrors table
    is pair-count-sized — broadcast."""
    losers = mirrors.select(F.col("host_b").alias(host_col)).distinct()
    return frontier.join(F.broadcast(losers), host_col, "left_semi").withColumn(
        priority_col, F.col(priority_col) + F.lit(penalty)
    ).unionByName(
        frontier.join(F.broadcast(losers), host_col, "left_anti")
    )
