"""End-to-end reference pipeline: everything ``python main.py podcast``
does, as one composed Spark plan (/root/reference/main.py:14-15 ->
crawler_podcasts.py:36-91 -> handler/apple_podcast_api.py:137-182).

    crawl waves (E1)  ->  episodes
    episodes          ->  download ledger rows (K4, D2 skip-if-exists)
    ledger            ->  claim/upload/finalize against the bucket (K5)

A user of the reference switches here by calling ``run_podcast_pipeline``
with their pages corpus + seed list; every stage is the same operator
the driver contract exercises individually (e1_crawl_wave,
k4_download_ledger, the object-store lifecycle tests).

Download politeness: the reference sleeps 20-30 s between asset
downloads (handler/apple_podcast_api.py:167, 172).  At cluster scale
that becomes a per-asset-host budget per cycle — the same
``politeness_gate`` the frontier uses, applied to the claim step — so
one asset CDN is never hammered by a thousand executors at once;
unclaimed rows stay status-0 for the next cycle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.politeness import politeness_gate
from .ledger import build_download_ledger
from .object_store import run_download_cycle
from .snapshots import SnapshotStore
from .status import STATUS_INIT
from .wave_loop import CrawlOutputs, WaveConfig, run_crawl


@dataclass
class PipelineOutputs:
    crawl: CrawlOutputs
    ledger: DataFrame
    outcomes: DataFrame
    n_cycles: int


def claim_with_politeness(
    ledger: DataFrame, per_host_budget: int, url_col: str = "asset_url"
) -> tuple[DataFrame, DataFrame]:
    """Split claimable ledger rows into (this_cycle, later) with at most
    ``per_host_budget`` rows per asset host — the distributed analog of
    the reference's 20-30 s inter-download sleep."""
    claimable = ledger.where(
        (F.col("status") == STATUS_INIT) & (F.col("lock") == 0)
    ).withColumn("priority", F.lit(0))
    now, later = politeness_gate(
        claimable, None, default_budget=per_host_budget, url_col=url_col
    )
    return now.drop("priority"), later.drop("priority")


def run_podcast_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    bucket_root: str,
    cfg: WaveConfig | None = None,
    store: SnapshotStore | None = None,
    existing_ledger: DataFrame | None = None,
    fetch_fn=None,
    download_budget_per_host: int = 1 << 30,
    max_download_cycles: int = 64,
) -> PipelineOutputs:
    """Crawl to exhaustion, derive the asset ledger, then run download
    cycles until nothing is claimable (budget-deferred rows roll into
    the next cycle, exactly like politeness-deferred frontier rows)."""
    crawl = run_crawl(spark, pages, seeds, cfg, store=store)
    ledger = build_download_ledger(crawl.episodes, existing=existing_ledger)
    ledger = ledger.localCheckpoint()

    # Ledger snapshots get their OWN store root: crawl resume reads the
    # frontier at HEAD, which a ledger commit must never displace.
    ledger_store = (
        SnapshotStore(spark, f"{store.root}/ledger") if store is not None else None
    )

    all_outcomes: DataFrame | None = None
    cycles = 0
    while cycles < max_download_cycles:
        now, later = claim_with_politeness(ledger, download_budget_per_host)
        if now.limit(1).count() == 0:
            break
        # Rows beyond this cycle's host budget are withheld from the
        # cycle's claimable input (still status-0) but ride along as
        # ``passthrough`` so every committed ledger snapshot holds the
        # FULL ledger — a kill/resume from the last committed wave must
        # not lose deferred assets; they re-enter next cycle.
        deferred_ids = later.select("id")
        cycle_input = ledger.join(deferred_ids, "id", "left_anti")
        kept_back = ledger.join(deferred_ids, "id", "left_semi")
        ledger_now, outcomes = run_download_cycle(
            spark, cycle_input, bucket_root, fetch_fn=fetch_fn,
            store=ledger_store, cycle=cycles, passthrough=kept_back,
        )
        ledger = ledger_now.localCheckpoint()
        all_outcomes = (
            outcomes if all_outcomes is None else all_outcomes.unionByName(outcomes)
        )
        cycles += 1

    if all_outcomes is None:
        all_outcomes = spark.createDataFrame(
            [], "id STRING, cos_key STRING, ok BOOLEAN, err STRING"
        )
    return PipelineOutputs(
        crawl=crawl, ledger=ledger, outcomes=all_outcomes, n_cycles=cycles
    )
