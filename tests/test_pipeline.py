"""End-to-end reference pipeline (plans/pipeline.py): crawl -> ledger
-> politeness-budgeted download cycles -> bucket, plus the Iceberg
binding's honest unavailability contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.plans.object_store import deterministic_fake_fetch
from crawler_apple_podcast_spark.plans.pipeline import (
    claim_with_politeness,
    run_podcast_pipeline,
)
from crawler_apple_podcast_spark.plans.wave_loop import WaveConfig


def test_full_pipeline_crawl_to_bucket(spark, corpus, tmp_path):
    pages, seeds = corpus
    bucket = str(tmp_path / "bucket")
    out = run_podcast_pipeline(spark, pages, seeds, bucket, WaveConfig())
    n_eps = out.crawl.episodes.count()
    assert n_eps > 0
    # every extracted episode became a ledger row and finished status 3
    stat = {r.id: r.status for r in out.ledger.collect()}
    assert len(stat) == n_eps and set(stat.values()) == {3}
    assert out.outcomes.where(~F.col("ok")).count() == 0
    assert out.n_cycles == 1  # unbounded budget -> single cycle
    # blobs exist with byte-exact fake content
    rows = out.ledger.collect()
    for r in rows[:5]:
        with open(os.path.join(bucket, r.cos_key), "rb") as f:
            assert f.read() == deterministic_fake_fetch(r.asset_url)


def test_pipeline_download_budget_spreads_cycles(spark, corpus, tmp_path):
    """A per-host budget below the asset count forces multiple cycles
    (the reference's inter-download sleep, distributed) — same final
    state, no row lost or re-uploaded."""
    pages, seeds = corpus
    bucket = str(tmp_path / "bucket")
    out = run_podcast_pipeline(
        spark, pages, seeds, bucket, WaveConfig(), download_budget_per_host=25
    )
    n_eps = out.crawl.episodes.count()
    assert out.n_cycles > 1
    assert out.outcomes.count() == n_eps  # each asset uploaded exactly once
    assert out.ledger.where("status <> 3").count() == 0


def test_claims_split_a_tied_asset_url_once(spark):
    """Forty claimable ids share one asset URL and the host budget cuts
    inside that tie: each claim puts every claimable id in exactly one
    of ``now`` and ``later``, and re-evaluating a half changes nothing."""
    host = "https://cdn.example"
    rows = [(f"t{i}", f"{host}/shared.mp3", 0, 0) for i in range(40)]
    rows += [(f"u{i}", f"{host}/own{i}.mp3", 0, 0) for i in range(20)]
    rows += [("done", f"{host}/shared.mp3", 3, 0), ("locked", f"{host}/x.mp3", 0, 1)]
    ledger = spark.createDataFrame(
        rows, "id STRING, asset_url STRING, status INT, lock INT"
    ).repartition(4).localCheckpoint()
    claimable = sorted(r[0] for r in rows if r[2] == 0 and r[3] == 0)
    for _ in range(5):
        now, later = claim_with_politeness(ledger, 25)
        ids_now = sorted(r.id for r in now.collect())
        ids_later = sorted(r.id for r in later.collect())
        assert len(ids_now) == 25
        assert sorted(ids_now + ids_later) == claimable
        assert sorted(r.id for r in now.collect()) == ids_now
        assert sorted(r.id for r in later.collect()) == ids_later


def test_iceberg_binding_refuses_without_catalog(spark):
    from crawler_apple_podcast_spark.plans.iceberg_store import (
        IcebergSnapshotStore,
        iceberg_available,
    )

    assert iceberg_available(spark, "no_such_catalog") is False
    with pytest.raises(RuntimeError, match="not configured"):
        IcebergSnapshotStore(spark, "no_such_catalog", "crawl")
