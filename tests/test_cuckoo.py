"""Cuckoo URL-seen filter: no false negatives, bounded fpp, in-place
deletion, gated anti-join parity (incl. after deletes), overflow."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators import cuckoo as CK


def _urls(spark, lo, hi, tag="p"):
    return spark.range(lo, hi).select(
        F.concat(
            F.lit("https://h"),
            F.pmod("id", F.lit(13)).cast("string"),
            F.lit(f".example/{tag}/"),
            F.col("id").cast("string"),
        ).alias("url")
    )


def test_no_false_negatives_and_bounded_fpp(spark):
    seen = _urls(spark, 0, 20_000)
    filt = CK.build_cuckoo_shards(seen, n_shards=8, expected_items=20_000)
    assert filt.n_items == 20_000
    # every inserted key probes True — the hard guarantee
    probed = CK.probe_cuckoo(seen, filt)
    assert probed.where(~F.col("maybe_seen")).count() == 0
    # fresh keys: false-positive rate stays small (16-bit fp, 4 slots)
    fresh = _urls(spark, 100_000, 120_000)
    fpp = CK.probe_cuckoo(fresh, filt).where("maybe_seen").count() / 20_000
    assert fpp < 0.02, fpp


def test_gated_anti_join_equals_exact(spark):
    cand = _urls(spark, 0, 15_000)
    # Seen keys repeated up to three times: the confirm does not
    # pre-aggregate the seen side, and an anti-join must not need it to.
    seen = (
        _urls(spark, 0, 15_000).where(F.expr("url like '%/p/1%'"))
        .unionAll(_urls(spark, 0, 5_000).where(F.expr("url like '%/p/1%'")))
        .unionAll(_urls(spark, 0, 2_000).where(F.expr("url like '%/p/1%'")))
    )
    filt = CK.build_cuckoo_shards(seen, n_shards=8, expected_items=6_000)
    got = CK.cuckoo_gated_anti_join(cand, seen, filt).collect()
    want = cand.join(seen, "url", "left_anti").collect()
    assert sorted(r.url for r in got) == sorted(r.url for r in want)


def test_delete_then_parity_with_updated_seen(spark):
    """The recrawl/expiry flow: remove keys from the seen TABLE and the
    filter in the same wave — gated output must equal the exact
    anti-join against the UPDATED table, with no rebuild."""
    seen = _urls(spark, 0, 10_000)
    filt = CK.build_cuckoo_shards(seen, n_shards=8, expected_items=10_000)
    expired = seen.where(F.expr("url like '%/p/3%'"))
    seen_after = seen.join(expired, "url", "left_anti")
    filt2 = CK.delete_from_cuckoo(filt, expired)
    assert filt2.n_items == seen.count() - expired.count()
    # remaining keys: still zero false negatives after deletion
    assert (
        CK.probe_cuckoo(seen_after, filt2).where(~F.col("maybe_seen")).count() == 0
    )
    # expired keys mostly probe False now (collisions may keep a few
    # True — the exact confirm absorbs them)
    exp_hits = CK.probe_cuckoo(expired, filt2).where("maybe_seen").count()
    assert exp_hits < 0.05 * expired.count(), exp_hits
    cand = _urls(spark, 0, 12_000)
    got = CK.cuckoo_gated_anti_join(cand, seen_after, filt2).collect()
    want = cand.join(seen_after, "url", "left_anti").collect()
    assert sorted(r.url for r in got) == sorted(r.url for r in want)


def test_overflow_keeps_no_false_negatives(spark):
    """A deliberately undersized filter overflows instead of losing
    keys: membership stays exact-negative-free."""
    seen = _urls(spark, 0, 4_000)
    filt = CK.build_cuckoo_shards(
        seen, n_shards=2, buckets_per_shard=256, slots=4, max_kicks=20
    )
    # 4000 keys into 2*256*4 = 2048 slots: guaranteed massive overflow
    assert filt.overflow, "expected overflow on an undersized filter"
    probed = CK.probe_cuckoo(seen, filt)
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_colliding_keys_survive_each_others_delete(spark):
    """Two distinct keys engineered to share (fp, bucket) keep separate
    copies: deleting one never false-negatives the other."""
    import numpy as np

    # find two urls with identical (fp, i1) under the real hash geometry
    seen = _urls(spark, 0, 50_000)
    nb = 1 << 6  # tiny bucket space to force collisions
    rows = (
        CK._with_hashes(seen, "url")
        .select("url", "_h1", "_h2")
        .collect()
    )
    by_key: dict[tuple, list[str]] = {}
    for r in rows:
        h1 = np.array([r["_h1"]], dtype=np.int64)
        h2 = np.array([r["_h2"]], dtype=np.int64)
        shard = int(h1[0] & 1)
        fp, i1, _ = CK._fp_buckets(h1, h2, nb)
        by_key.setdefault((shard, int(fp[0]), int(i1[0])), []).append(r.url)
    pair = next(v for v in by_key.values() if len(v) >= 2)[:2]
    two = spark.createDataFrame([(u,) for u in pair], "url string")
    filt = CK.build_cuckoo_shards(two, n_shards=2, buckets_per_shard=nb)
    filt2 = CK.delete_from_cuckoo(filt, two.limit(1))
    survivor = two.subtract(two.limit(1))
    assert (
        CK.probe_cuckoo(survivor, filt2).where(~F.col("maybe_seen")).count() == 0
    )
