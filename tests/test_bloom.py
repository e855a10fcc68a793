"""Sharded URL-seen gate: no false negatives ever; gated anti-join is
byte-equal to the exact anti-join, for the Bloom filter and (on
arbitrary keys) for the cuckoo filter that shares its gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators.bloom import (
    build_bloom_shards,
    bloom_gated_anti_join,
    probe_bloom,
)
from crawler_apple_podcast_spark.operators.cuckoo import (
    build_cuckoo_shards,
    cuckoo_gated_anti_join,
    delete_from_cuckoo,
)


def _urls(spark, n, prefix):
    return spark.range(n).select(
        F.concat(F.lit(f"https://example.com/{prefix}/"), F.col("id")).alias("url")
    )


def test_no_false_negatives(spark):
    seen = _urls(spark, 500, "seen")
    bloom = build_bloom_shards(seen, n_shards=8, m_bits=1 << 14, k=5)
    assert bloom.n_items == 500
    probed = probe_bloom(seen, bloom)
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_gated_anti_join_equals_exact(spark):
    # Seen keys repeated up to three times: no confirm pre-aggregates
    # the seen side, and an anti-join must not need it to.
    seen = (
        _urls(spark, 400, "seen")
        .unionAll(_urls(spark, 150, "seen"))
        .unionAll(_urls(spark, 50, "seen"))
    )
    new = _urls(spark, 300, "seen").unionAll(_urls(spark, 200, "new"))
    want = sorted(r.url for r in new.join(seen, "url", "left_anti").collect())
    assert len(want) == 200
    # tiny filter -> plenty of false positives; result must still be exact
    bloom = build_bloom_shards(seen, n_shards=4, m_bits=1 << 10, k=3)
    for confirm_on in ("key", "hashes"):
        got = bloom_gated_anti_join(new, seen, bloom, confirm_on=confirm_on)
        assert sorted(r.url for r in got.collect()) == want, confirm_on


def test_fpp_reasonable(spark):
    seen = _urls(spark, 1000, "seen")
    bloom = build_bloom_shards(seen, n_shards=8, m_bits=1 << 17, k=5)
    fresh = _urls(spark, 2000, "fresh")
    fp = probe_bloom(fresh, bloom).where(F.col("maybe_seen")).count()
    assert fp / 2000 < 0.05


def test_shard_rows_roundtrip(spark):
    seen = _urls(spark, 100, "seen")
    bloom = build_bloom_shards(seen, n_shards=4, m_bits=1 << 12, k=4)
    assert bloom.n_items == 100
    assert set(bloom.shards) <= {0, 1, 2, 3}
    assert all(len(bits) == (1 << 12) // 8 for bits in bloom.shards.values())


def test_gated_anti_join_hash_confirm_equals_exact(spark):
    """confirm_on='hashes' (128-bit pair confirm, 16 B/row seen-side
    shuffle) must produce the same rows as the string confirm — incl.
    with duplicate seen rows, which the hash path no longer distincts."""
    seen = _urls(spark, 400, "seen").unionAll(_urls(spark, 150, "seen"))
    new = _urls(spark, 300, "seen").unionAll(_urls(spark, 200, "new")).withColumn(
        "priority", (F.col("url").substr(-1, 1).cast("int")) % 3
    )
    bloom = build_bloom_shards(seen, n_shards=4, m_bits=1 << 10, k=3)
    got = sorted(
        (r.url, r.priority)
        for r in bloom_gated_anti_join(new, seen, bloom, confirm_on="hashes").collect()
    )
    want = sorted(
        (r.url, r.priority) for r in new.join(seen, "url", "left_anti").collect()
    )
    assert got == want
    assert len(got) == 200
    # output schema must not leak the internal hash columns
    out_cols = bloom_gated_anti_join(new, seen, bloom, confirm_on="hashes").columns
    assert out_cols == ["url", "priority"]


def test_hash_confirm_keeps_null_keys(spark):
    """NULL-key parity between confirm modes (ADVICE r3): SQL NULL
    never matches in an anti-join, so a NULL-key candidate survives the
    string confirm — and must survive the hash confirm too, where
    xxhash64(NULL) is a CONSTANT that would otherwise collide with any
    NULL seen row and wrongly drop it."""
    seen = _urls(spark, 50, "seen").unionAll(
        spark.createDataFrame([(None,)], "url STRING")
    )
    new = (
        _urls(spark, 30, "seen")
        .unionAll(_urls(spark, 20, "new"))
        .unionAll(spark.createDataFrame([(None,), (None,)], "url STRING"))
    )
    bloom = build_bloom_shards(
        seen.where(F.col("url").isNotNull()), n_shards=4, m_bits=1 << 10, k=3
    )
    for mode in ("key", "hashes"):
        got = bloom_gated_anti_join(new, seen, bloom, confirm_on=mode).collect()
        urls = [r.url for r in got]
        assert urls.count(None) == 2, mode  # both NULL candidates kept
        assert len(urls) == 22, mode        # 20 new + 2 NULL


def test_confirm_on_rejects_unknown_mode(spark):
    import pytest

    seen = _urls(spark, 10, "seen")
    bloom = build_bloom_shards(seen, n_shards=2, m_bits=1 << 8, k=3)
    with pytest.raises(ValueError, match="confirm_on"):
        bloom_gated_anti_join(seen, seen, bloom, confirm_on="urls")


# ------------------------------------------------ property: arbitrary keys

from hypothesis import given, settings, strategies as st

_key = st.one_of(st.none(), st.text(min_size=0, max_size=12))


def _exact_keys(cdf, sdf):
    # SQL NULL never matches in an anti-join, so NULL candidates are
    # already present in the exact anti-join's output.
    return sorted(r.url or "" for r in cdf.join(sdf, "url", "left_anti").collect())


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_key, min_size=1, max_size=25),
    st.lists(_key, min_size=1, max_size=25),
)
def test_bloom_gate_equals_exact_on_arbitrary_keys(spark, cand, seen):
    """Random unicode / empty / NULL keys, both confirm modes: the
    Bloom gate is a pure pre-filter — output multiset must equal the
    plain exact anti-join, whatever the keys look like.  The seen keys
    are candidates too, so a false negative (a seen key probing new)
    shows as an extra output row."""
    cdf = spark.createDataFrame([(k,) for k in cand + seen], "url STRING")
    sdf = spark.createDataFrame([(k,) for k in seen], "url STRING")
    want = _exact_keys(cdf, sdf)
    bloom = build_bloom_shards(sdf.where(F.col("url").isNotNull()),
                               n_shards=2, m_bits=1 << 8, k=3)
    for mode in ("key", "hashes"):
        got = sorted(
            (r.url or "")
            for r in bloom_gated_anti_join(cdf, sdf, bloom, confirm_on=mode).collect()
        )
        assert got == want, (mode, got, want)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_key, min_size=1, max_size=25),
    st.lists(_key, min_size=1, max_size=25),
)
def test_cuckoo_gate_equals_exact_on_arbitrary_keys(spark, cand, seen):
    """The cuckoo filter rides the same gate: on the same random keys,
    with NULL seen keys inserted into the filter and a table small
    enough to overflow, its gated anti-join equals the exact one —
    also after deleting a subset of keys from both the filter and the
    seen table.  The seen keys are candidates too, so a false negative
    (a seen key probing new) shows as an extra output row."""
    cdf = spark.createDataFrame([(k,) for k in cand + seen], "url STRING")
    sdf = spark.createDataFrame([(k,) for k in seen], "url STRING")
    filt = build_cuckoo_shards(sdf, n_shards=2, buckets_per_shard=2, slots=2)
    got = sorted((r.url or "") for r in cuckoo_gated_anti_join(cdf, sdf, filt).collect())
    assert got == _exact_keys(cdf, sdf), got
    gone = sorted({k for k in seen[::2] if k is not None})
    filt = delete_from_cuckoo(filt, spark.createDataFrame([(k,) for k in gone], "url STRING"))
    after = spark.createDataFrame([(k,) for k in seen if k not in gone], "url STRING")
    got = sorted((r.url or "") for r in cuckoo_gated_anti_join(cdf, after, filt).collect())
    assert got == _exact_keys(cdf, after), (gone, got)
