"""Sharded Bloom URL-seen pre-filter (north_rule; SURVEY.md §4.2).

PySpark's ``df.stat.bloomFilter`` builds driver-side; at 10^10 URLs the
seen set needs a *distributed* build.  Here each shard is built by one
grouped Arrow UDF over ``shard = pmod(h1, n_shards)`` using pure numpy
bit-twiddling; the assembled shards broadcast to executors for probing.

Correctness contract (SURVEY.md §2.3 D1): the Bloom only *gates* — a
probe-negative is definitely-new (no false negatives by construction),
a probe-positive is confirmed by the exact anti-join.  The final seen
set is therefore byte-equal to the exact computation; the Bloom just
shrinks the anti-join's left input to true-dupes + false-positives.

Hashes are computed JVM-side (``xxhash64``) *before* the UDF boundary;
double hashing ``g_i = h1 + i*h2 (mod m)`` derives k probe positions.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import url_hash

_H2_SEED = 0x9E3779B9


@dataclass
class BloomShards:
    n_shards: int
    m_bits: int
    k: int
    shards: dict[int, bytes]  # shard -> bit array
    n_items: int = 0


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) probe positions via double hashing, vectorized uint64.

    ``m`` is always a power of two (build_bloom_shards guarantees it),
    so the reduction is a bitwise AND — uint64 modulo is an order of
    magnitude slower in numpy and this sits on the per-URL hot path.
    """
    if m & (m - 1) != 0:
        raise ValueError(f"bloom m_bits must be a power of two, got {m}")
    h1u = h1.astype(np.uint64)
    h2u = h2.astype(np.uint64) | np.uint64(1)  # odd step
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1u[:, None] + i * h2u[:, None]) & np.uint64(m - 1)).astype(np.int64)


def _with_hashes(df: DataFrame, key_col: str) -> DataFrame:
    return df.withColumn("_h1", url_hash(F.col(key_col))).withColumn(
        "_h2", url_hash(F.col(key_col), _H2_SEED)
    )


def _sized_m(n_shards: int, m_bits: int | None, expected_items: int | None, bits_per_item: int) -> int:
    if m_bits is None:
        per_shard = max(1024, ((expected_items or 1_000_000) * bits_per_item) // n_shards)
        m_bits = 1 << max(13, (per_shard - 1).bit_length())
    return 1 << (m_bits - 1).bit_length()  # power of two: probe uses AND, not mod


def build_bloom_shards(
    seen: DataFrame,
    key_col: str = "url",
    n_shards: int = 32,
    m_bits: int | None = None,
    k: int = 5,
    expected_items: int | None = None,
    bits_per_item: int = 12,
) -> BloomShards:
    """Distributed build (one Arrow group per shard -> one
    ``(shard, bits, n)`` row) + driver assembly for BROADCAST probing,
    the fast path while the filter fits executors — up to a few
    hundred MB.

    Size the filter: pass ``expected_items`` (total seen-set size) to
    auto-size ``m_bits`` to ``bits_per_item`` (12 -> ~0.5% fpp at k=5);
    an oversized filter wastes broadcast bandwidth to every Python
    worker, an undersized one just sends more rows to the exact
    confirm join (never wrong, only slower).
    """
    if n_shards & (n_shards - 1) != 0:
        # A non-pow2 count would mis-shard probes vs the pmod-built
        # shards (probe uses AND); fail loudly, asserts vanish under -O.
        raise ValueError(f"n_shards must be a power of two, got {n_shards}")
    m = _sized_m(n_shards, m_bits, expected_items, bits_per_item)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pos = _positions(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), k, m)
        arr = np.zeros(m // 8, dtype=np.uint8)
        flat = pos.reshape(-1)
        np.bitwise_or.at(arr, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
        return pd.DataFrame(
            {"shard": [int(pdf["_shard"].iloc[0])], "bits": [arr.tobytes()], "n": [len(pdf)]}
        )

    hashed = _with_hashes(seen, key_col).withColumn(
        "_shard", F.pmod(F.col("_h1"), F.lit(n_shards))
    )
    rows = (
        hashed.select("_shard", "_h1", "_h2")
        .groupBy("_shard")
        .applyInPandas(build, schema="shard INT, bits BINARY, n BIGINT")
        .collect()
    )
    shards = {r["shard"]: bytes(r["bits"]) for r in rows}
    total = sum(r["n"] for r in rows)
    return BloomShards(n_shards=n_shards, m_bits=m, k=k, shards=shards, n_items=total)


def probe_bloom(
    df: DataFrame, bloom: BloomShards, key_col: str = "url", out_col: str = "maybe_seen",
    keep_hashes: bool = False,
) -> DataFrame:
    """Add ``out_col`` boolean; rows whose shard is absent are
    definitely-new.

    The shards are flattened into ONE contiguous bit buffer
    (``global_bit = shard * m + local_pos``) so the probe is a single
    vectorized gather per Arrow batch — no per-shard Python loop.
    """
    spark = df.sparkSession
    k, m, n_shards = bloom.k, bloom.m_bits, bloom.n_shards
    if n_shards & (n_shards - 1) != 0:
        raise ValueError(f"n_shards must be a power of two, got {n_shards}")
    flat = np.zeros(n_shards * (m // 8), dtype=np.uint8)
    for s, b in bloom.shards.items():
        flat[s * (m // 8) : (s + 1) * (m // 8)] = np.frombuffer(b, dtype=np.uint8)
    bc = spark.sparkContext.broadcast(flat)

    @F.pandas_udf("boolean")
    def _probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        arr = bc.value
        h1np = h1.to_numpy()
        # shard = pmod(h1, n_shards); for power-of-two n the two's-
        # complement AND gives the same non-negative residue, saving a
        # column of Arrow traffic per probed row.
        shard = (h1np & (n_shards - 1)).astype(np.int64)
        pos = _positions(h1np, h2.to_numpy(), k, m)
        gpos = shard[:, None] * m + pos
        hit = np.all(arr[gpos >> 3] & (1 << (gpos & 7)).astype(np.uint8) != 0, axis=1)
        return pd.Series(hit)

    hashed = _with_hashes(df, key_col)
    out = hashed.withColumn(out_col, _probe("_h1", "_h2"))
    return out if keep_hashes else out.drop("_h1", "_h2")


def bloom_gated_anti_join(
    new: DataFrame, seen: DataFrame, bloom: BloomShards, key_col: str = "url",
    cache_registry: list[DataFrame] | None = None,
    confirm_on: str = "key",
) -> DataFrame:
    """Exact anti-join accelerated by the Bloom gate: probe-negatives
    bypass the shuffle entirely; probe-positives are confirmed exactly.

    The probed frame is local-checkpointed, so the two union branches
    (and any downstream consumer) run the probe UDF exactly once, and
    AQE sizes the probe's tasks to the data: a persisted shuffle would
    keep every shuffle partition, and each Python UDF task pays a fixed
    start-up cost.  Nothing is left for a caller to release.
    ``cache_registry``, when given, receives the checkpointed frame
    (for callers that read the probe's output, such as its row count).

    ``confirm_on``: ``"key"`` confirms suspects with a string anti-join
    on ``key_col`` (the byte-exact default).  ``"hashes"`` confirms on
    the pre-projected 128-bit ``(xxhash64(key), xxhash64(key, seed))``
    pair the probe already computed, so the seen side shuffles 16
    bytes/row instead of URL strings.  Neither mode pre-aggregates the
    seen side: a left-anti join ignores right-side duplicates, so a
    ``distinct`` would only add a hash aggregate over the whole seen
    base and change no row.  A collision would need
    two distinct URLs agreeing on both independent 64-bit hashes —
    expected collisions n^2/2^129 ≈ 3e-19 at the 10^10-URL target, far
    below any hardware error rate; use it when the seen-side shuffle is
    the bottleneck.
    """
    if confirm_on not in ("key", "hashes"):
        raise ValueError(f"confirm_on must be 'key' or 'hashes', got {confirm_on!r}")
    keep = confirm_on == "hashes"
    probed = probe_bloom(new, bloom, key_col, keep_hashes=keep).localCheckpoint()
    if cache_registry is not None:
        cache_registry.append(probed)
    definitely_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    if keep:
        # NULL-key parity with the string confirm: SQL NULL never
        # matches in an anti-join, so NULL-key candidates are always
        # kept — but xxhash64(NULL) is a CONSTANT, so the hash-pair
        # anti-join would wrongly drop them against any NULL seen row.
        # Route NULL keys straight to the output and hash-confirm only
        # non-null keys on both sides.
        null_new = suspects.where(F.col(key_col).isNull())
        seen_hashes = _with_hashes(
            seen.where(F.col(key_col).isNotNull()).select(key_col), key_col
        ).select("_h1", "_h2")
        confirmed_new = suspects.where(F.col(key_col).isNotNull()).join(
            seen_hashes, ["_h1", "_h2"], "left_anti"
        )
        return (
            definitely_new.unionByName(confirmed_new)
            .unionByName(null_new)
            .drop("_h1", "_h2")
        )
    confirmed_new = suspects.join(seen.select(key_col), key_col, "left_anti")
    return definitely_new.unionByName(confirmed_new)
