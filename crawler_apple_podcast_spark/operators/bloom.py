"""The sharded URL-seen gate (north_rule; SURVEY.md §4.2): the Bloom
filter, and the gate mechanics every URL-seen filter shares — hashing,
sharded build, broadcast probe and exact confirm.  ``operators/cuckoo.py``
plugs its table layout into the same four steps.

PySpark's ``df.stat.bloomFilter`` builds driver-side; at 10^10 URLs the
seen set needs a *distributed* build.  Here each shard is built by one
grouped Arrow UDF over ``shard = pmod(h1, n_shards)`` using pure numpy
bit-twiddling; the assembled shards broadcast to executors for probing.

Correctness contract (SURVEY.md §2.3 D1): the filter only *gates* — a
probe-negative is definitely-new (no false negatives by construction),
a probe-positive is confirmed by the exact anti-join.  The final seen
set is therefore byte-equal to the exact computation; the filter just
shrinks the anti-join's left input to true-dupes + false-positives.

Hashes are computed JVM-side (``xxhash64``) *before* the UDF boundary;
double hashing ``g_i = h1 + i*h2 (mod m)`` derives k probe positions.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from ..functions.urls import url_hash

_H2_SEED = 0x9E3779B9
# 12 bits per expected item -> ~0.5% fpp at k=5.
_BITS_PER_ITEM = 12


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


def _require_pow2(n_shards: int) -> None:
    # A non-pow2 count would mis-shard probes vs the pmod-built shards
    # (probe uses AND); fail loudly, asserts vanish under -O.
    if n_shards & (n_shards - 1) != 0:
        raise ValueError(f"n_shards must be a power of two, got {n_shards}")


def _build_shards(
    seen: DataFrame, key_col: str, n_shards: int, kernel: Callable, schema: str
) -> list[Row]:
    """One grouped Arrow UDF per ``shard = pmod(h1, n_shards)``:
    ``kernel(shard, h1, h2)`` returns the shard's table columns
    (declared by ``schema``), and each collected row also carries
    ``shard`` and the shard's item count ``n``."""
    _require_pow2(n_shards)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["_shard"].iloc[0])
        cols = kernel(shard, pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy())
        return pd.DataFrame(
            {"shard": [shard], **{c: [v] for c, v in cols.items()}, "n": [len(pdf)]}
        )

    return (
        _with_hashes(seen, key_col)
        .select(F.pmod("_h1", F.lit(n_shards)).alias("_shard"), "_h1", "_h2")
        .groupBy("_shard")
        .applyInPandas(build, f"shard INT, {schema}, n BIGINT")
        .collect()
    )


def _probe_shards(
    df: DataFrame, key_col: str, n_shards: int, shards: dict[int, bytes],
    dtype: type, stride: int, hit: Callable,
) -> DataFrame:
    """Add a boolean ``maybe_seen``; rows whose shard is absent are
    definitely-new.

    The shard tables are laid out in ONE contiguous ``dtype`` buffer,
    shard ``s`` at ``s * stride``, and broadcast, so the probe is one
    vectorized ``hit(table, shard, h1, h2)`` per Arrow batch — no
    per-shard Python loop.
    """
    _require_pow2(n_shards)
    flat = np.zeros(n_shards * stride, dtype=dtype)
    for s, b in shards.items():
        flat[s * stride : (s + 1) * stride] = np.frombuffer(b, dtype=dtype)
    bc = df.sparkSession.sparkContext.broadcast(flat)

    @F.pandas_udf("boolean")
    def _probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        h1np = h1.to_numpy()
        # shard = pmod(h1, n_shards); for power-of-two n the two's-
        # complement AND gives the same non-negative residue, saving a
        # column of Arrow traffic per probed row.
        shard = (h1np & (n_shards - 1)).astype(np.int64)
        return pd.Series(hit(bc.value, shard, h1np, h2.to_numpy()))

    return (
        _with_hashes(df, key_col)
        .withColumn("maybe_seen", _probe("_h1", "_h2"))
        .drop("_h1", "_h2")
    )


def _gated_anti_join(
    probed: DataFrame,
    confirm: Callable[[DataFrame], DataFrame],
    cache_registry: list[DataFrame] | None,
) -> DataFrame:
    """Probe-negatives bypass the confirm; ``confirm(suspects)`` keeps
    the probe-positives that are really new.

    The probed frame is local-checkpointed, so the two union branches
    (and any downstream consumer) run the probe UDF exactly once, and
    AQE sizes the probe's tasks to the data: a persisted shuffle would
    keep every shuffle partition, and each Python UDF task pays a fixed
    start-up cost.  The checkpoint goes with the returned frame, so
    nothing is left for a caller to release, and a lost executor fails
    the job instead of re-probing.  ``cache_registry``, when given,
    receives the checkpointed frame (for callers that read the probe's
    output, such as its row count)."""
    probed = probed.localCheckpoint()
    if cache_registry is not None:
        cache_registry.append(probed)
    definitely_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    return definitely_new.unionByName(confirm(suspects))


def _key_confirm(seen: DataFrame, key_col: str) -> Callable[[DataFrame], DataFrame]:
    """The byte-exact confirm: a string anti-join on ``key_col``.  The
    seen side is not pre-aggregated: a left-anti join ignores
    right-side duplicates, so a ``distinct`` would only add a hash
    aggregate over the whole seen base and change no row."""
    return lambda suspects: suspects.join(seen.select(key_col), key_col, "left_anti")


def _hash_confirm(seen: DataFrame, key_col: str) -> Callable[[DataFrame], DataFrame]:
    """The 128-bit hash-pair confirm of ``bloom_gated_anti_join``.

    NULL-key parity with the string confirm: SQL NULL never matches in
    an anti-join, so NULL-key candidates are always kept — but
    xxhash64(NULL) is a CONSTANT, so the hash-pair anti-join would
    wrongly drop them against any NULL seen row.  NULL keys go straight
    to the output and only non-null keys are hash-confirmed, on both
    sides."""
    seen_hashes = _with_hashes(
        seen.where(F.col(key_col).isNotNull()).select(key_col), key_col
    ).select("_h1", "_h2")

    def confirm(suspects: DataFrame) -> DataFrame:
        confirmed = (
            _with_hashes(suspects.where(F.col(key_col).isNotNull()), key_col)
            .join(seen_hashes, ["_h1", "_h2"], "left_anti")
            .drop("_h1", "_h2")
        )
        return confirmed.unionByName(suspects.where(F.col(key_col).isNull()))

    return confirm


def build_bloom_shards(
    seen: DataFrame,
    key_col: str = "url",
    n_shards: int = 32,
    m_bits: int | None = None,
    k: int = 5,
    expected_items: int | None = None,
) -> BloomShards:
    """Distributed build (one Arrow group per shard -> one
    ``(shard, bits, n)`` row) + driver assembly for BROADCAST probing,
    the fast path while the filter fits executors — up to a few
    hundred MB.

    Size the filter: pass ``expected_items`` (total seen-set size) to
    auto-size ``m_bits`` to 12 bits per item (~0.5% fpp at k=5); an
    oversized filter wastes broadcast bandwidth to every Python
    worker, an undersized one just sends more rows to the exact
    confirm join (never wrong, only slower).
    """
    if m_bits is None:
        per_shard = max(1024, ((expected_items or 1_000_000) * _BITS_PER_ITEM) // n_shards)
        m_bits = 1 << max(13, (per_shard - 1).bit_length())
    m = 1 << (m_bits - 1).bit_length()  # power of two: probe uses AND, not mod

    def kernel(shard: int, h1: np.ndarray, h2: np.ndarray) -> dict:
        flat = _positions(h1, h2, k, m).reshape(-1)
        arr = np.zeros(m // 8, dtype=np.uint8)
        np.bitwise_or.at(arr, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
        return {"bits": arr.tobytes()}

    rows = _build_shards(seen, key_col, n_shards, kernel, "bits BINARY")
    return BloomShards(
        n_shards=n_shards, m_bits=m, k=k,
        shards={r["shard"]: bytes(r["bits"]) for r in rows}, n_items=sum(r["n"] for r in rows),
    )


def probe_bloom(df: DataFrame, bloom: BloomShards, key_col: str = "url") -> DataFrame:
    """Add ``maybe_seen``: every one of the key's k bits is set in its
    shard (``global_bit = shard * m + local_pos`` in the flat buffer)."""
    k, m = bloom.k, bloom.m_bits

    def hit(table, shard, h1, h2):
        gpos = shard[:, None] * m + _positions(h1, h2, k, m)
        return np.all(table[gpos >> 3] & (1 << (gpos & 7)).astype(np.uint8) != 0, axis=1)

    return _probe_shards(df, key_col, bloom.n_shards, bloom.shards, np.uint8, m // 8, hit)


def bloom_gated_anti_join(
    new: DataFrame, seen: DataFrame, bloom: BloomShards, key_col: str = "url",
    cache_registry: list[DataFrame] | None = None,
    confirm_on: str = "key",
) -> DataFrame:
    """Exact anti-join accelerated by the Bloom gate: probe-negatives
    bypass the shuffle entirely; probe-positives are confirmed exactly
    (``_gated_anti_join``; ``cache_registry`` receives the checkpointed
    probe).

    ``confirm_on``: ``"key"`` confirms suspects with a string anti-join
    on ``key_col`` (the byte-exact default).  ``"hashes"`` confirms on
    the 128-bit ``(xxhash64(key), xxhash64(key, seed))`` pair, so the
    seen side shuffles 16 bytes/row instead of URL strings.  A
    collision would need two distinct URLs agreeing on both independent
    64-bit hashes — expected collisions n^2/2^129 ≈ 3e-19 at the
    10^10-URL target, far below any hardware error rate; use it when
    the seen-side shuffle is the bottleneck.
    """
    if confirm_on not in ("key", "hashes"):
        raise ValueError(f"confirm_on must be 'key' or 'hashes', got {confirm_on!r}")
    confirm = (_key_confirm if confirm_on == "key" else _hash_confirm)(seen, key_col)
    return _gated_anti_join(probe_bloom(new, bloom, key_col), confirm, cache_registry)
