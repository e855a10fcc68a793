"""Sharded cuckoo URL-seen filter — the deletable sibling of the
Bloom gate (north_rule: "sharded Bloom/cuckoo URL-seen filter").

Cuckoo filters (Fan, Andersen, Kaminsky, Mitzenmacher — CoNEXT'14)
store a short FINGERPRINT of each key in one of two candidate buckets
(partial-key cuckoo hashing: ``i2 = i1 XOR h(fp)``, so either bucket
is derivable from the other plus the fingerprint alone).  What that
buys a crawl ledger over Bloom:

- **Deletion.**  Recrawl scheduling (operators/recrawl.py) and content
  expiry legitimately REMOVE urls from the seen set; a Bloom filter
  cannot unset bits shared with other keys — the wave loop must
  rebuild it.  A cuckoo filter deletes by zeroing one stored copy of
  the fingerprint, in place, between waves.
- Same gate contract: ~3% fpp at 16-bit fingerprints / 4-slot buckets
  at 95% load, and NO false negatives for present keys — so the
  repo-wide honesty contract holds unchanged: the filter only GATES,
  the exact anti-join confirms, output is byte-equal to the exact
  computation (``cuckoo_gated_anti_join``).

Sharding mirrors operators/bloom.py: ``shard = h1 & (n_shards-1)``,
one grouped Arrow UDF builds each shard, probes are one vectorized
numpy gather over the broadcast flat table.  Hashes are JVM-side
``xxhash64`` before the Arrow boundary.

Scale shape: build is embarrassingly parallel ACROSS shards; WITHIN a
shard the bulk insert is two vectorized placement passes (first-choice
bucket, then spill to second choice) and a sequential eviction
random-walk only for the residue that bulk placement cannot seat
(empirically <1% under 90% load).  Items that still fail after
``max_kicks`` go to a per-shard overflow list the probe always
reports as maybe-seen — false negatives are impossible BY
CONSTRUCTION, not by tuning.

Deletion discipline (this is the classic cuckoo-filter caveat, stated
precisely): the build inserts ONE copy per DISTINCT key — identical
(fp, bucket) pairs from different keys are deliberately NOT coalesced,
so every key owns a copy and deleting key X removes exactly X's copy,
never another key's membership.  Parity with the exact anti-join then
holds unconditionally as long as the caller deletes exactly the keys
it removes from the seen TABLE in the same wave (the recrawl/expiry
flow): a deleted key probes either False (its copy gone — correctly
definitely-new) or True via a colliding copy (confirmed absent by the
exact join); remaining keys always probe True.  Deleting a key that
was never inserted only no-ops (fingerprint absent) or removes a
collider's copy — the one way to manufacture a false negative — so
``delete_from_cuckoo`` is documented for removed-from-seen keys only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import url_hash

_H2_SEED = 0x9E3779B9
_FP_MULT = np.uint64(0x5BD1E995)  # odd mixer for i2 = i1 ^ h(fp)


@dataclass
class CuckooShards:
    n_shards: int
    n_buckets: int  # per shard, power of two
    slots: int
    shards: dict[int, bytes]  # shard -> uint16 table (n_buckets*slots)
    overflow: dict[int, bytes] = field(default_factory=dict)  # shard -> uint16 fps
    n_items: int = 0


def _fp_buckets(h1: np.ndarray, h2: np.ndarray, n_buckets: int):
    """(fp, i1, i2) — the partial-key geometry shared by build, probe
    and delete.  fp is 16-bit nonzero (0 marks an empty slot)."""
    fp = (h2.astype(np.uint64) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    mask = np.uint64(n_buckets - 1)
    i1 = (h1.astype(np.uint64) >> np.uint64(8)) & mask
    i2 = i1 ^ ((fp.astype(np.uint64) * _FP_MULT) & mask)
    return fp, i1.astype(np.int64), i2.astype(np.int64)


def _with_hashes(df: DataFrame, key_col: str) -> DataFrame:
    return df.withColumn("_h1", url_hash(F.col(key_col))).withColumn(
        "_h2", url_hash(F.col(key_col), _H2_SEED)
    )


def _bulk_place(fp, i1, i2, n_buckets, slots, max_kicks, rng_seed):
    """Numpy bulk insert: first-choice pass, second-choice pass, then a
    sequential eviction walk for the residue.  Returns (table,
    overflow_fps)."""
    table = np.zeros(n_buckets * slots, dtype=np.uint16)
    used = np.zeros(n_buckets, dtype=np.int64)

    def place_pass(fps, buckets):
        """Seat up to `slots - used` items per bucket; return the
        boolean mask of seated items."""
        order = np.argsort(buckets, kind="stable")
        b_sorted = buckets[order]
        # rank within equal-bucket runs
        first = np.concatenate(([True], b_sorted[1:] != b_sorted[:-1]))
        run_start = np.maximum.accumulate(np.where(first, np.arange(len(b_sorted)), 0))
        rank = np.arange(len(b_sorted)) - run_start
        free = slots - used[b_sorted]
        seat = rank < free
        slot_idx = used[b_sorted] + rank
        tgt = b_sorted[seat] * slots + slot_idx[seat]
        table[tgt] = fps[order][seat]
        np.add.at(used, b_sorted[seat], 1)
        placed = np.zeros(len(fps), dtype=bool)
        placed[order[seat]] = True
        return placed

    placed = place_pass(fp, i1)
    rem = ~placed
    if rem.any():
        placed2 = place_pass(fp[rem], i2[rem])
        rem_idx = np.flatnonzero(rem)[~placed2]
    else:
        rem_idx = np.array([], dtype=np.int64)

    # sequential eviction walk for the residue only
    overflow: list[int] = []
    rng = np.random.default_rng(rng_seed)
    mask = np.uint64(n_buckets - 1)
    for j in rem_idx:
        cur_fp = np.uint16(fp[j])
        b = int(i1[j])
        seated = False
        for _ in range(max_kicks):
            row = table[b * slots : (b + 1) * slots]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = cur_fp
                seated = True
                break
            # evict a random victim, move on to its alternate bucket
            v = int(rng.integers(slots))
            victim = row[v]
            row[v] = cur_fp
            cur_fp = victim
            b = int(
                np.uint64(b) ^ ((np.uint64(cur_fp) * _FP_MULT) & mask)
            )
        if not seated:
            overflow.append(int(cur_fp))
    # keep duplicates: each key owns its copy even in overflow
    # (deletion safety — module docstring)
    return table, np.asarray(sorted(overflow), dtype=np.uint16)


def build_cuckoo_shards(
    seen: DataFrame,
    key_col: str = "url",
    n_shards: int = 32,
    buckets_per_shard: int | None = None,
    slots: int = 4,
    expected_items: int | None = None,
    max_kicks: int = 500,
) -> CuckooShards:
    """Distributed build: one Arrow group per shard, driver assembly
    for broadcast probing (the Bloom module's fast-path twin).  Size
    via ``expected_items`` to ~90% load (or pass ``buckets_per_shard``,
    a power of two)."""
    if n_shards & (n_shards - 1) != 0:
        raise ValueError(f"n_shards must be a power of two, got {n_shards}")
    if buckets_per_shard is None:
        per_shard = max(64, (expected_items or 1_000_000) // n_shards)
        # ~90% target load: buckets = items / (slots * 0.9)
        want = int(per_shard / (slots * 0.9)) + 1
        buckets_per_shard = 1 << max(6, (want - 1).bit_length())
    if buckets_per_shard & (buckets_per_shard - 1) != 0:
        raise ValueError("buckets_per_shard must be a power of two")
    nb, sl = buckets_per_shard, slots

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["_shard"].iloc[0])
        h1 = pdf["_h1"].to_numpy()
        h2 = pdf["_h2"].to_numpy()
        fp, i1, i2 = _fp_buckets(h1, h2, nb)
        # ONE copy per distinct key (the input is pre-distinct'd);
        # identical (fp, i1) pairs from DIFFERENT keys keep separate
        # copies on purpose — deletion safety (module docstring).
        table, ovf = _bulk_place(fp, i1, i2, nb, sl, max_kicks, rng_seed=shard)
        return pd.DataFrame(
            {
                "shard": [shard],
                "table": [table.tobytes()],
                "overflow": [ovf.tobytes()],
                "n": [len(pdf)],
            }
        )

    hashed = _with_hashes(seen.select(key_col).distinct(), key_col).withColumn(
        "_shard", F.pmod(F.col("_h1"), F.lit(n_shards)).cast("int")
    )
    rows = (
        hashed.groupBy("_shard")
        .applyInPandas(build, "shard int, table binary, overflow binary, n long")
        .collect()
    )
    return CuckooShards(
        n_shards=n_shards,
        n_buckets=nb,
        slots=sl,
        shards={r["shard"]: bytes(r["table"]) for r in rows},
        overflow={
            r["shard"]: bytes(r["overflow"]) for r in rows if len(r["overflow"])
        },
        n_items=sum(r["n"] for r in rows),
    )


def probe_cuckoo(
    df: DataFrame,
    filt: CuckooShards,
    key_col: str = "url",
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Add ``out_col``: fingerprint present in either candidate bucket
    (or the shard's overflow list).  One flat uint16 gather per Arrow
    batch over the broadcast table — no per-shard Python loop."""
    spark = df.sparkSession
    nb, sl, n_shards = filt.n_buckets, filt.slots, filt.n_shards
    flat = np.zeros(n_shards * nb * sl, dtype=np.uint16)
    for s, b in filt.shards.items():
        flat[s * nb * sl : (s + 1) * nb * sl] = np.frombuffer(b, dtype=np.uint16)
    ovf = {
        s: np.frombuffer(b, dtype=np.uint16) for s, b in filt.overflow.items()
    }
    bc = spark.sparkContext.broadcast((flat, ovf))

    @F.pandas_udf("boolean")
    def _probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        table, overflow = bc.value
        h1np = h1.to_numpy()
        shard = (h1np & (n_shards - 1)).astype(np.int64)
        fp, i1, i2 = _fp_buckets(h1np, h2.to_numpy(), nb)
        base = shard * (nb * sl)
        hit = np.zeros(len(h1np), dtype=bool)
        for b in (i1, i2):
            rows = base[:, None] + b[:, None] * sl + np.arange(sl)[None, :]
            hit |= np.any(table[rows] == fp[:, None], axis=1)
        if overflow:
            for s, fps in overflow.items():
                m = shard == s
                if m.any():
                    hit[m] |= np.isin(fp[m], fps)
        return pd.Series(hit)

    return (
        _with_hashes(df, key_col)
        .withColumn(out_col, _probe("_h1", "_h2"))
        .drop("_h1", "_h2")
    )


def delete_from_cuckoo(
    filt: CuckooShards, deletes: DataFrame, key_col: str = "url"
) -> CuckooShards:
    """Remove keys in place (driver-side on the assembled shards —
    delete batches are wave-sized, tiny next to the table): zero ONE
    stored copy of each key's fingerprint from its first candidate
    bucket holding it, else the second, else drop it from overflow.
    Keys whose fingerprint is absent no-op (never inserted, or already
    deleted — the exact confirm downstream keeps results right either
    way).  Returns a new CuckooShards sharing nothing with the old.

    ``deletes`` is distinct-ed here (``build_cuckoo`` distincts its
    input, so the table holds ONE copy per key): without the distinct,
    a duplicated delete row would zero a second stored copy of the
    same fingerprint — possibly a colliding key's only copy — turning
    the no-false-negative guarantee into a silent false negative.  For
    the same reason, do NOT re-delete a key across calls: after its
    copy is gone, a second delete can only hit a collider's copy.
    Callers that cannot guarantee this must rebuild instead."""
    nb, sl, n_shards = filt.n_buckets, filt.slots, filt.n_shards
    tables = {
        s: np.frombuffer(b, dtype=np.uint16).copy() for s, b in filt.shards.items()
    }
    ovf = {
        s: list(np.frombuffer(b, dtype=np.uint16)) for s, b in filt.overflow.items()
    }
    rows = (
        _with_hashes(deletes.select(key_col).distinct(), key_col)
        .select("_h1", "_h2")
        .collect()
    )
    n_deleted = 0
    for r in rows:
        h1 = np.array([r["_h1"]], dtype=np.int64)
        h2 = np.array([r["_h2"]], dtype=np.int64)
        shard = int(h1[0] & (n_shards - 1))
        fp, i1, i2 = _fp_buckets(h1, h2, nb)
        table = tables.get(shard)
        done = False
        if table is not None:
            for b in (int(i1[0]), int(i2[0])):
                row = table[b * sl : (b + 1) * sl]
                idx = np.flatnonzero(row == fp[0])
                if len(idx):
                    row[idx[0]] = 0
                    done = True
                    break
        if not done and shard in ovf and int(fp[0]) in ovf[shard]:
            ovf[shard].remove(int(fp[0]))
            done = True
        n_deleted += int(done)
    return CuckooShards(
        n_shards=n_shards,
        n_buckets=nb,
        slots=sl,
        shards={s: t.tobytes() for s, t in tables.items()},
        overflow={
            s: np.asarray(v, dtype=np.uint16).tobytes() for s, v in ovf.items() if v
        },
        n_items=max(0, filt.n_items - n_deleted),
    )


def cuckoo_gated_anti_join(
    new: DataFrame,
    seen: DataFrame,
    filt: CuckooShards,
    key_col: str = "url",
) -> DataFrame:
    """Exact anti-join accelerated by the cuckoo gate: probe-negatives
    are definitely-new (no false negatives), probe-positives confirmed
    by the exact anti-join — output byte-equal to the exact
    computation, same contract as bloom_gated_anti_join.

    The probed frame is local-checkpointed so both union branches read
    one probe; it goes with the returned frame, and a lost executor
    fails the job instead of re-probing."""
    probed = probe_cuckoo(new, filt, key_col).localCheckpoint()
    definitely_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    confirmed = suspects.join(seen.select(key_col), key_col, "left_anti")
    return definitely_new.unionByName(confirmed)
