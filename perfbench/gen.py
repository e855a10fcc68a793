"""Seeded input generators for ``stream-growth``, and the parquet writer
both workloads use for their inputs.

Every property that decides a row (host, priority, raw-form variant,
which earlier id a rediscovery repeats) comes from a splitmix64 hash of
``(id, seed, tag)``, so another seed gives another input of the same
shape and a claim can be re-checked on a seed nobody tuned against.

The inputs are built in the benchmark's own process with numpy and
written as parquet with pyarrow, so generating them starts no Spark job
and the program receives only the files.  Each generator also knows, by
construction, the canonical key of every URL it writes; the output
checks compare against that key, so they do not trust the canonicalizer
they are checking.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_HOST = "amp-api.podcasts.apple.com"
_GOLD = np.uint64(0x9E3779B97F4A7C15)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_PERM_MUL = np.uint64(0x9E3779B1)  # odd, so id -> id * mul mod 2^40 is a bijection
_PERM_MASK = np.uint64((1 << 40) - 1)
DISCOVERED_TS = np.datetime64("2024-05-23T12:00:00", "us")


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer on uint64 (wraps modulo 2^64)."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def _hash(ids: np.ndarray, seed: int, tag: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        key = _mix(np.array([seed * 1_000_003 + tag], dtype=np.uint64))
        return _mix(ids.astype(np.uint64) * _GOLD ^ key)


def _u(ids: np.ndarray, seed: int, tag: int, m: int) -> np.ndarray:
    """Uniform integer in [0, m) drawn from each id."""
    return (_hash(ids, seed, tag) % np.uint64(m)).astype(np.int64)


def url_fields(ids: np.ndarray, seed: int, hot_permille: int, n_cold_hosts: int):
    """``(raw_urls, canonical_urls, priorities)`` for synthetic ids.

    The raw form mixes what canonicalization must undo: an upper-case
    host, an explicit default port, an unsorted query and a fragment,
    each on a hash-chosen share of rows.  The canonical form is built
    directly from the same fields, and each id has its own.
    """
    hot = _u(ids, seed, 1, 1000) < hot_permille
    cold = _u(ids, seed, 2, n_cold_hosts)
    with np.errstate(over="ignore"):
        show = (ids.astype(np.uint64) * _PERM_MUL + np.uint64(seed)) & _PERM_MASK
    offset = _u(ids, seed, 3, 97) * 10
    variant = _u(ids, seed, 4, 16)
    prio = _u(ids, seed, 5, 5).astype(np.int32)
    raw, canon = [], []
    for h, c, s, o, v in zip(hot.tolist(), cold.tolist(), show.tolist(), offset.tolist(),
                             variant.tolist()):
        host = HOT_HOST if h else f"h{c}.example"
        path = f"/v1/catalog/us/podcasts/{s}/episodes"
        canon.append(f"https://{host}{path}?l=en-US&offset={o}")
        raw.append(
            "https://"
            + (host.upper() if v & 1 else host)
            + (":443" if v & 2 else "")
            + path
            + (f"?offset={o}&l=en-US" if v & 4 else f"?l=en-US&offset={o}")
            + ("#t" if v & 8 else "")
        )
    return raw, canon, prio


def write_parquet(table: pa.Table, directory: Path, files: int = 4) -> None:
    """Write ``table`` as ``files`` parquet parts, so Spark reads it with
    that many tasks."""
    directory.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), directory / f"part-{i:05d}.parquet")


def stream_ids(batch: int, seed: int, n_initial: int, n_new: int, redisc_permille: int,
               dup_permille: int) -> tuple[np.ndarray, np.ndarray]:
    """Candidate ids of micro-batch ``batch`` and each row's copy number.

    ``n_new`` never-seen ids, a ``redisc_permille`` share of
    rediscoveries drawn from every id seen or offered before this batch
    (the initial seen set included), and a ``dup_permille`` share of
    in-batch repeats of this batch's new ids.  Copy 0 is a first
    offer; a repeat's copy number varies its raw spelling."""
    n_re = n_new * redisc_permille // 1000
    n_dup = n_new * dup_permille // 1000
    first_new = n_initial + batch * n_new
    k = np.arange(n_new + n_re + n_dup, dtype=np.int64)
    tag = 16 * (batch + 1)
    ids = np.where(
        k < n_new,
        first_new + k,
        np.where(
            k < n_new + n_re,
            _u(k, seed, tag + 7, first_new),
            _u(k, seed, tag + 8, n_new) + first_new,
        ),
    )
    return ids, np.where(k < n_new, 0, k)


def write_stream_batch(directory: Path, batch: int, seed: int, n_initial: int, n_new: int,
                       redisc_permille: int, dup_permille: int, hot_permille: int,
                       n_cold_hosts: int) -> None:
    """One micro-batch in the stream's candidate schema ``(url STRING,
    priority INT, discovered_ts TIMESTAMP)``.  Rediscoveries and repeats
    arrive in another spelling of the same canonical URL, so only
    canonicalization can match them up."""
    ids, copy = stream_ids(batch, seed, n_initial, n_new, redisc_permille, dup_permille)
    raw, canon, prio = url_fields(ids, seed, hot_permille, n_cold_hosts)
    v = _u(ids * 7919 + copy, seed, 9, 4)
    urls = []
    for r, c, cp, vv in zip(raw, canon, copy.tolist(), v.tolist()):
        if cp == 0:
            urls.append(r)
            continue
        if vv & 1:  # explicit default port
            scheme, rest = c.split("://", 1)
            host, path = rest.split("/", 1)
            c = f"{scheme}://{host}:443/{path}"
        urls.append(c + "#again" if vv & 2 else c)
    write_parquet(pa.table({
        "url": pa.array(urls, pa.string()),
        "priority": pa.array(prio, pa.int32()),
        "discovered_ts": pa.array(np.full(len(urls), DISCOVERED_TS), pa.timestamp("us", tz="UTC")),
    }), directory)


def write_canonicals(directory: Path, lo: int, hi: int, seed: int, hot_permille: int,
                     n_cold_hosts: int) -> None:
    """``(fetch_url)``: the canonical URLs of ids ``[lo, hi)``."""
    _, canon, _ = url_fields(np.arange(lo, hi, dtype=np.int64), seed, hot_permille, n_cold_hosts)
    write_parquet(pa.table({"fetch_url": pa.array(canon, pa.string())}), directory)
