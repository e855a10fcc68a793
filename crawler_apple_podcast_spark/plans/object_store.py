"""K5-lite object-store sink: the download -> upload -> ledger-status
lifecycle, executed end to end against a local fake bucket.

The reference downloads each asset to disk and uploads it to COS,
tracking progress in ``crawler_download_info`` with a ``status``
lifecycle and a ``lock`` flag (/root/reference/handler/
apple_podcast_api.py:137-182, db/data_download.py:49-56,
doc/data_download.sql:18-19).  Spark-side the same contract is:

1. **claim** — ledger rows with ``status=0, lock=0`` move to
   ``status=2, lock=1`` via ``merge_status`` (K3), committed BEFORE any
   blob moves so a crashed worker's rows are visibly stuck processing;
2. **upload** — an Arrow ``mapInPandas`` stage fetches each blob
   (deterministic fake by default; a deployment passes its HTTP GET as
   ``fetch_fn``) and writes it to
   ``<bucket_root>/<cos_key>`` with a tmp-file + atomic-rename put —
   the ``foreachPartition`` side-effect pattern, shaped as
   ``mapInPandas`` so the per-row outcome comes back as a DataFrame
   instead of being lost;
3. **finalize** — per-row outcomes merge back as ``status=3`` (ok) /
   ``status=4`` (fail) with ``lock=0``, committed as the next snapshot.

Each commit goes through ``SnapshotStore`` (Iceberg stand-in), so a
kill between claim and finalize resumes exactly: ``reclaim_stale``
releases rows stuck at ``status=2`` back to claimable.

At scale the bucket is an object store (the put is one HTTP PUT per
blob from each executor — no driver traffic, no shuffle: the only
movement is the ledger-delta merge, one shuffle on ``id``).
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshots import SnapshotStore
from .status import STATUS_FAIL, STATUS_INIT, STATUS_OK, STATUS_PROCESSING, merge_status

LEDGER_KEY = ["id"]


def deterministic_fake_fetch(asset_url: str) -> bytes:
    """Sandbox stand-in for the asset GET: repeatable bytes derived from
    the URL (so tests can assert blob content byte-exactly)."""
    h = hashlib.md5(asset_url.encode("utf-8")).hexdigest()
    return f"BLOB:{asset_url}:{h}".encode("utf-8")


def bucket_put(bucket_root: str, key: str, data: bytes) -> None:
    """Atomic local-bucket put (tmp write + rename) — the COS
    ``upload_file`` analog (/root/reference/utils/cos.py:33-55)."""
    path = os.path.join(bucket_root, key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def upload_assets(
    claimed: DataFrame, bucket_root: str, fetch_fn=None
) -> DataFrame:
    """Fetch + upload every claimed ledger row; returns per-row outcomes
    ``(id, cos_key, ok, err)``.  Runs entirely executor-side (Arrow
    batches); blob bytes never touch the driver or a shuffle."""
    fetch_fn = fetch_fn or deterministic_fake_fetch

    def run(batches):
        for pdf in batches:
            rows = []
            for rid, key, url in zip(pdf["id"], pdf["cos_key"], pdf["asset_url"]):
                try:
                    bucket_put(bucket_root, key, fetch_fn(url))
                    rows.append((rid, key, True, None))
                except Exception as ex:  # noqa: BLE001 — per-row fail -> status 4
                    rows.append((rid, key, False, str(ex)[:200]))
            yield pd.DataFrame(rows, columns=["id", "cos_key", "ok", "err"])

    return claimed.select("id", "cos_key", "asset_url").mapInPandas(
        run, schema="id STRING, cos_key STRING, ok BOOLEAN, err STRING"
    )


def _with_ts(df: DataFrame, ts: int) -> DataFrame:
    return df.withColumn("update_ts", F.lit(ts).cast("bigint"))


def run_download_cycle(
    spark: SparkSession,
    ledger: DataFrame,
    bucket_root: str,
    fetch_fn=None,
    store: SnapshotStore | None = None,
    cycle: int = 0,
    passthrough: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One full ledger lifecycle pass: claim -> upload -> finalize.

    Returns ``(new_ledger, outcomes)``.  With ``store`` set, the claim
    is committed as snapshot ``2*cycle`` and the finalized ledger as
    ``2*cycle + 1`` — a kill between the two resumes from the claim
    snapshot with rows visibly stuck at ``status=2, lock=1`` (release
    them with ``reclaim_stale``).

    ``passthrough``: ledger rows that must NOT be claimed this cycle
    (e.g. politeness-budget-deferred rows) but must still appear in
    every committed snapshot and in the returned ledger — otherwise a
    kill/resume from the last committed wave silently loses them."""
    lg = _with_ts(ledger, 0)
    claimable = lg.where(
        (F.col("status") == STATUS_INIT) & (F.col("lock") == 0)
    )
    claim_delta = _with_ts(
        claimable.withColumn("status", F.lit(STATUS_PROCESSING).cast("int"))
        .withColumn("lock", F.lit(1).cast("int"))
        .drop("update_ts"),
        1,
    )
    claimed = merge_status(lg, claim_delta, LEDGER_KEY, "update_ts").localCheckpoint()
    if store is not None:
        snap = claimed.drop("update_ts")
        if passthrough is not None:
            snap = snap.unionByName(passthrough)
        store.commit_wave(
            2 * cycle, {"download_ledger": snap},
            metrics={"phase": "claim", "cycle": cycle},
        )

    outcomes = upload_assets(claim_delta, bucket_root, fetch_fn).localCheckpoint()
    done_delta = _with_ts(
        claim_delta.drop("status", "lock", "update_ts")
        .join(outcomes.select("id", "ok"), "id", "inner")
        .withColumn(
            "status",
            F.when(F.col("ok"), F.lit(STATUS_OK))
            .otherwise(F.lit(STATUS_FAIL))
            .cast("int"),
        )
        .withColumn("lock", F.lit(0).cast("int"))
        .drop("ok"),
        2,
    )
    final = merge_status(claimed, done_delta, LEDGER_KEY, "update_ts").drop("update_ts")
    if passthrough is not None:
        final = final.unionByName(passthrough)
    final = final.localCheckpoint()
    if store is not None:
        store.commit_wave(
            2 * cycle + 1, {"download_ledger": final},
            metrics={"phase": "finalize", "cycle": cycle},
        )
    return final, outcomes


def reclaim_stale(ledger: DataFrame) -> DataFrame:
    """Release rows a dead worker left claimed (status=2, lock=1) back
    to claimable (status=0, lock=0) — the operator action after a kill
    between the claim and finalize commits."""
    # One select, not chained withColumn: the second withColumn would
    # re-evaluate the stale predicate against the already-reset status.
    stale = (F.col("status") == STATUS_PROCESSING) & (F.col("lock") == 1)
    repl = {
        "status": F.when(stale, F.lit(STATUS_INIT).cast("int"))
        .otherwise(F.col("status"))
        .alias("status"),
        "lock": F.when(stale, F.lit(0).cast("int")).otherwise(F.col("lock")).alias("lock"),
    }
    return ledger.select(*[repl.get(c, F.col(c)) for c in ledger.columns])


def retry_failed(ledger: DataFrame) -> DataFrame:
    """Move failed rows (status=4) back to claimable for the next
    cycle — the reference's manual-retry UPDATE."""
    failed = F.col("status") == STATUS_FAIL
    return ledger.withColumn(
        "status", F.when(failed, F.lit(STATUS_INIT).cast("int")).otherwise(F.col("status"))
    )
