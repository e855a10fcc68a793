"""Parameter stamps for committed probe indexes.

A hash-keyed index (window-hash, LSH band buckets) is only as good as
the agreement between the parameters it was BUILT with and the
parameters a later session PROBES it with: a drifted window length or
banding scheme makes every key miss, and a semi-join that finds
nothing is indistinguishable from a corpus with no duplicates — the
false negatives are silent by construction.  The stamp makes the
drift loud instead: committing an index writes its build parameters
to a 1-row ``{table}__meta`` companion, and opening it validates the
probe's parameters against the stamp before any data moves.

Lifecycle rules (shared by every stamped index — the write/validate
matrix lives HERE so the spans and similarity writers cannot drift
apart):

- fresh table (no prior data), params given        -> stamp
- overwrite, params given                          -> stamp (replace)
- overwrite, params omitted                        -> DROP any stamp
  (the new data cannot be vouched for; a stale stamp would vouch for
  the wrong hash family and make the correct probe raise)
- append onto a stamped table                      -> validate FIRST
  (mismatch raises before any data lands); matching appends keep the
  stamp without rewriting it
- append onto a stamped table, params omitted      -> raise (a
  stamped table demands its parameters)
- append onto a pre-existing UNSTAMPED table       -> never stamp
  (the stamp cannot vouch for rows it did not see committed)

Openers: params given + stamp present -> validate; no stamp or no
params -> pass through (legacy tables keep working, they just stay
unguarded).
"""

from __future__ import annotations

from typing import Mapping


def _meta(table: str) -> str:
    return table + "__meta"


def read_stamp(spark, table: str) -> dict | None:
    """The committed stamp as a dict, or None when absent."""
    mt = _meta(table)
    if not spark.catalog.tableExists(mt):
        return None
    row = spark.table(mt).first()
    return None if row is None else row.asDict()


def check_stamp(spark, table: str, params: Mapping[str, int] | None) -> None:
    """Raise when ``params`` disagrees with the committed stamp.  No
    stamp, or no params, validates nothing.  Every probe parameter
    must be PRESENT in the stamp — skipping unknown keys would let a
    stamp written by an older writer (or missing a newly-added
    parameter) vouch for a value it never recorded, reinstating the
    silent-miss failure this module exists to prevent."""
    if not params:
        return
    stamp = read_stamp(spark, table)
    if stamp is None:
        return
    missing = sorted(k for k in params if k not in stamp)
    if missing:
        raise ValueError(
            f"index {table!r} stamp {stamp} does not record"
            f" parameter(s) {missing} the probe depends on — the stamp"
            " cannot vouch for them; rebuild the index with the"
            " current writer"
        )
    bad = {
        k: (stamp[k], v) for k, v in params.items() if stamp[k] != v
    }
    if bad:
        detail = ", ".join(
            f"{k}: committed={a} probe={b}" for k, (a, b) in sorted(bad.items())
        )
        raise ValueError(
            f"index {table!r} parameter stamp mismatch ({detail}): every"
            " probe key would miss and cross-index duplicates would"
            " silently survive — rebuild the index or probe with its"
            " committed parameters"
        )


def stamp_after_write(
    spark,
    table: str,
    params: Mapping[str, int] | None,
    mode: str,
    existed_before: bool,
) -> None:
    """Apply the lifecycle rules AFTER the data write landed.  The
    append-mismatch check belongs BEFORE the write — call
    ``validate_before_write`` for that."""
    mt = _meta(table)
    if params and (mode == "overwrite" or not existed_before):
        schema = ", ".join(f"{k} INT" for k in sorted(params))
        spark.createDataFrame(
            [tuple(int(params[k]) for k in sorted(params))], schema
        ).write.mode("overwrite").format("parquet").saveAsTable(mt)
    elif not params and mode == "overwrite" and spark.catalog.tableExists(mt):
        # an un-parameterized rebuild cannot be vouched for: a stale
        # stamp would pass the WRONG probe and fail the right one
        spark.sql(f"DROP TABLE IF EXISTS {mt}")
    # append onto stamped+matching: stamp already right, nothing to do
    # append onto pre-existing unstamped: stays unstamped


def write_stamped_bucketed(
    index,
    table: str,
    bucket_cols: tuple[str, ...],
    params: Mapping[str, int] | None,
    buckets: int,
    mode: str,
) -> None:
    """The one write choreography every stamped bucketed index uses —
    validate (append), drop a divergent stamp, write the data
    bucketed+sorted on the probe key, stamp.  Living HERE means the
    spans and similarity writers cannot drift apart on the order of
    these steps.

    Data and stamp are two separate ``saveAsTable`` calls — the
    parquet session catalog has no multi-table transaction — so a
    crash between them is possible.  The order below makes every
    crash window UNGUARDED rather than WRONGLY VOUCHED: before a
    parameter-CHANGING overwrite the old stamp is dropped first, so
    dying after the data write leaves a stampless table (probes pass
    unguarded, legacy semantics) instead of a stale stamp that
    validates the wrong hash family and rejects the right one.  A data
    overwrite that RAISES leaves no table at all: the session catalog
    drops the old table before the write job runs, so there is no old
    data for the dropped stamp to vouch for, and a later open fails on
    the missing table (pinned in ``tests/test_stamps.py``)."""
    spark = index.sparkSession
    validate_before_write(spark, table, params, mode)
    if mode == "overwrite":
        prev = read_stamp(spark, table)
        want = {k: int(v) for k, v in (params or {}).items()}
        if prev is not None and prev != want:
            spark.sql(f"DROP TABLE IF EXISTS {_meta(table)}")
    existed = spark.catalog.tableExists(table)
    (
        index.write.mode(mode)
        .bucketBy(buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )
    stamp_after_write(spark, table, params, mode, existed)


def validate_before_write(
    spark,
    table: str,
    params: Mapping[str, int] | None,
    mode: str,
) -> None:
    """The append-side guard, run BEFORE any data lands: appending to
    a stamped table validates (and demands) the parameters."""
    if mode != "append":
        return
    stamp = read_stamp(spark, table)
    if stamp is None:
        return
    if not params:
        raise ValueError(
            f"index {table!r} is parameter-stamped ({stamp}); appends"
            " must pass the same parameters so mixed hash families"
            " cannot land silently"
        )
    check_stamp(spark, table, params)
