"""URL-seen dedupe operators (SURVEY.md §2.3 D1/D2).

The reference's seed-dedupe is a *sequential* 2-key OR probe
(/root/reference/handler/google_api.py:76-81): a candidate is skipped
iff any already-inserted row matches its ``result_url`` OR its
``apple_podcast_user_id`` — including rows inserted earlier in the same
batch, and including the quirk that an empty-string user id matches
every other empty-string row.  That sequential dependence is not a
plain ``dropDuplicates``: whether row i survives depends on which
earlier rows survived.

Distributed formulation: survival dependencies only exist between rows
sharing a url or uid key, i.e. within connected components of the
bipartite row↔key graph.  We compute components with a handful of
min-label-propagation shuffles (components are tiny in real corpora —
the giant ``uid=''`` component degenerates to "first valid row wins"
and stays cheap because the scan is O(component)), then replay the
reference's scan order inside each component with one grouped Arrow
UDF.  Rows in singleton components pass through the same code path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Persisted survivor frames returned by sequential_or_dedupe, so
# long-lived sessions (seed discovery per wave) can release them once
# the wave's outputs are materialized — same pattern as
# similarity.release_similarity_cache / bloom's cache_registry.
_dedupe_cache: list[DataFrame] = []


def release_dedupe_cache() -> None:
    """Unpersist all survivor frames cached since the last call."""
    while _dedupe_cache:
        _dedupe_cache.pop().unpersist()


def two_key_or_anti_join(
    candidates: DataFrame, seen: DataFrame, url_col: str = "url", uid_col: str = "uid"
) -> DataFrame:
    """Set-semantics D1: drop candidates matching the *persisted* seen
    table on either key.  (Batch-internal ordering handled by
    ``sequential_or_dedupe``.)"""
    seen_urls = seen.select(F.col(url_col)).where(F.col(url_col).isNotNull()).distinct()
    seen_uids = seen.select(F.col(uid_col)).where(F.col(uid_col).isNotNull()).distinct()
    return candidates.join(seen_urls, url_col, "left_anti").join(
        seen_uids, uid_col, "left_anti"
    )


def _scan_component(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("ord")
    urls: set = set()
    uids: set = set()
    keep = []
    forced = pdf["forced"] if "forced" in pdf.columns else None
    for i, r in enumerate(pdf.itertuples()):
        if forced is not None and forced.iloc[i]:
            # injected pre-seen key (e.g. the empty-uid survivor's url):
            # always "survives" so its keys block later rows.
            keep.append(True)
            urls.add(r.url)
            uids.add(r.uid)
        elif r.seen_hit or r.url in urls or r.uid in uids:
            keep.append(False)
        else:
            keep.append(True)
            urls.add(r.url)
            uids.add(r.uid)
    return pdf[pd.Series(keep, index=pdf.index)]


def sequential_or_dedupe(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    uid_col: str = "uid",
    ord_col: str = "ord",
    max_iters: int = 50,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Exact replay of ``SaveUrlsToDb`` batch semantics, distributed.

    ``candidates`` needs a total-order column ``ord_col`` (the
    reference's processing order).  Returns the surviving rows with
    their original columns.

    The returned frame is persisted (its lineage crosses two grouped
    Arrow stages) and registered in ``cache_registry`` — or the module
    registry released by :func:`release_dedupe_cache` — so callers can
    free it after materializing downstream outputs.
    """
    c = candidates.select(
        F.col(ord_col).cast("long").alias("ord"),
        F.col(url_col).alias("url"),
        F.col(uid_col).alias("uid"),
    )

    seen_urls = seen.select(F.col(url_col).alias("url")).where(
        F.col("url").isNotNull()
    ).distinct().withColumn("_hu", F.lit(True))
    seen_uids = seen.select(F.col(uid_col).alias("uid")).where(
        F.col("uid").isNotNull()
    ).distinct().withColumn("_hd", F.lit(True))

    c = (
        c.join(seen_urls, "url", "left")
        .join(seen_uids, "uid", "left")
        .withColumn(
            "seen_hit", F.coalesce(F.col("_hu"), F.lit(False)) | F.coalesce(F.col("_hd"), F.lit(False))
        )
        .drop("_hu", "_hd")
        # NULL keys match nothing (SQL `=` semantics in the reference's
        # WHERE result_url=%s OR user_id=%s probe), but the propagation
        # and scan joins below would DROP a NULL join key instead of
        # keeping the row as a singleton.  Substitute a per-row sentinel
        # after the seen-hit joins (which correctly saw the NULLs):
        # unique per ord, so it collides with no other row's key.
        .withColumn(
            "url",
            F.coalesce(F.col("url"), F.concat(F.lit("\x00nullurl:"), F.col("ord").cast("string"))),
        )
        .withColumn(
            "uid",
            F.coalesce(F.col("uid"), F.concat(F.lit("\x00nulluid:"), F.col("ord").cast("string"))),
        )
        .persist()
    )

    # The uid='' quirk makes every empty-uid row one giant component
    # (each matches each).  Handled analytically instead of as one
    # sequential task: at most ONE empty-uid row survives — the first
    # (by ord) that is neither seen nor url-blocked by an earlier
    # non-empty survivor — because it adds '' to the seen uids and
    # kills every later empty-uid row.  Non-empty rows are affected by
    # it only through its url, which is re-injected below.
    empties = c.where(F.col("uid") == "")
    nonempty = c.where(F.col("uid").isNull() | (F.col("uid") != ""))

    # min-label propagation over the url/uid key graph (non-empty rows
    # only — components are small without the '' hub).  Persist per
    # iteration so lineage (and recomputation) stays O(1) per round.
    lab = nonempty.withColumn("comp", F.col("ord")).persist()
    # `lab` after the first iteration is a DERIVED projection of the
    # persisted `nxt` — unpersisting the derivation is a no-op on the
    # cache entry, so track the actually-persisted frame explicitly
    # (one leaked frame per iteration otherwise).
    lab_cached = lab
    for _ in range(max_iters):
        by_url = lab.groupBy("url").agg(F.min("comp").alias("_cu"))
        by_uid = lab.groupBy("uid").agg(F.min("comp").alias("_cd"))
        nxt = (
            lab.join(by_url, "url")
            .join(by_uid, "uid")
            .withColumn("_new", F.least("comp", "_cu", "_cd"))
            .persist()
        )
        changed = nxt.where(F.col("_new") != F.col("comp")).limit(1).count()
        lab = nxt.withColumn("comp", F.col("_new")).drop("_cu", "_cd", "_new")
        lab_cached.unpersist()
        lab_cached = nxt
        if changed == 0:
            break

    scan_schema = (
        "ord BIGINT, url STRING, uid STRING, seen_hit BOOLEAN, comp BIGINT, forced BOOLEAN"
    )
    base = lab.select("ord", "url", "uid", "seen_hit", "comp").withColumn(
        "forced", F.lit(False)
    )
    s0 = (
        base.groupBy("comp").applyInPandas(_scan_component, schema=scan_schema).persist()
    )

    # e* = first empty-uid candidate not seen and not url-blocked by an
    # earlier non-empty survivor.  (Survivors before e*.ord cannot be
    # changed by e*, so s0 is authoritative for the blocking check.)
    blockers = s0.select(F.col("url").alias("url"), F.col("ord").alias("_bord"))
    e_valid = (
        empties.where(~F.col("seen_hit"))
        .join(blockers, "url", "left")
        .groupBy("ord", "url")
        .agg(F.min("_bord").alias("_minb"))
        .where(F.col("_minb").isNull() | (F.col("_minb") > F.col("ord")))
    )
    estar = e_valid.orderBy("ord").select("ord", "url").limit(1).collect()

    if not estar:
        survivors = s0.select("ord")
    else:
        e_ord, e_url = estar[0].ord, estar[0].url
        # Components containing a row that e*'s url can kill are
        # re-scanned with the url injected as a forced pre-seen key;
        # cascades (kills freeing keys for later rows) replay exactly.
        affected = (
            lab.where((F.col("url") == e_url) & (F.col("ord") > e_ord))
            .select("comp")
            .distinct()
        )
        aff_rows = base.join(F.broadcast(affected), "comp", "left_semi")
        spark = candidates.sparkSession
        inject = (
            aff_rows.select("comp")
            .distinct()
            .select(
                F.lit(e_ord).alias("ord"),
                F.lit(e_url).alias("url"),
                F.lit("\x00estar").alias("uid"),
                F.lit(False).alias("seen_hit"),
                F.col("comp"),
                F.lit(True).alias("forced"),
            )
        )
        rescanned = (
            aff_rows.unionByName(inject)
            .groupBy("comp")
            .applyInPandas(_scan_component, schema=scan_schema)
            .where(~F.col("forced"))
        )
        survivors = (
            s0.join(F.broadcast(affected), "comp", "left_anti")
            .unionByName(rescanned)
            .select("ord")
            .unionByName(spark.createDataFrame([(e_ord,)], "ord BIGINT"))
        )

    out = candidates.join(
        survivors.withColumnRenamed("ord", ord_col), ord_col, "left_semi"
    ).persist()
    (_dedupe_cache if cache_registry is None else cache_registry).append(out)
    out.count()
    for f in (c, lab_cached, s0):
        f.unpersist()
    return out


def skip_if_exists(
    new_assets: DataFrame, ledger: DataFrame, key_col: str = "id"
) -> DataFrame:
    """D2 download-dedupe: the ``os.path.exists`` skip
    (apple_podcast_api.py:151-152) as a ``left_anti`` join."""
    return new_assets.join(
        ledger.select(key_col).distinct(), key_col, "left_anti"
    )
