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
bipartite row↔key graph.  ``graph.connected_components`` labels them
(components are tiny in real corpora — the giant ``uid=''`` component
degenerates to "first valid row wins" and is handled apart), then an
Arrow UDF replays the reference's scan order over partitions of whole
components.  Rows in singleton components pass through the same code
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .graph import connected_components


def release_dedupe_cache() -> None:
    """Does nothing: ``sequential_or_dedupe`` local-checkpoints its
    survivors, and Spark drops a checkpoint once nothing references its
    frame.  Kept because the benchmark harness (``perfbench/``) still
    calls it."""


def two_key_or_anti_join(
    candidates: DataFrame, seen: DataFrame, url_col: str = "url", uid_col: str = "uid"
) -> DataFrame:
    """Set-semantics D1: drop candidates matching the *stored* seen
    table on either key.  (Batch-internal ordering handled by
    ``sequential_or_dedupe``.)"""
    seen_urls = seen.select(F.col(url_col)).where(F.col(url_col).isNotNull()).distinct()
    seen_uids = seen.select(F.col(uid_col)).where(F.col(uid_col).isNotNull()).distinct()
    return candidates.join(seen_urls, url_col, "left_anti").join(
        seen_uids, uid_col, "left_anti"
    )


_SCAN_SCHEMA = "ord BIGINT, url STRING, uid STRING, seen_hit BOOLEAN, comp BIGINT, forced BOOLEAN"


def _scan_rows(batches):
    """The reference's scan over one partition's rows in ``ord`` order;
    sets of the urls and uids kept so far block later rows.  A
    ``forced`` row (an injected pre-seen key, e.g. the empty-uid
    survivor's url) always "survives" so its keys block later rows."""
    urls: set = set()
    uids: set = set()
    for pdf in batches:
        keep = []
        for r in pdf.itertuples():
            k = r.forced or not (r.seen_hit or r.url in urls or r.uid in uids)
            keep.append(k)
            if k:
                urls.add(r.url)
                uids.add(r.uid)
        yield pdf.loc[keep]


def _scan(rows: DataFrame) -> DataFrame:
    """``_scan_rows`` over partitions of whole components.  Components
    share no url or uid (the forced rows' keys, shared, act alike in
    every component), so one scan over several components in ``ord``
    order keeps what scanning each alone keeps, without a pandas call
    per component."""
    return (
        rows.repartition("comp")
        .sortWithinPartitions("ord")
        .mapInPandas(_scan_rows, schema=_SCAN_SCHEMA)
    )


def sequential_or_dedupe(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    uid_col: str = "uid",
    ord_col: str = "ord",
) -> DataFrame:
    """Exact replay of ``SaveUrlsToDb`` batch semantics, distributed.

    ``candidates`` needs a total-order column ``ord_col`` (the
    reference's processing order).  Returns the surviving rows with
    their original columns.

    The returned frame is local-checkpointed, because its lineage
    crosses two grouped Arrow stages.  Its blocks go when the caller
    drops the frame, so a session that dedupes once per wave does not
    grow storage; a lost executor fails the job instead of recomputing
    the survivors.
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
        # WHERE result_url=%s OR user_id=%s probe), but the component
        # windows below would group all NULL keys together and the
        # blocker join would drop them, instead of keeping each such
        # row as a singleton.  Substitute a per-row sentinel
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
        .localCheckpoint()
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

    # Components of the url/uid key graph over the non-empty rows
    # (small without the '' hub).  Star edges — each row to the min ord
    # sharing its url, and to the min ord sharing its uid — connect
    # exactly the rows the key cliques do, so the min-ord labels match.
    star = [
        nonempty.select("ord", F.min("ord").over(Window.partitionBy(k)).alias("_m"))
        for k in ("url", "uid")
    ]
    comps = connected_components(star[0].unionByName(star[1]), "ord", "_m")
    lab = nonempty.join(
        comps.select(F.col("id").alias("ord"), F.col("component").alias("comp")), "ord"
    )

    base = lab.select("ord", "url", "uid", "seen_hit", "comp").withColumn(
        "forced", F.lit(False)
    )
    s0 = _scan(base).localCheckpoint()

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
        rescanned = _scan(aff_rows.unionByName(inject)).where(~F.col("forced"))
        survivors = (
            s0.join(F.broadcast(affected), "comp", "left_anti")
            .unionByName(rescanned)
            .select("ord")
            .unionByName(spark.createDataFrame([(e_ord,)], "ord BIGINT"))
        )

    return candidates.join(
        survivors.withColumnRenamed("ord", ord_col), ord_col, "left_semi"
    ).localCheckpoint()


def skip_if_exists(
    new_assets: DataFrame, ledger: DataFrame, key_col: str = "id"
) -> DataFrame:
    """D2 download-dedupe: the ``os.path.exists`` skip
    (apple_podcast_api.py:151-152) as a ``left_anti`` join."""
    return new_assets.join(
        ledger.select(key_col).distinct(), key_col, "left_anti"
    )
