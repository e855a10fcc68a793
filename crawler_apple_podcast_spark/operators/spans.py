"""Cross-document exact-substring span dedup (the ExactSubstr pass).

Training corpora contain long VERBATIM repeats that document-level
near-dup (MinHash/SimHash over whole docs) never catches: licenses,
templated intros, quoted passages, syndicated paragraphs embedded in
otherwise-distinct pages.  "Deduplicating Training Data Makes Language
Models Better" (Lee et al., ACL 2022) removes every repeated token
window of length >= W, keeping one occurrence; the published tool is a
single-node suffix array.  The Spark-first shape replaces the suffix
array with a window-hash shuffle:

1. **window scan** (narrow, codegen): per doc, the stride-1 W-token
   windows as ``(doc_id, pos, whash)`` where ``whash`` chains the
   per-token xxhash64 values — the map stage moves fixed-width longs,
   never window STRINGS (W tokens/window x T windows/doc of string
   traffic is the naive plan's death at 100 TB).
2. **duplicate-window table** (THE corpus-wide shuffle, 8-byte keys,
   map-side combine): ``groupBy(whash).count() > 1``.  Its size is the
   number of *distinct duplicated windows* — the dup fraction, not the
   corpus.
3. **confirm + keep-first** (dup candidates only): candidate rows
   re-slice their window STRING from the doc and group on it, so hash
   collisions can only cost extra confirm work, never a wrong span —
   output equals the exact string computation (equal strings always
   collide; unequal strings are separated by the string group).  The
   globally-first occurrence per window string (ordered by
   ``(doc_id, pos)``) survives; every other occurrence is marked.
4. **span merge** (per-doc window functions over marked positions):
   stride-1 marks from one repeated passage collapse into ONE span via
   gaps-and-islands (break when ``pos > prev_pos + W``: more than a
   token gap between covered ranges).

``strip_spans`` then cuts the spans out of the text (the keep-first
occurrence survives verbatim), token positions outside any span are
untouched.

Tokenization is a plain single-space split with empties KEPT: span
positions are 1-based token indices into exactly that split, so the
DuckDB oracle (``string_split``) and the stripper agree on positions
byte-for-byte.

No reference counterpart (the reference crawler has no corpus layer);
this is part of the training-data-pipeline surface alongside
operators/similarity.py and operators/dedupe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def token_windows(
    df: DataFrame, id_col: str, text_col: str, w: int
) -> DataFrame:
    """``(doc_id, pos, whash)`` for every stride-1 W-token window;
    1-based ``pos``.  Zero shuffles: token hashes materialize in their
    own projection (lambda re-eval trap), the window hash chains W
    fixed-width longs through one xxhash64 call."""
    from .similarity import _spread

    t1 = _spread(df, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.split(text_col, " "), lambda t: F.xxhash64(t)).alias("_th"),
    )
    wins = F.when(
        F.size("_th") >= w,
        F.transform(
            F.sequence(F.lit(1), F.size("_th") - w + 1),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.xxhash64(
                    *[F.element_at(F.col("_th"), i + j) for j in range(w)]
                ).alias("whash"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,whash:bigint>>"))
    return t1.select("doc_id", F.explode(wins).alias("_w")).select(
        "doc_id", F.col("_w.pos").alias("pos"), F.col("_w.whash").alias("whash")
    )


def duplicate_window_marks(
    df: DataFrame, id_col: str, text_col: str, w: int
) -> DataFrame:
    """``(doc_id, pos)`` of every NON-FIRST occurrence of a duplicated
    W-token window (keep-first by global ``(doc_id, pos)`` order),
    confirmed on the actual window string so the result is exact."""
    wins = token_windows(df, id_col, text_col, w)
    dup_hashes = (
        wins.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > 1)
        .select("whash")
    )
    cand = wins.join(dup_hashes, "whash").select("doc_id", "pos")
    # Confirm stage touches candidate rows only: re-slice the window
    # string from the doc text (candidate docs only reach the join).
    docs = df.select(
        F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("_tk")
    )
    cand_str = cand.join(docs, "doc_id").select(
        "doc_id",
        "pos",
        F.array_join(F.slice("_tk", F.col("pos"), w), " ").alias("_win"),
    )
    byw = Window.partitionBy("_win").orderBy("doc_id", "pos")
    return (
        cand_str.withColumn("_rn", F.row_number().over(byw))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("_win")))
        .where((F.col("_n") > 1) & (F.col("_rn") > 1))
        .select("doc_id", "pos")
    )


def exact_substring_spans(
    df: DataFrame, id_col: str, text_col: str, w: int = 50
) -> DataFrame:
    """Merged removal spans ``(doc_id, span_start, span_end,
    span_tokens)`` — 1-based inclusive token ranges covered by
    non-first duplicated windows, overlapping/contiguous ranges
    collapsed (gaps-and-islands per doc)."""
    return _merge_marks_to_spans(
        duplicate_window_marks(df, id_col, text_col, w), w
    )


def window_hash_index(df: DataFrame, id_col: str, text_col: str, w: int) -> DataFrame:
    """Distinct ``(whash)`` of every W-token window in the corpus — the
    persistable exact-substring index (8 bytes/row, the analog of
    ``similarity.lsh_band_buckets``): written once per crawl wave,
    probed by later batches without rescanning old documents."""
    return token_windows(df, id_col, text_col, w).select("whash").distinct()


def write_window_index_bucketed(
    index: DataFrame, table: str, buckets: int = 64, mode: str = "overwrite",
    w: int | None = None,
) -> None:
    """Persist the window-hash index bucketed+sorted by ``whash`` so
    steady-state probes never shuffle the index side (bucket count is
    a table property sized to the data — 10^10 windows / 4096 buckets
    ~ 2.4M hashes each — not the cluster size).  ``saveAsTable`` is required: bucket
    metadata lives in the catalog, a plain parquet path write loses
    the spec.

    Pass ``w`` (the window length the index was scanned with) to stamp
    a 1-row ``{table}__meta`` companion: an index probed in a LATER
    session with a different ``w`` finds zero matching hashes and
    silently passes every cross-index duplicate (a false negative with
    no error anywhere) — the meta stamp lets ``bucketed_window_index``
    turn that into a loud mismatch at open time.  In-session,
    in-memory uses share one ``w`` variable and don't need it.

    Stamp lifecycle (shared rules, ``operators/stamps.py``): appends
    onto a stamped table validate BEFORE any data lands (and a stamped
    table refuses un-parameterized appends); an un-parameterized
    overwrite drops the stamp rather than leaving one that vouches for
    the wrong hash family; appending onto a pre-existing unstamped
    table never stamps retroactively (the stamp cannot vouch for rows
    it did not see committed)."""
    from . import stamps

    stamps.write_stamped_bucketed(
        index, table, ("whash",),
        None if w is None else {"w": int(w)}, buckets, mode,
    )


def bucketed_window_index(spark, table: str, w: int | None = None) -> DataFrame:
    """The committed index as a probe side: the semi join reads its
    buckets in place (``SelectedBucketsCount`` in the plan, zero
    Exchange above the scan) and only the new batch's windows shuffle
    — once, sized by the WAVE, not the accumulated corpus.  The
    ``shuffle_merge`` hint pins the sort-merge path: at target scale
    the index can never be broadcast, and letting the optimizer
    broadcast a small test fixture would bypass the bucketed path this
    function exists to exercise.

    Pass the ``w`` the PROBE will run with to validate it against the
    committed index's stamp (see ``write_window_index_bucketed``) —
    a mismatch raises here, at open time, instead of silently finding
    zero cross-index duplicates in the semi join.  Indexes written
    without a stamp skip the check (one 1-row table read when both
    sides are present; nothing touches the probe plan)."""
    from . import stamps

    stamps.check_stamp(spark, table, None if w is None else {"w": int(w)})
    return spark.table(table).hint("shuffle_merge")


def duplicate_window_marks_incremental(
    new: DataFrame, index: DataFrame, id_col: str, text_col: str, w: int
) -> DataFrame:
    """``(doc_id, pos)`` marks for a NEW batch against an already-
    indexed corpus: a window present in ``index`` is a duplicate in
    every new occurrence (the old corpus holds the keep-first copy);
    windows new to this batch dedup among themselves with the same
    keep-first rule.  Steady-state crawl shape: the window scan runs
    over the NEW batch only, the probe is one 8-byte-key join against
    the index — old documents are never read.

    Hash-only confirm against the index (the old side's strings are
    deliberately not consulted — that is the index's entire point), so
    unlike the batch operator a 64-bit collision could mark a clean
    window: P ~ n_windows^2 / 2^64, the same accepted bound as the
    Bloom hash-pair confirm (operators/bloom.py).  Within-batch
    duplicates still string-confirm via ``duplicate_window_marks``.
    New ids must be disjoint from indexed ids, and ``w`` MUST equal
    the ``w`` the index was scanned with — a mismatch makes every
    probe hash miss and cross-index duplicates silently survive
    (open committed indexes through ``bucketed_window_index(spark,
    table, w=...)``, which validates against the commit-time stamp)."""
    wins = token_windows(new, id_col, text_col, w)
    vs_index = wins.join(index, "whash", "left_semi").select("doc_id", "pos")
    within = duplicate_window_marks(new, id_col, text_col, w)
    return vs_index.unionByName(within).distinct()


def exact_substring_spans_incremental(
    new: DataFrame, index: DataFrame, id_col: str, text_col: str, w: int = 50
) -> DataFrame:
    """Merged removal spans for a new batch vs ``window_hash_index``
    output; same output contract as ``exact_substring_spans``."""
    marks = duplicate_window_marks_incremental(new, index, id_col, text_col, w)
    return _merge_marks_to_spans(marks, w)


def _merge_marks_to_spans(marks: DataFrame, w: int) -> DataFrame:
    byd = Window.partitionBy("doc_id").orderBy("pos")
    grouped = (
        marks.withColumn("_prev", F.lag("pos").over(byd))
        .withColumn(
            "_brk",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") > F.col("_prev") + w), 1
            ).otherwise(0),
        )
        .withColumn(
            "_grp",
            F.sum("_brk").over(byd.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return grouped.groupBy("doc_id", "_grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(w - 1)).alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(w)).alias("span_tokens"),
    ).drop("_grp")


def strip_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "text_dedup",
) -> DataFrame:
    """Cut the spans out of each doc's text (tokens at covered 1-based
    positions dropped, single-space rejoin).  Docs with no span pass
    through verbatim; the spans side is per-doc tiny (merged ranges),
    carried as one array column — no per-token join."""
    sp = spans.groupBy(F.col("doc_id").alias(id_col)).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.split(text_col, " ")
    keep = F.filter(
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.size(toks)),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda x: ~F.exists(
            F.col("_spans"),
            lambda s: (x["i"] >= s["span_start"]) & (x["i"] <= s["span_end"]),
        ),
    )
    return (
        df.join(sp, id_col, "left")
        .withColumn(
            out_col,
            F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
                F.array_join(F.transform(keep, lambda x: x["t"]), " ")
            ),
        )
        .drop("_spans")
    )
