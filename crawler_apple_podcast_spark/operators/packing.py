"""Training-sequence packing: concat-and-chunk over a global doc order.

LLM pre-training consumes fixed-length token sequences, so the last
pipeline stage concatenates the corpus in a deterministic order and
cuts it every ``budget`` tokens; a document that straddles a boundary
is split across chunks.  The reference crawler stops at per-episode
JSON files (/root/reference/handler/apple_podcast_api.py:60-76) — this
stage only exists at training-data scale.

The whole operator is one global *exclusive prefix sum* over token
counts plus per-row arithmetic.  A naive Spark prefix sum is a window
over ``Window.orderBy(order_col)`` — a single-partition global sort
that dies at corpus scale.  Instead rows are range-bucketed by the
order key (``n_buckets`` contiguous ranges, so bucket order == global
order) and ``skew.bucketed_scan`` sums per bucket and windows within
each bucket.

From ``start`` the chunk assignment is pure per-row math: the doc
covers tokens ``[start, start+toks)`` and lands in chunks
``start div B .. (start+toks-1) div B`` — emitted with
``sequence``+``explode`` (fan-out per doc = #chunks it touches, ~1).
At 100 TB: n_buckets scales with the cluster (one window partition per
bucket); everything but the scan is codegen map-side arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import bucketed_scan


def global_token_starts(
    docs: DataFrame,
    token_col: str,
    order_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Add ``_start`` = exclusive prefix sum of ``token_col`` in
    ``order_col`` order (the doc's global token offset).  ``order_col``
    must be numeric and range-bucketable (bucketing by value range is
    what keeps bucket order aligned with global order).  Rows with
    ``token_col <= 0`` are dropped — they occupy no tokens.

    The token projection is local-checkpointed once, so tokenization
    runs once for the one (min, max) driver job and the scan.
    """
    d = docs.where(F.col(token_col) > 0).localCheckpoint()
    lo, hi = d.agg(F.min(order_col), F.max(order_col)).first()
    if lo is None:
        return d.withColumn("_start", F.lit(0).cast("long"))
    return _range_starts(d, token_col, order_col, int(lo), int(hi), n_buckets)


def _range_starts(
    d: DataFrame, token_col: str, order_col: str, lo: int, hi: int, n_buckets: int
) -> DataFrame:
    """``_start`` over ``n_buckets`` contiguous ranges of
    ``[lo, hi]``, which must cover every ``order_col`` value."""
    span = (hi - lo) // n_buckets + 1  # ceil((hi - lo + 1) / n_buckets), exact
    b = d.withColumn("_bkt", F.expr(f"(cast({order_col} as long) - {lo}) div {span}"))
    return bucketed_scan(b, [], ["_bkt"], [order_col], "_start", token_col).drop("_bkt")


def pack_training_chunks(
    docs: DataFrame,
    token_col: str,
    budget: int,
    order_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """``(order_col, chunk_id, doc_off, seg_len)`` — every (doc, chunk)
    segment under concat-and-chunk packing at ``budget`` tokens per
    chunk.  ``doc_off`` is the segment's first token within the doc;
    segments of one doc are contiguous and their ``seg_len``s sum to
    the doc's token count; every chunk is exactly ``budget`` tokens
    full except the last.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    s = global_token_starts(docs, token_col, order_col, n_buckets)
    toks = F.col(token_col).cast("long")
    # integer `div`, not `/` (long / long is DOUBLE in Spark — loses
    # exactness past 2^53 token offsets)
    first = F.expr(f"_start div {budget}")
    last = F.expr(f"(_start + cast({token_col} as long) - 1) div {budget}")
    seg = s.select(
        order_col,
        toks.alias("_toks"),
        F.col("_start").alias("_s"),
        F.explode(F.sequence(first, last)).alias("chunk_id"),
    )
    chunk_start = F.col("chunk_id") * budget
    doc_off = F.greatest(F.lit(0).cast("long"), chunk_start - F.col("_s"))
    seg_end = F.least(
        F.col("_s") + F.col("_toks") - 1, chunk_start + F.lit(budget - 1)
    )
    return seg.select(
        order_col,
        "chunk_id",
        doc_off.alias("doc_off"),
        (seg_end - (F.col("_s") + doc_off) + F.lit(1)).alias("seg_len"),
    )


def budget_select(
    docs: DataFrame,
    token_col: str,
    budget: int,
    quality_col: str,
    id_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Greedy quality-ordered corpus selection under a GLOBAL token
    budget: keep the maximal prefix of docs, ordered by
    ``(quality desc, id asc)``, whose inclusive token cumsum stays
    <= ``budget`` — "assemble exactly N tokens of the best data", the
    decision that actually sizes a pre-training run.

    The global order is folded into ONE numeric key
    ``(1000 - quality) * K + id`` (quality is integer per-mille; K >
    max id makes the fold order-exact), so the range-bucketed scan of
    ``global_token_starts`` does the cumsum without a single-partition
    sort; the keep test ``start + tokens <= budget`` is per-row math.
    Because the cumsum is monotone, that predicate IS a prefix — the
    first doc that would cross the budget line and everything after it
    drop together.  Adds ``cum_tokens`` (the doc's inclusive cumsum)
    for audit.  One extra O(1)-row driver job fetches max(id) for K.
    Refused with ``ValueError``: NULL or fractional ids, negative ids,
    quality that is not integer per-mille, and a max id whose fold
    would overflow a long.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    # The input is evaluated once: the validation aggregate and the
    # scan both read this checkpoint.
    d = docs.where(F.col(token_col) > 0).localCheckpoint()
    # One driver job fetches max(id) for K and, for free in the same
    # agg, validates the fold's preconditions: quality outside
    # [0, 1000] or a negative id would silently corrupt the packed
    # order key (quality 1001 sorts after quality 0) — raise instead.
    q = F.col(quality_col).cast("double")
    st = d.agg(
        F.max(F.col(id_col).cast("long")).alias("hi"),
        F.min(F.col(id_col).cast("long")).alias("lo"),
        F.min(q).alias("qlo"),
        F.max(q).alias("qhi"),
        # integrality probe: 0.9 per-UNIT quality (the likely misuse)
        # survives a [0,1000] range check after a long cast truncates
        # it to 0 — and then silently collapses the order key to pure
        # id order, the exact corruption this guard exists to refuse
        F.max(F.abs(q - F.round(q))).alias("qfrac"),
        (F.count(F.lit(1)) - F.count(q)).alias("qnulls"),
        # a NULL (or long-uncastable) id would NULL the order key and
        # the bucket join would silently DROP the row from the
        # selection — refuse, same as NULL quality
        (F.count(F.lit(1)) - F.count(F.col(id_col).cast("long"))).alias(
            "idnulls"
        ),
        # fractional ids (10.2, 10.6) long-truncate into COLLIDING
        # order keys — tied rows then share one inclusive cumsum and
        # the budget cut silently drops/keeps the wrong docs.  The id
        # is compared with its long in the id's own type: a cast
        # through double would round a fractional decimal id above
        # 2^53 to an integral double and let it pass.
        F.sum((F.col(id_col).cast("long") != F.col(id_col)).cast("long")).alias("idfrac"),
    ).first()
    if st["idnulls"]:
        # before the hi-is-None early return: an all-NULL id column
        # would otherwise slip through it as "empty input"
        raise ValueError(
            f"{id_col} must be a non-NULL integer on every selected row"
            f" ({st['idnulls']} NULL/non-castable) — a NULL order key"
            " silently drops the row"
        )
    hi = st["hi"]
    if hi is None:
        return d.withColumn("cum_tokens", F.lit(0).cast("long"))
    if st["lo"] < 0:
        raise ValueError(f"{id_col} must be non-negative (min={st['lo']})")
    if st["idfrac"]:
        raise ValueError(
            f"{id_col} must be integral ({st['idfrac']} row(s) with a"
            " fractional part) — truncation would collide order keys"
        )
    if st["qnulls"] or st["qlo"] is None:
        raise ValueError(
            f"{quality_col} must be numeric and non-NULL on every"
            f" selected row ({st['qnulls']} NULL/non-numeric)"
        )
    if st["qlo"] < 0 or st["qhi"] > 1000 or st["qfrac"] != 0:
        raise ValueError(
            f"{quality_col} must be integer per-mille in [0, 1000]"
            f" (saw [{st['qlo']}, {st['qhi']}],"
            f" max fractional part {st['qfrac']})"
        )
    k = int(hi) + 1
    key_lo = (1000 - int(st["qhi"])) * k + int(st["lo"])
    key_hi = (1000 - int(st["qlo"])) * k + int(hi)
    if key_hi >= 1 << 63:
        raise ValueError(f"max {id_col} {hi} overflows the long order key"
                         f" (1000 - quality) * (max id + 1) + id: {key_hi}")
    keyed = d.withColumn(
        "_okey",
        (F.lit(1000) - F.col(quality_col).cast("long")) * F.lit(k)
        + F.col(id_col).cast("long"),
    )
    s = _range_starts(keyed, token_col, "_okey", key_lo, key_hi, n_buckets)
    return (
        s.withColumn(
            "cum_tokens", F.col("_start") + F.col(token_col).cast("long")
        )
        .where(F.col("cum_tokens") <= budget)
        .drop("_okey", "_start")
    )


def chunk_fill_stats(chunks: DataFrame) -> DataFrame:
    """Per-chunk fill audit over ``pack_training_chunks`` output:
    ``(chunk_id, n_segments, fill)``."""
    return chunks.groupBy("chunk_id").agg(
        F.count("*").alias("n_segments"), F.sum("seg_len").alias("fill")
    )


def chunk_documents(
    docs: DataFrame,
    max_len: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Sliding-window document chunking: cut each doc's token array
    into windows of ``max_len`` tokens starting every ``stride``
    tokens (default ``stride = max_len`` -> disjoint chunks; a smaller
    stride overlaps windows, the BERT/long-context fine-tuning shape
    where ``pack_chunks`` above is the concat-and-chunk pre-training
    shape).  Returns ``(id_col, chunk_idx, n_tokens, chunk_text)`` —
    the final window may be shorter; empty docs emit no rows.

    Scale shape: pure per-row codegen — ``sequence`` over window
    starts, ``posexplode``, ``slice`` — a narrow map with fan-out
    ~n_tokens/stride per doc and ZERO shuffles; chunking composes
    with the shard writer's range repartition downstream.  No Python,
    no window functions, no driver state.
    """
    if stride is None:
        stride = max_len
    if stride <= 0 or max_len <= 0:
        raise ValueError(f"max_len and stride must be positive, got {max_len}, {stride}")
    n = F.size(tokens_col)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    t = docs.select(F.col(id_col), F.col(tokens_col).alias("_tk"), starts.alias("_st"))
    ex = t.select(id_col, "_tk", F.posexplode("_st").alias("_ci", "_s"))
    chunk = F.slice(F.col("_tk"), F.col("_s") + 1, max_len)
    return ex.select(
        id_col,
        F.col("_ci").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
