"""Mergeable cardinality sketches (Apache DataSketches HLL via Spark
built-ins) for distinct-count accounting that never stores the set.

"How many distinct URLs has host H contributed across all waves?" at
10^10 frontier rows cannot keep per-host URL sets; the crawl ledger
instead stores one ~2^lgk-byte HLL sketch per (host) per wave and
MERGES them — union is associative/commutative, so per-wave sketches
roll up across any re-partitioning, and the estimate is within ~1.6%
(lgk=12) with high probability.  Everything here is Spark's built-in
``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``
(JVM DataSketches, codegen aggregate with map-side partials) — no
Python in the path.

Honesty contract (repo-wide): approximate structures must be checked
against exact computation.  The estimates cannot byte-match a DuckDB
oracle (different sketch family), so the driver entry asserts the
BOUND — per-key ``|estimate - exact| <= tol`` as a boolean the oracle
predicts as TRUE — and pytest asserts the rollup contract: the union
of per-wave sketches honors the same bound under any input
partitioning.  Estimates are NOT byte-stable across merge shapes —
sparse-vs-dense promotion and the order-dependent HIP estimator make
a direct build, a rollup, and a repartitioned rollup all slightly
different — so the BOUND, not estimate identity, is the guarantee.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_build(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """One HLL sketch (binary) per key group over ``value_col``."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias("hll")
    )


def hll_merge(sketches: DataFrame, key_cols: list[str]) -> DataFrame:
    """Union per-group sketches (e.g. per-wave rows) down to one sketch
    per key — the cross-wave rollup."""
    return sketches.groupBy(*key_cols).agg(
        F.hll_union_agg("hll").alias("hll")
    )


def hll_estimate(sketches: DataFrame) -> DataFrame:
    """Add ``distinct_est`` (long) from the ``hll`` column."""
    return sketches.withColumn(
        "distinct_est", F.hll_sketch_estimate("hll").cast("long")
    )


def distinct_within_tolerance(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    tol_milli: int = 50,
    lgk: int = 12,
) -> DataFrame:
    """Per-key exact distinct count plus the sketch-accuracy invariant:
    ``(keys..., n_distinct, within_tol)`` where ``within_tol`` is
    ``|hll_estimate - exact| * 1000 <= tol_milli * exact``.  The exact
    count is computed alongside (this is the VALIDATION query — at
    production scale only the sketch side runs); lgk=12 gives ~1.6%
    relative standard error, so tol 5% holds with overwhelming
    probability at any cardinality."""
    agg = df.groupBy(*key_cols).agg(
        F.countDistinct(value_col).alias("n_distinct"),
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias("hll"),
    )
    est = F.hll_sketch_estimate("hll").cast("long")
    return agg.select(
        *key_cols,
        "n_distinct",
        (
            F.abs(est - F.col("n_distinct")) * F.lit(1000)
            <= F.lit(tol_milli) * F.col("n_distinct")
        ).alias("within_tol"),
    )


def _mg_shrink(counters: dict, k: int) -> dict:
    """Misra-Gries merge/shrink: keep at most ``k`` counters by
    subtracting the (k+1)-largest count from all and dropping the
    non-positive remainder (Agarwal et al., "Mergeable Summaries")."""
    if len(counters) <= k:
        return counters
    pivot = sorted(counters.values(), reverse=True)[k]
    return {key: c - pivot for key, c in counters.items() if c > pivot}


def heavy_hitter_candidates(
    df, key_col: str, k: int
):
    """Per-partition Misra-Gries summaries: <= ``k`` candidate keys per
    partition (emitted with their residual lower-bound counts).  Each
    Arrow batch is folded in vectorized (``value_counts`` then one
    shrink), so the scan stays batch-speed, not per-row Python.  NULL
    keys are ignored (``value_counts`` drops them): NULL is never a
    heavy-hitter candidate, matching SQL GROUP BY semantics where a
    NULL group is reported but never compared by this operator."""
    import pandas as pd

    schema = df.select(key_col).schema
    out_schema = schema.add("residual", "long")

    def part(batches):
        counters: dict = {}
        for pdf in batches:
            for key, c in pdf[key_col].value_counts().items():
                counters[key] = counters.get(key, 0) + int(c)
            counters = _mg_shrink(counters, k)
        if counters:
            yield pd.DataFrame(
                {key_col: list(counters), "residual": list(counters.values())}
            )

    return df.select(key_col).mapInPandas(part, out_schema)


def heavy_hitters_exact(df, key_col: str, k: int):
    """EXACT answer to "which keys occur more than n/k times" via a
    Misra-Gries candidate prune + exact confirm: ``(key_col, n_exact)``
    for every key with ``n_exact * k > n``.

    Why the prune loses nothing: if ``freq(key) > n/k`` globally then
    in at least one partition ``freq_p > n_p/k`` (otherwise summing
    the per-partition inequalities contradicts the global one), and a
    k-counter Misra-Gries summary of a partition surfaces every key
    with ``freq_p > n_p/k``.  The union of partition candidates is
    therefore a SUPERSET of the true heavy hitters — the repo-wide
    sketch contract (approximate prunes, exact confirms) — and the
    confirm counts only candidate-key rows: the full-key groupBy
    shuffle is replaced by <= ``k x n_partitions`` candidate rows plus
    a broadcast semi-join scan."""
    cand = heavy_hitter_candidates(df, key_col, k).select(key_col).distinct()
    total = df.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    counts = (
        df.join(F.broadcast(cand), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n_exact") * F.lit(k) > F.col("_n"))
        .select(key_col, "n_exact")
    )


def value_histogram(df, key_col: str, value_col: str):
    """Per-key value histogram ``(key, value, c)`` — the mergeable
    summary behind :func:`exact_percentiles`.

    This is the quantile analog of the HLL rows above: a crawl ledger
    stores one histogram per (host, wave) instead of raw per-fetch
    latencies, and histograms MERGE by adding counts (associative,
    commutative — :func:`merge_histograms`), so per-wave summaries
    roll up across any partitioning with NO loss: unlike HLL/KLL the
    rollup is exact, because integer-ms latencies have bounded
    cardinality per key (state is O(distinct values), not O(rows)).
    One shuffle on (key, value) with map-side combine; the raw rows
    never move again."""
    return df.groupBy(key_col, value_col).agg(F.count(F.lit(1)).alias("c"))


def merge_histograms(*hists):
    """Union per-wave histograms down to one per (key, value) — counts
    add.  ``merge(hist(A), hist(B)) == hist(A union B)`` exactly."""
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    key_cols = [c for c in out.columns if c != "c"]
    return out.groupBy(*key_cols).agg(F.sum("c").alias("c"))


def percentiles_from_histogram(
    hist,
    key_col: str,
    value_col: str,
    pmilles: tuple[int, ...] = (500, 950, 990),
):
    """EXACT lower (type-1) discrete percentiles per key from a
    ``(key, value, c)`` histogram: for each per-mille rank ``p`` the
    smallest value whose cumulative count reaches ``ceil(p*n/1000)``
    — i.e. ``min(value | cum*1000 >= p*n)``, all 64-bit integer
    arithmetic, no float rank interpolation.

    Plan: cumulative + total window over the histogram, then a
    groupBy(key) whose grouping key equals the window partition key,
    so both share ONE key Exchange — and that Exchange moves histogram
    rows, not raw fetches.  This generalizes the corpus-profile exact-
    median trick (T19) to arbitrary multi-percentile dashboards
    (p50/p95/p99 fetch-latency SLOs per host) without ever sorting a
    key's raw rows (maximal skew on hot hosts)."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(key_col)
    cum = hist.select(
        key_col,
        value_col,
        F.sum("c").over(w_cum).alias("_cum"),
        F.sum("c").over(w_tot).alias("_tot"),
    )
    aggs = [F.max("_tot").cast("long").alias("n")]
    for p in pmilles:
        aggs.append(
            F.min(
                F.when(
                    F.col("_cum") * F.lit(1000) >= F.lit(int(p)) * F.col("_tot"),
                    F.col(value_col),
                )
            )
            .cast("long")
            .alias(f"p{int(p)}")
        )
    return cum.groupBy(key_col).agg(*aggs)


def exact_percentiles(
    df,
    key_col: str,
    value_col: str,
    pmilles: tuple[int, ...] = (500, 950, 990),
):
    """Per-key exact discrete percentiles of an integer value column:
    histogram build (one raw-row shuffle, map-side combined) + rank
    pick over the histogram.  ``value_col`` must be integral — the
    exactness contract (and the bounded-cardinality scale argument)
    lives on integers; quantize floats upstream (ms, cents, milli)."""
    return percentiles_from_histogram(
        value_histogram(df, key_col, value_col), key_col, value_col, pmilles
    )


# ------------------------------------------------- count-min sketch

_CM_SEEDS = (0x243F6A88, 0x85A308D3, 0x13198A2E, 0x03707344,
             0xA4093822, 0x299F31D0, 0xC0AC29B7, 0xC97C50DD)


def _cm_index_cols(df, key_col: str, w: int, d: int):
    """The d per-row bucket indices, computed JVM-side (xxhash64 with
    d fixed seeds) so build and probe share the exact geometry."""
    out = df
    for i in range(d):
        out = out.withColumn(
            f"_cm{i}", F.pmod(F.xxhash64(F.col(key_col), F.lit(_CM_SEEDS[i])), F.lit(w)).cast("int")
        )
    return out


def cm_build(df, key_col: str, w: int = 1 << 14, d: int = 4):
    """Count-min sketch of a key column as a (d, w) int64 numpy matrix.

    The family's point-frequency member (HLL = distinct, Misra-Gries =
    top-k, value histogram = quantiles): "roughly how often has URL
    template X been fetched?" at 10^10 rows without ever shuffling the
    keys.  Per-partition partial matrices are built by one vectorized
    Arrow pass and summed — CM matrices are EXACTLY additive
    (``cm(A ∪ B) == cm(A) + cm(B)`` elementwise, pytest-asserted), so
    per-wave sketches roll up across any partitioning with no estimator
    order-dependence (unlike HLL's HIP).  Guarantees: ``est >= exact``
    ALWAYS (hard one-sided bound), ``est <= exact + e*N/w`` with
    probability ``1 - e^-d`` per query.

    Driver assembly mirrors the Bloom/cuckoo broadcast fast path
    (``operators/bloom.py``): d*w int64s (d=4, w=16384 -> 512 KB)
    regardless of corpus size; past that, the partial rows themselves
    are the mergeable table.  It does not share that gate's sharded
    build on purpose: count-min sums additive per-partition partials,
    where a URL-seen filter owns one shard table per hash range."""
    if d > len(_CM_SEEDS):
        raise ValueError(f"d <= {len(_CM_SEEDS)} supported, got {d}")
    import numpy as np
    import pandas as pd

    idx_cols = [f"_cm{i}" for i in range(d)]
    indexed = _cm_index_cols(df.select(key_col), key_col, w, d).select(*idx_cols)

    def part(batches):
        mat = np.zeros((d, w), dtype=np.int64)
        seen = False
        for pdf in batches:
            seen = True
            for i, c in enumerate(idx_cols):
                np.add.at(mat[i], pdf[c].to_numpy(), 1)
        if seen:
            yield pd.DataFrame({"counts": [mat.tobytes()]})

    rows = indexed.mapInPandas(part, "counts binary").collect()
    mat = np.zeros((d, w), dtype=np.int64)
    for r in rows:
        mat += np.frombuffer(r["counts"], dtype=np.int64).reshape(d, w)
    return mat


def cm_estimate(df, sketch, key_col: str, w: int | None = None, out_col: str = "freq_est"):
    """Add ``out_col``: the count-min point estimate (min over the d
    rows) for each key — one vectorized gather over the broadcast
    matrix, keys never shuffled.  ``w`` is derived from the sketch
    itself; passing one that disagrees raises (a caller-supplied wider
    w would IndexError mid-gather, a narrower one would silently hash
    into the wrong columns and break the est >= exact guarantee)."""
    import numpy as np
    import pandas as pd

    d, w_ = sketch.shape
    if w is not None and w != w_:
        raise ValueError(f"w={w} disagrees with sketch width {w_}")
    w = w_
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(sketch))
    idx_cols = [f"_cm{i}" for i in range(d)]

    @F.pandas_udf("long")
    def _est(idx: pd.Series) -> pd.Series:
        mat = bc.value
        pos = np.asarray(idx.tolist(), dtype=np.int64)  # (n, d)
        est = mat[0][pos[:, 0]]
        for i in range(1, mat.shape[0]):
            est = np.minimum(est, mat[i][pos[:, i]])
        return pd.Series(est)

    out = _cm_index_cols(df, key_col, w, d)
    return out.withColumn(out_col, _est(F.array(*idx_cols))).drop(*idx_cols)


def freq_within_bound(df, key_col: str, w: int = 1 << 14, d: int = 4, slack: int = 4):
    """Validation query for the CM invariants: per-key
    ``(key, n_exact, ge_exact, within_bound)`` where ``ge_exact`` is
    the hard one-sided guarantee (estimate never undercounts) and
    ``within_bound`` checks ``est - exact <= max(slack, slack*N/w)``
    — comfortably looser than the e*N/w Markov bound, so TRUE with
    overwhelming probability for d >= 4.  At production scale only the
    sketch side runs; the exact groupBy here is the referee."""
    n_total = df.count()
    bound = max(slack, (slack * n_total) // w)
    sketch = cm_build(df, key_col, w, d)
    exact = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_exact"))
    est = cm_estimate(exact, sketch, key_col, w)
    return est.select(
        key_col,
        "n_exact",
        (F.col("freq_est") >= F.col("n_exact")).alias("ge_exact"),
        (F.col("freq_est") - F.col("n_exact") <= F.lit(int(bound))).alias(
            "within_bound"
        ),
    )
