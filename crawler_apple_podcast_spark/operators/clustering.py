"""Document clustering: Lloyd's k-means over embedding columns, with
cosine assignment and EXACT cross-engine replayability.

The trick that makes an iterative float algorithm oracle-checkable:
with cosine assignment, the argmax over cells is invariant to positive
scaling of each centroid, so centroids never need to be MEANS — the
per-cell integer SUM of quantized member vectors assigns identically.
Every quantity in the loop is then exact: quantized vectors are
integers, per-dim sums are integers (exactly representable in double
far past any realistic cell size), the assignment score is an exact
integer dot divided by a correctly-rounded sqrt — the same IEEE
expression DuckDB evaluates from the same integers.  A fixed-iteration
run is therefore bit-replayable as chained SQL CTEs.

Scale shape per iteration: one Arrow-batched matmul assignment over
the corpus (no shuffle — ``ivf_assign``), one groupBy(cell) with
map-side partial sums (the only shuffle: k rows out per partition),
and a k x dim collect to the driver (the codebook is tiny by
construction; broadcasting it back is the same pattern MLlib uses).
Empty cells keep their previous centroid — a rule the oracle replays
with a left join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _cosine_milli, _qdot, _quantized, ivf_assign, ivf_centroids


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    init: np.ndarray | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """``n_iter`` Lloyd iterations from the deterministic stride-sampled
    codebook (``ivf_centroids``); returns (assignment DataFrame with
    columns (id_col, cell), final int64 sum-centroids).

    The returned assignment is the one computed AGAINST the final
    centroids (i.e. iteration n_iter's reassignment), matching the
    oracle's final CTE.  Rows with a NULL vector are not clustered."""
    embeddings = embeddings.where(F.col(vec_col).isNotNull())
    cents = ivf_centroids(embeddings, k, id_col, vec_col) if init is None else init
    if dim is None:
        dim = int(cents.shape[1])
    q = embeddings.select(
        F.col(id_col), _quantized(vec_col).alias("_q")
    )
    for _ in range(n_iter):
        a = ivf_assign(embeddings, cents, 1, id_col, vec_col)
        sums = (
            a.join(q, id_col)
            .groupBy("cell")
            .agg(
                *[
                    F.sum(F.element_at("_q", i + 1)).cast("long").alias(f"s{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        new = cents.copy()  # empty cells keep their previous centroid
        for r in sums:
            new[r["cell"]] = [r[f"s{i}"] for i in range(dim)]
        cents = new
    return ivf_assign(embeddings, cents, 1, id_col, vec_col), cents


def semantic_dedup(
    embeddings: DataFrame,
    k: int,
    threshold_milli: int,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the corpus embeddings with
    k-means, then drop within-cluster semantic near-duplicates —
    ``(id_col, cell, keep)`` with ``keep = false`` iff a lower-id
    member of the SAME cell has quantized cosine >= ``threshold_milli``
    (the deterministic keep-first rule; component-canonical selection
    is ``graph.select_component_representatives`` if quality-priority
    canonicals are wanted instead).

    Scale shape: clustering is the narrow Arrow matmul + one tiny
    groupBy per iteration (see ``kmeans_lloyd``); the dedup stage is a
    self-join ON CELL — never an all-pairs corpus join.  SemDeDup's
    economics require k to grow with the corpus (the paper uses
    k ~ n/1e3..1e4) so cells stay small and the within-cell pair count
    stays ~n * cell_size; a runaway cell (embedding-space boilerplate)
    is the skew risk, handled upstream by exact dedup so identical
    vectors never pile into one cell.  Zero-norm vectors join no pairs
    (cosine undefined) and are always kept; a NULL vector is kept too,
    with a NULL ``cell``, so a ``keep`` filter never loses its row.

    Every arithmetic step is exact integer / correctly-rounded IEEE on
    quantized vectors (see ``similarity._quantized``), so a fixed-k,
    fixed-iteration run is bit-replayable as SQL — the driver oracle
    chains the k-means CTEs with the within-cell pair join.
    """
    assign, _cents = kmeans_lloyd(embeddings, k, n_iter, id_col, vec_col, dim)
    # Zero-norm and NULL vectors stay in `q` (kept, never paired), so it
    # is not a ``_cosine_side``; a left join against one measured slower
    # at sf0.1.
    q = embeddings.select(
        F.col(id_col), _quantized(vec_col).alias("_qe")
    ).withColumn("_nq", _qdot(F.col("_qe"), F.col("_qe")))
    # Both self-join sides and the result derive from `assigned`; left
    # lazy, Spark re-runs the Arrow matmul assignment once PER READER
    # (the same double-compute trap simhash_near_pairs documents).
    # Local-checkpointed, it goes with the returned frame; a lost
    # executor fails the job instead of recomputing it.
    assigned = q.join(assign, id_col, "left").localCheckpoint()
    base = assigned.where(F.col("_nq") > 0)
    a = base.select(
        F.col(id_col).alias("_va"), "cell",
        F.col("_qe").alias("_qa"), F.col("_nq").alias("_na"),
    )
    b = base.select(
        F.col(id_col).alias("_vb"), "cell",
        F.col("_qe").alias("_qb"), F.col("_nq").alias("_nb"),
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("_va") < F.col("_vb"))
        .select(F.col("_vb").alias(id_col), _cosine_milli("a", "b"))
        .where(F.col("cosine_milli") >= threshold_milli)
        .select(id_col)
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return assigned.join(dropped, id_col, "left").select(
        id_col,
        F.col("cell").cast("long").alias("cell"),
        F.col("_drop").isNull().alias("keep"),
    )
