"""Lloyd k-means: planted-cluster recovery, iteration improvement,
empty-cell rule, determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators import clustering as CL


@pytest.fixture(scope="module")
def planted(spark):
    """4 well-separated clusters of 50 vectors each (axis-aligned
    bumps + small deterministic noise)."""
    base = spark.range(200)
    cl = (F.col("id") / 50).cast("int")
    comps = []
    for d in range(16):
        center = F.when(cl == d // 4, F.lit(1.0)).otherwise(F.lit(0.05))
        noise = F.lit(0.01) * F.sin((F.col("id") + 1).cast("double") * F.lit(d + 1.0))
        comps.append((center + noise).cast("float"))
    return base.select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding")
    ).cache()


def _purity(assign_rows, group=50):
    by_cell: dict[int, list[int]] = {}
    for r in assign_rows:
        by_cell.setdefault(r.cell, []).append(r.vec_id // group)
    hits = sum(max(v.count(g) for g in set(v)) for v in by_cell.values())
    return hits / sum(len(v) for v in by_cell.values())


def test_recovers_planted_clusters_and_iterations_help(spark, planted):
    a0, _ = CL.kmeans_lloyd(planted, 4, n_iter=0, dim=16)   # raw stride init
    a2, _ = CL.kmeans_lloyd(planted, 4, n_iter=2, dim=16)
    p0, p2 = _purity(a0.collect()), _purity(a2.collect())
    assert p2 >= p0
    assert p2 >= 0.95  # well-separated planted clusters are recovered


def test_deterministic(spark, planted):
    a, c = CL.kmeans_lloyd(planted, 4, n_iter=2, dim=16)
    b, c2 = CL.kmeans_lloyd(planted.repartition(7), 4, n_iter=2, dim=16)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert np.array_equal(c, c2)


def test_empty_cell_keeps_previous_centroid(spark):
    """With k=3 over 2 tight clusters, some cell wins nothing; its
    centroid must persist (not NaN/zero) and the run must stay total —
    every vector assigned every iteration."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(6)] + [
        (i, [0.0, 1.0, 0.0, 0.0]) for i in range(6, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    assign, cents = CL.kmeans_lloyd(df, 3, n_iter=2, dim=4)
    got = assign.collect()
    assert len(got) == 12
    assert np.isfinite(cents).all()
    assert not np.array_equal(cents, np.zeros_like(cents))


# ------------------------------------------------------------- SemDeDup


def test_semantic_dedup_drops_planted_near_dups(spark, planted):
    """Plant exact copies of vectors 0 and 50 (each planted cluster's
    minimum id) under new ids; the copies land in the same k-means cell
    as their originals (identical vectors), cosine 1000 >= threshold,
    the copies are dropped, the originals survive (keep-first), and in
    every cell the minimum surviving id is kept."""
    dups = planted.where(F.col("vec_id").isin(0, 50)).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    out = CL.semantic_dedup(
        planted.unionByName(dups), k=4, threshold_milli=990, n_iter=1, dim=16
    )
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == 202
    assert not rows[1000].keep and not rows[1050].keep
    assert rows[0].keep and rows[50].keep
    # the copy shares its original's cell by construction
    assert rows[1000].cell == rows[0].cell
    assert rows[1050].cell == rows[50].cell
    # keep-first: each cell's minimum id always survives
    by_cell: dict[int, list] = {}
    for r in rows.values():
        by_cell.setdefault(r.cell, []).append(r)
    for members in by_cell.values():
        assert min(m.vec_id for m in members) in {
            m.vec_id for m in members if m.keep
        }


def test_semantic_dedup_scopes_pairs_to_cells_and_keeps_zero_norm(spark):
    """Two identical vectors forced into DIFFERENT cells are both kept
    (the rule is within-cell only), and a zero vector is always kept
    (cosine undefined, joins no pairs)."""
    rows = [
        (0, [1.0, 0.0]), (1, [1.0, 0.0]),        # cell A twins
        (2, [0.0, 1.0]), (3, [0.0, 1.0]),        # cell B twins
        (4, [0.0, 0.0]),                          # zero norm
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = {r.vec_id: r for r in CL.semantic_dedup(df, k=2, threshold_milli=990, dim=2).collect()}
    assert out[0].keep and not out[1].keep
    assert out[2].keep and not out[3].keep
    assert out[4].keep
    # cross-cell: 0/1 vs 2/3 are orthogonal, never paired anyway, but
    # the within-cell scoping is what kept 2 despite 0 being "first"
    assert out[0].cell != out[2].cell


def test_semantic_dedup_cache_released(spark, planted, persisted_frames):
    """The join base is local-checkpointed, so a call leaves no
    persisted frame for the caller to release."""
    before = persisted_frames()
    CL.semantic_dedup(planted, k=4, threshold_milli=990, dim=16).count()
    assert persisted_frames() == before
