"""hash_bucketed_host_rank must equal the single-window row_number rank.

The operator exists so the skewed host never lands in one task; these
tests pin its EXACTNESS against the naive window formulation, which is
the semantic reference.
"""

from __future__ import annotations

import random

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators.politeness import hash_bucketed_host_rank


def _bucketed_vs_window(spark, rows, n_buckets=32):
    df = (
        spark.createDataFrame(rows, "host STRING, pri INT, url STRING")
        .withColumn("_uh", F.xxhash64("url"))
        .repartition(13)
        .cache()
    )
    got = hash_bucketed_host_rank(
        df, "host", "pri", "_uh", "url", out_col="_rn", n_buckets=n_buckets
    )
    w = Window.partitionBy("host").orderBy("pri", "_uh", "url")
    ref = df.withColumn("_rn_ref", F.row_number().over(w))
    a = {(r["host"], r["url"]): r["_rn"] for r in got.collect()}
    b = {(r["host"], r["url"]): r["_rn_ref"] for r in ref.collect()}
    df.unpersist()
    return a, b


def test_hash_bucketed_rank_matches_window(spark):
    """The sampling-free rank (order-aligned hash-prefix salt) equals
    the naive window rank, including negative hash values that straddle
    the signed bucket boundary and a 90%-skewed host."""
    rng = random.Random(7)
    rows = [
        (("hot.example" if rng.random() < 0.9 else f"h{rng.randint(0, 20)}"),
         rng.randint(0, 3), f"u{i}")
        for i in range(2000)
    ]
    a, b = _bucketed_vs_window(spark, rows)
    assert a == b and len(a) == len(rows)


def test_rank_empty_input(spark):
    a, b = _bucketed_vs_window(spark, [])
    assert a == b == {}


def test_rank_more_partitions_than_rows(spark):
    """32 buckets over 3 rows: most buckets are empty, ranks stay exact."""
    a, b = _bucketed_vs_window(
        spark, [("a", 1, "x"), ("a", 0, "y"), ("b", 2, "z")], n_buckets=32
    )
    assert a == b
    assert a[("a", "y")] == 1 and a[("a", "x")] == 2 and a[("b", "z")] == 1


def test_hash_bucketed_rank_rejects_non_pow2(spark):
    df = spark.createDataFrame([("a", 0, "x")], "host STRING, pri INT, url STRING")
    df = df.withColumn("_uh", F.xxhash64("url"))

    with pytest.raises(ValueError):
        hash_bucketed_host_rank(df, "host", "pri", "_uh", "url", n_buckets=33)
