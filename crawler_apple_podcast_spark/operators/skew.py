"""Skew-handling primitives (SURVEY.md §4.1; north_star requirement).

Nearly the whole frontier lives on two hosts
(``amp-api.podcasts.apple.com`` / ``podcasts.apple.com`` — reference
corpus evidence in doc/web_search_info.sql:41+), so any host-keyed
repartition/join/agg would put ~100% of rows in one task.
``two_phase_agg`` salts the grouping key explicitly; AQE skew-join
splitting is enabled in ``session.py`` as the runtime backstop.
``bucketed_scan`` is the same idea for ordered scans (per-group rank,
running sum): the window runs per bucket, never per whole group.

Both results are byte-equal to the unsalted formulation — salting
changes the physical plan only — which is what lets the driver verify
them against a plain-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def two_phase_agg(
    df: DataFrame,
    key_cols: list[str],
    sum_cols: dict[str, str] | None = None,
    count_alias: str = "cnt",
    salt_n: int = 32,
    salt_expr=None,
) -> DataFrame:
    """Skew-safe groupBy: partial agg on ``(keys, salt)`` then merge.

    ``sum_cols`` maps input column -> output alias.  Results equal the
    plain ``groupBy(keys).agg(...)`` exactly (sums/counts are
    associative), so plan-level salting is oracle-checkable.
    """
    sum_cols = sum_cols or {}
    salt = salt_expr if salt_expr is not None else F.spark_partition_id()
    salted = df.withColumn("_salt", F.pmod(salt, F.lit(salt_n)))

    partial_aggs = [F.count(F.lit(1)).alias("_pc")] + [
        F.sum(c).alias(f"_ps_{a}") for c, a in sum_cols.items()
    ]
    partial = salted.groupBy(*key_cols, "_salt").agg(*partial_aggs)

    final_aggs = [F.sum("_pc").alias(count_alias)] + [
        F.sum(f"_ps_{a}").alias(a) for a in sum_cols.values()
    ]
    return partial.groupBy(*key_cols).agg(*final_aggs)


def bucketed_scan(
    df: DataFrame,
    group_cols: list[str],
    bucket_cols: list[str],
    order_cols: list,
    out_col: str,
    value: str | None = None,
) -> DataFrame:
    """Exact ordered scan within each ``group_cols`` group with no
    window over a whole group: with no ``value``, ``out_col`` is the
    1-based ``row_number`` by ``(bucket_cols, order_cols)``; with a
    ``value`` column, it is that column's EXCLUSIVE running sum in the
    same order.  Empty ``group_cols`` scans the whole frame.

    ``bucket_cols`` must be ORDER-ALIGNED: ascending bucket order never
    contradicts ``order_cols`` order (a hash's top bits, a value range).
    Then the scan is one tiny ``(group, bucket)`` count/sum aggregate,
    whose exclusive cumulative sum per group is each bucket's offset,
    plus a local window per ``(group, bucket)`` added to that offset:
    a hot group spans as many window partitions as it has buckets.
    One shuffle of ``df`` (by group and bucket), no sampling pass, no
    driver collect, no materialized intermediate.  ``out_col`` is a
    long."""
    part = [*group_cols, *bucket_cols]
    per_bucket = F.count(F.lit(1)) if value is None else F.sum(value)
    ow = (
        Window.partitionBy(*group_cols)
        .orderBy(*bucket_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        df.groupBy(*part)
        .agg(per_bucket.alias("_c"))
        .withColumn("_off", F.coalesce(F.sum("_c").over(ow), F.lit(0)))
        .drop("_c")
    )
    lw = Window.partitionBy(*part).orderBy(*order_cols)
    local = (
        F.row_number().over(lw)
        if value is None
        else F.coalesce(
            F.sum(value).over(lw.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        )
    )
    return df.join(off, part).withColumn(out_col, local + F.col("_off")).drop("_off")
