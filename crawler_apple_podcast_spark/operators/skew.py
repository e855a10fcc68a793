"""Skew-handling primitives (SURVEY.md §4.1; north_star requirement).

Nearly the whole frontier lives on two hosts
(``amp-api.podcasts.apple.com`` / ``podcasts.apple.com`` — reference
corpus evidence in doc/web_search_info.sql:41+), so any host-keyed
repartition/join/agg would put ~100% of rows in one task.
``two_phase_agg`` salts the grouping key explicitly; AQE skew-join
splitting is enabled in ``session.py`` as the runtime backstop.

Its result is byte-equal to the unsalted aggregation — salting
changes the physical plan only — which is what lets the driver verify
it against a plain-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
