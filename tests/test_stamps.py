"""Shared index-parameter stamp lifecycle (operators/stamps.py):
the write/validate matrix both committed-index writers ride on."""

import pytest

from crawler_apple_podcast_spark.operators import stamps


def _mk(spark, table, rows=((1, 0, 7),)):
    return spark.createDataFrame(list(rows), "doc_id INT, band INT, key LONG")


def _cleanup(spark, table):
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__meta")


def test_stamp_missing_key_refuses(spark):
    """A stamp that never recorded a parameter cannot vouch for it:
    probing with a key absent from the stamp raises instead of
    skipping the check (skipping would reinstate the silent-miss
    failure for writers that later grow a parameter)."""
    table = "stamp_missing_key_test"
    try:
        stamps.write_stamped_bucketed(
            _mk(spark, table), table, ("band", "key"), {"bands": 12}, 2,
            "overwrite",
        )
        with pytest.raises(ValueError, match="does not record"):
            stamps.check_stamp(spark, table, {"bands": 12, "rows_per_band": 3})
        stamps.check_stamp(spark, table, {"bands": 12})  # subset ok
    finally:
        _cleanup(spark, table)


def test_divergent_overwrite_replaces_stamp(spark):
    """Re-stamping on a parameter-changing overwrite: the old stamp is
    dropped BEFORE the data write (a crash between the two writes
    leaves the table unguarded, never wrongly vouched) and the new
    stamp lands after."""
    table = "stamp_divergent_overwrite_test"
    try:
        stamps.write_stamped_bucketed(
            _mk(spark, table), table, ("band", "key"), {"bands": 12}, 2,
            "overwrite",
        )
        stamps.write_stamped_bucketed(
            _mk(spark, table), table, ("band", "key"), {"bands": 16}, 2,
            "overwrite",
        )
        assert stamps.read_stamp(spark, table) == {"bands": 16}
        stamps.check_stamp(spark, table, {"bands": 16})
        with pytest.raises(ValueError, match="committed=16 probe=12"):
            stamps.check_stamp(spark, table, {"bands": 12})
    finally:
        _cleanup(spark, table)


def test_failed_divergent_overwrite_leaves_no_table_to_vouch_for(spark):
    """A parameter-changing overwrite whose data raises: the session
    catalog drops the old table before the write job runs, so no old
    data survives for the old stamp to vouch for.  Nothing is left —
    no table, no stamp — and opening the index afterwards fails loudly
    instead of validating."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from crawler_apple_podcast_spark.operators import similarity as S
    from crawler_apple_podcast_spark.operators import spans as SP

    w_table, lsh_table = "stamp_failed_overwrite_window", "stamp_failed_overwrite_lsh"
    good = spark.createDataFrame([(1, 0, 7)], "doc_id INT, band INT, key LONG")
    bad = good.withColumn("key", F.when(F.col("key") >= 0, F.raise_error("boom")).cast("long"))
    try:
        SP.write_window_index_bucketed(good.withColumnRenamed("key", "whash"), w_table, 2, w=8)
        S.write_lsh_index_bucketed(good, lsh_table, 3, 36, 12, 3, buckets=2)
        with pytest.raises(Exception, match="boom"):
            SP.write_window_index_bucketed(bad.withColumnRenamed("key", "whash"), w_table, 2, w=50)
        with pytest.raises(Exception, match="boom"):
            S.write_lsh_index_bucketed(bad, lsh_table, 3, 36, 16, 3, buckets=2)
        for table in (w_table, lsh_table):
            assert not spark.catalog.tableExists(table), table
            assert stamps.read_stamp(spark, table) is None, table
        with pytest.raises(AnalysisException):
            SP.bucketed_window_index(spark, w_table, w=8)
        with pytest.raises(AnalysisException):
            S.bucketed_lsh_index(spark, lsh_table, 3, 36, 12, 3)
    finally:
        _cleanup(spark, w_table)
        _cleanup(spark, lsh_table)
