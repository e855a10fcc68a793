"""Driver-contract smoke: entry() runs with rows>0 and a stable schema;
a representative subset of queries() matches oracle_sql() via DuckDB at
sf0.001 (the full sweep at sf0.01 runs in scripts/check_contract.py)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from scripts.check_contract import TABLES, rows_multiset

SF = "/root/testdata/sf0.001"

SUBSET = [
    "p1_filter_project",
    "d1_two_key_anti_join",
    "a2_skew_twophase_agg",
    "o1_order_parity_key",
    "politeness_budget_gate",
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_fingerprint",
    "corpus_sample_stratified",
    "corpus_profile",
    "mm_wav_header",
    "corpus_split_leakage_safe",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["host", "scheduled", "top_priority"]


def test_every_query_has_callable_and_alias_consistency():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 25
    assert set(oracles) <= set(qs)
    # Every query has a full value oracle, except the documented
    # non-SQL-expressible set (driver contract: weaker rows-only check).
    # dedup_simhash_prod: xxhash64 token hashing — DuckDB cannot replay
    # the hash; its oracle-gated twin is dedup_simhash (same plan
    # shape, arithmetic bit family) and pytest asserts the packed
    # aggregate is bit-identical between the two formulations.
    # text_compression_signal: zlib — DuckDB cannot replay it; pytest
    # referees the values against direct zlib.compress calls.
    NO_ORACLE_OK = {"dedup_simhash_prod", "text_compression_signal"}
    assert set(qs) - set(oracles) == NO_ORACLE_OK


def test_registry_refuses_a_repeated_name():
    """A second registration under a taken name would silently replace
    the first entry and its oracle; the registry raises instead."""
    from crawler_apple_podcast_spark.queries import q, queries

    before = queries()["p1_filter_project"]
    with pytest.raises(ValueError, match="p1_filter_project"):
        q("p1_filter_project", "SELECT 1")
    assert queries()["p1_filter_project"] is before


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    df = entrymod.queries()[name](spark, SF)
    srows = [tuple(r) for r in df.collect()]
    res = duck.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(df.columns) == sorted(dcols)
    assert rows_multiset(df.columns, srows) == rows_multiset(dcols, drows)
