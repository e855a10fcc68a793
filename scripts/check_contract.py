"""Local emulation of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count / column names / order-insensitive values.

Usage: python scripts/check_contract.py [sf_dir] [name ...]
"""

from __future__ import annotations

import gc
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

import __spark_entry__ as entrymod
from crawler_apple_podcast_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _type_class(at) -> str | None:
    """Collapse an Arrow type to the class the driver's hash is sensitive
    to (int vs float is the HUGEINT trap); None = don't compare."""
    import pyarrow.types as pt

    if pt.is_integer(at):
        return "int"
    if pt.is_floating(at) or pt.is_decimal(at):
        return "float"
    if pt.is_string(at) or pt.is_large_string(at):
        return "str"
    return None


def _spark_type_class(dt) -> str | None:
    name = dt.simpleString()
    if name in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if name in ("float", "double") or name.startswith("decimal"):
        return "float"
    if name == "string":
        return "str"
    return None


def normalize(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, list):
        return tuple(normalize(x) for x in v)
    return v


def _null_safe_key(row):
    # NULLs sort first, typed values compare as (repr-class, value)
    return tuple((v is not None, str(type(v)), v) if v is not None else (False, "", 0) for v in row)


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(normalize(r[i]) for i in order) for r in rows), key=_null_safe_key
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            srows = df.collect()
            scols = df.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        finally:
            # Steady-state hygiene across the query loop: drop the
            # session cache, and let the context cleaner drop the local
            # checkpoints the last query no longer references.
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            # Arrow is the driver's materialization path: DuckDB HUGEINT
            # (e.g. sum(BIGINT)) becomes float64 here even though
            # fetchall() yields Python ints — compare type *classes* so
            # the local gate predicts the driver's value-hash verdict.
            atypes = {
                f.name: _type_class(f.type)
                for f in con.execute(oracles[name]).arrow().schema
            }
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
        else:
            stypes = {f.name: _spark_type_class(f.dataType) for f in df.schema.fields}
            tdiff = {
                c: (stypes[c], atypes[c])
                for c in stypes
                if stypes[c] is not None
                and atypes.get(c) is not None
                and stypes[c] != atypes[c]
            }
            if tdiff:
                problems.append(f"type classes differ (spark, oracle-arrow): {tdiff}")
        if not problems:
            sm = rows_multiset(scols, [tuple(r) for r in srows])
            dm = rows_multiset(dcols, drows)
            if sm != dm:
                diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"ok   {name}: {len(srows)} rows match oracle")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
