"""Local replica of the driver's correctness gate: run each queries()[name]
on Spark and oracle_sql()[name] on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values (column-name-sorted, like the
driver's value hash). Usage: python tools/check_oracles.py [sf_dir] [names...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from datachain_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if v is None:
        return "\x00__NULL__"  # sortable alongside strings
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def normrow(row):
    return tuple(repr(norm(v)) for v in row)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = oracle_db(sf_dir)
    spark = get_spark(cpus=8, shuffle_partitions=16)
    failures = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        try:
            problems = check(spark, con, sf_dir, name)
        except Exception as e:  # noqa: BLE001
            problems = [f"error {type(e).__name__}: {e}"]
        for p in problems:
            print(f"FAIL {name}: {p}")
        if problems:
            failures += 1
        else:
            print(f"OK   {name}")
    return 1 if failures else 0


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per test table of `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check(spark, con: duckdb.DuckDBPyConnection, sf_dir: str, name: str) -> list[str]:
    """How queries()[name] on Spark differs from oracle_sql()[name] on
    `con` (oracle_db): row count, column names, hash-hazard oracle types
    and order-insensitive values. Empty when they agree; errors raise."""
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        return ["no oracle query"]
    sdf = entrymod.queries()[name](spark, sf_dir)
    scols, srows = sdf.columns, sdf.collect()
    rel = con.sql(sql)
    dcols, dtypes, drows = list(rel.columns), [str(t) for t in rel.types], rel.fetchall()
    problems = []
    # A gate that hashes TYPED values sees duckdb HUGEINT (what sum(int)
    # returns) differ from int64 even when the values are equal — the
    # round-1 sessionize/document_pipeline hash failures. Treat any
    # HUGEINT/DECIMAL oracle column as a failure so it shows here first.
    exotic = [f"{c}:{t}" for c, t in zip(dcols, dtypes) if "HUGEINT" in t or "DECIMAL" in t]
    if exotic:
        problems.append(f"oracle emits hash-hazard types {exotic} — CAST them")
    if sorted(scols) != sorted(dcols):
        problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rows spark={len(srows)} duck={len(drows)}")
    if problems:
        return problems
    order = sorted(scols)
    sidx = [scols.index(c) for c in order]
    didx = [dcols.index(c) for c in order]
    sset = sorted(normrow(tuple(r[i] for i in sidx)) for r in (tuple(x) for x in srows))
    # duckdb timestamps come back tz-naive; spark rows via collect are
    # naive too under UTC session — compare directly
    dset = sorted(normrow(tuple(r[i] for i in didx)) for r in drows)
    bad = next((i for i, (a, b) in enumerate(zip(sset, dset)) if a != b), None)
    if bad is not None:
        problems.append(
            f"value mismatch at sorted-row {bad}:\n  spark: {sset[bad]}\n  duck : {dset[bad]}"
        )
    return problems


if __name__ == "__main__":
    raise SystemExit(main())
