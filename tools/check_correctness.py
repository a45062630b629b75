"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
the given sf dir, compares row count, column names, and the order-insensitive
multiset of row values (exact equality, floats included — stricter than a
tolerant hash). :func:`connect` and :func:`mismatch` are the one Spark vs
DuckDB comparator; the oracle tests import them.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import datetime

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _key(row, cols_order):
    # None sorts before everything: wrap each value as (is_none, repr-class, v)
    out = []
    for i in cols_order:
        v = _norm(row[i])
        out.append((v is None, str(type(v)), v) if v is not None else (True, "", ""))
    return tuple(out)


def connect(data_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``<data_dir>/<table>.parquet``."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def mismatch(columns: list[str], rows: list, con, sql: str) -> str | None:
    """Compare a Spark result (``df.columns``, ``df.collect()``) with the
    oracle ``sql`` on ``con`` by column names and the order-insensitive
    multiset of normalized row values; ``None`` if they agree, else what
    differs. The oracle is fetched through Arrow, not ``fetchall()``, to
    keep the driver's typing: DuckDB HUGEINT sums surface as
    decimal128(38,0) in Arrow while ``fetchall()`` converts them to int."""
    try:
        atbl = con.execute(sql).fetch_arrow_table()
    except Exception as e:  # noqa: BLE001
        return f"duckdb error: {e}"
    dcols_raw = list(atbl.column_names)
    drows = [tuple(d[c] for c in dcols_raw) for d in atbl.to_pylist()]
    scols, dcols = sorted(columns), sorted(dcols_raw)
    if scols != dcols:
        return f"columns {scols} vs {dcols}"
    if len(rows) != len(drows):
        return f"rowcount spark={len(rows)} duck={len(drows)}"
    smulti = sorted(_key(tuple(r), [columns.index(c) for c in scols]) for r in rows)
    dmulti = sorted(_key(r, [dcols_raw.index(c) for c in dcols]) for r in drows)
    bad = [(a, b) for a, b in zip(smulti, dmulti) if a != b]
    if bad:
        return (f"value mismatch ({len(bad)}/{len(smulti)} rows); "
                f"first spark={bad[0][0]} duck={bad[0][1]}")
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from log_analysis_system_spark.session import get_spark

    spark = get_spark()
    con = connect(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            columns, rows = sdf.columns, sdf.collect()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows-only ({len(rows)} rows)")
            continue
        bad = mismatch(columns, rows, con, oracles[name])
        if bad:
            print(f"FAIL  {name}: {bad}")
            failures.append(name)
            continue
        print(f"ok    {name}: {len(rows)} rows")

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
