"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
the given sf dir, compares row count, column names, and the order-insensitive
multiset of row values (exact equality, floats included — stricter than a
tolerant hash).

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


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from log_analysis_system_spark.session import get_spark

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            # Arrow materialization (not fetchall) to mirror the driver's
            # typing: DuckDB HUGEINT sums surface as decimal128(38,0) in
            # Arrow while fetchall() silently converts them to Python int —
            # the round-1 hash-fail class this gate must catch locally.
            atbl = con.execute(oracles[name]).fetch_arrow_table()
            dcols_raw = list(atbl.column_names)
            dpy = atbl.to_pylist()
            drows = [tuple(d[c] for c in dcols_raw) for d in dpy]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        dcols = sorted(dcols_raw)
        if scols != dcols:
            print(f"FAIL  {name}: columns {scols} vs {dcols}")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(drows)}")
            failures.append(name)
            continue
        s_order = [sdf.columns.index(c) for c in scols]
        d_order = [dcols_raw.index(c) for c in dcols]
        smulti = sorted(_key(tuple(r), s_order) for r in srows)
        dmulti = sorted(_key(tuple(r), d_order) for r in drows)
        if smulti != dmulti:
            n_bad = sum(1 for a, b in zip(smulti, dmulti) if a != b)
            print(f"FAIL  {name}: value mismatch ({n_bad}/{len(smulti)} rows)")
            for a, b in zip(smulti, dmulti):
                if a != b:
                    print("   spark:", a)
                    print("   duck :", b)
                    break
            failures.append(name)
            continue
        print(f"ok    {name}: {len(srows)} rows")

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
