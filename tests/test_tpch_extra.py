"""The 13 TPC-H query shapes completing the 22-shape suite (Q2, Q7-Q12,
Q15-Q17, Q19-Q21), registered in queries_tpch.QUERIES/ORACLES like the
other nine. Each gets an exact value compare vs DuckDB
(``tools/check_correctness.mismatch``, the driver's compare) at the scale
factor where it has a non-degenerate result, plus the plan hygiene the
whole registry gets in tests/test_plans.py (no CartesianProduct;
BroadcastNestedLoopJoin only for deliberate 1-row scalar-threshold
broadcasts).
"""

from __future__ import annotations

import re
from datetime import datetime

import duckdb
import pytest

from log_analysis_system_spark.queries_tpch import ORACLES, QUERIES
from tools.check_correctness import connect, mismatch

COMPLETION = [
    "tpch_discounted_revenue",
    "tpch_dominant_suppliers",
    "tpch_important_parts",
    "tpch_market_share",
    "tpch_min_cost_supplier",
    "tpch_parts_suppliers",
    "tpch_product_profit",
    "tpch_returned_items",
    "tpch_shipping_delays",
    "tpch_small_qty_revenue",
    "tpch_top_supplier",
    "tpch_volume_shipping",
    "tpch_waiting_suppliers",
]

# sf0.001 unless the result degenerates there (important_parts' fractional
# threshold keeps 0 of the ~10-supplier nation's parts at sf0.001)
SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"
SF_OVERRIDE = {
    "tpch_important_parts": SF_MID,
    # the two target nations trade 0 lines in sf0.001's sample window
    "tpch_volume_shipping": SF_MID,
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]

CARTESIAN = re.compile(r"CartesianProduct")
BNLJ = re.compile(r"BroadcastNestedLoopJoin")
# conditionless 1-row scalar-threshold broadcasts (the same allowlisted
# pattern as the registered tpch_no_recent_orders)
BNLJ_ALLOWED = {"tpch_important_parts", "tpch_top_supplier"}


def test_all_22_tpch_shapes_present():
    names = [n for n in QUERIES if n.startswith("tpch_")]
    assert len(names) == 22
    assert set(COMPLETION) <= set(names)
    assert all(n in ORACLES for n in names)


@pytest.mark.parametrize("name", COMPLETION)
def test_extra_tpch_matches_oracle(spark, name):
    sf_dir = SF_OVERRIDE.get(name, SF_SMALL)
    sdf = QUERIES[name](spark, sf_dir)
    rows = sdf.collect()
    bad = mismatch(sdf.columns, rows, connect(sf_dir, TABLES), ORACLES[name])
    assert bad is None, f"{name}: {bad}"
    assert rows, f"{name}: degenerate empty result"


@pytest.mark.parametrize("name", COMPLETION)
def test_extra_tpch_plan_hygiene(spark, name):
    df = QUERIES[name](spark, SF_SMALL)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert not CARTESIAN.search(plan), f"{name}: CartesianProduct in plan"
    if name not in BNLJ_ALLOWED:
        assert not BNLJ.search(plan), (
            f"{name}: unexpected BroadcastNestedLoopJoin — a join lost "
            "its equality predicate or the allowlist is stale"
        )


# ---------------------------------------------------------------------------
# Handcrafted edge datasets for the three decorrelation rewrites, where
# subtle bugs live (ties, duplicates, line-vs-order counting, empty groups).
# Spark operator and DuckDB oracle run on the SAME tiny tables.


def _write_tables(tmp_path, spark, tables: dict):
    d = str(tmp_path)
    for name, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{name}.parquet")
    return d


def _ts(s):
    return datetime.fromisoformat(s)


def test_q21_rewrite_edges(spark, tmp_path):
    """numwait counts LINES not orders; a supplier late twice in one order
    counts twice; an order where TWO suppliers are late yields nobody; a
    single-supplier order yields nobody; non-'F' orders are ignored."""
    from log_analysis_system_spark.queries_tpch import q_tpch_waiting_suppliers

    region = ([(0, "ASIA")], "r_regionkey int, r_name string")
    nation = ([(0, "NATION_0", 0)],
              "n_nationkey int, n_name string, n_regionkey int")
    supplier = (
        [(1, "S1", 0, 0.0), (2, "S2", 0, 0.0), (3, "S3", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    d0 = _ts("1996-01-01")
    late = _ts("1996-06-01")   # > 60 days after d0
    ontime = _ts("1996-01-15")
    orders = (
        [
            (10, 1, "F", 1.0, d0, "5-LOW"),   # S1 late TWICE, S2 on time
            (11, 1, "F", 1.0, d0, "5-LOW"),   # S1 and S2 BOTH late -> nobody
            (12, 1, "F", 1.0, d0, "5-LOW"),   # S1 late, single-supplier -> nobody
            (13, 1, "O", 1.0, d0, "5-LOW"),   # not finalized -> ignored
            (14, 1, "F", 1.0, d0, "5-LOW"),   # S3 late once, S1 on time
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )

    def li(ok, sk, ship):
        return (ok, 1, sk, 1, 1.0, 1.0, 0.0, 0.0, "N", "F", ship)

    lineitem = (
        [
            li(10, 1, late), li(10, 1, late), li(10, 2, ontime),
            li(11, 1, late), li(11, 2, late),
            li(12, 1, late),
            li(13, 1, late), li(13, 2, ontime),
            li(14, 3, late), li(14, 1, ontime),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    # customer/part unused by Q21 but the loader namespace is per-table
    d = _write_tables(tmp_path, spark, {
        "region": region, "nation": nation, "supplier": supplier,
        "orders": orders, "lineitem": lineitem,
    })
    got = {
        (r.s_suppkey, r.s_name, r.numwait)
        for r in q_tpch_waiting_suppliers(spark, d).collect()
    }
    assert got == {(1, "S1", 2), (3, "S3", 1)}

    con = duckdb.connect()
    for t in ["region", "nation", "supplier", "orders", "lineitem"]:
        # Spark writes a parquet DIRECTORY -> DuckDB needs the part glob
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{d}/{t}.parquet/*.parquet')")
    oracle = {
        tuple(r) for r in
        con.execute(ORACLES["tpch_waiting_suppliers"]).fetchall()
    }
    assert oracle == got


def test_q2_min_cost_ties_surface_all(spark, tmp_path):
    """Two suppliers tied at a part's min unit cost must BOTH surface
    (official Q2 semantics); a part with one offer keeps it."""
    from log_analysis_system_spark.queries_tpch import q_tpch_min_cost_supplier

    region = ([(0, "EUROPE")], "r_regionkey int, r_name string")
    nation = ([(0, "NATION_0", 0)],
              "n_nationkey int, n_name string, n_regionkey int")
    supplier = (
        [(1, "S1", 0, 10.0), (2, "S2", 0, 20.0), (3, "S3", 0, 30.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    part = (
        [(100, "p", "Brand#1", "LARGE", 5, 1.0),
         (200, "q", "Brand#1", "LARGE", 5, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    ship = _ts("1996-01-01")

    def li(sk, pk, qty, price):
        return (1, pk, sk, 1, qty, price, 0.0, 0.0, "N", "F", ship)

    lineitem = (
        [
            # part 100: S1 and S2 tie at unit cost 2.0; S3 offers 3.0
            li(1, 100, 2.0, 4.0), li(2, 100, 4.0, 8.0), li(3, 100, 1.0, 3.0),
            # part 200: only S3 (min of its own two lines: 5.0)
            li(3, 200, 1.0, 5.0), li(3, 200, 2.0, 12.0),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    d = _write_tables(tmp_path, spark, {
        "region": region, "nation": nation, "supplier": supplier,
        "part": part, "lineitem": lineitem,
    })
    got = {
        (r.p_partkey, r.s_name, r.supply_cost)
        for r in q_tpch_min_cost_supplier(spark, d).collect()
    }
    assert got == {(100, "S1", 2.0), (100, "S2", 2.0), (200, "S3", 5.0)}


def test_q17_single_line_part_excluded(spark, tmp_path):
    """A part whose only line IS its average can never be 'small' (qty <
    0.2*avg fails); a genuinely small line on a multi-line part counts."""
    from log_analysis_system_spark.queries_tpch import q_tpch_small_qty_revenue

    part = (
        [(1, "p", "Brand#3", "LARGE", 5, 1.0),
         (2, "q", "Brand#3", "LARGE", 5, 1.0),
         (3, "r", "Brand#1", "LARGE", 5, 1.0)],  # other brand: ignored
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    ship = _ts("1996-01-01")

    def li(pk, qty, price):
        return (1, pk, 1, 1, qty, price, 0.0, 0.0, "N", "F", ship)

    lineitem = (
        [
            li(1, 50.0, 999.0),            # single line: avg=50, 50 !< 10
            li(2, 1.0, 70.0),              # small vs avg 33.67 -> kept
            li(2, 50.0, 999.0), li(2, 50.0, 999.0),
            li(3, 0.1, 123.0),             # other brand
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    d = _write_tables(tmp_path, spark, {"part": part, "lineitem": lineitem})
    row = q_tpch_small_qty_revenue(spark, d).collect()[0]
    assert row.n_lines == 1
    assert row.avg_yearly == round(70.0 / 7.0, 2)
