"""Classic warehouse-analytics queries over the TPC-H-ish tables, with
paired DuckDB oracle SQL — the multi-table star-join breadth check.

Shapes (not copies — column subset differs from official TPC-H); later in
the module: Q5 (6-table join chain), Q6 (pure pushdown reduction), Q18
(aggregate-driven semi-join), Q14 (conditional-aggregation join), Q4
(correlated-EXISTS semi-join):

- ``pricing_summary`` (Q1 shape): the canonical scan-heavy grouped
  aggregate; all sums decimal-cast so partition order can't flip the
  value hash.
- ``shipping_priority`` (Q3 shape): selective dim filter -> 3-way join ->
  grouped revenue -> top-10. The customer side is small and broadcasts;
  the orders<->lineitem join shuffles on orderkey (AQE picks the
  strategy at scale). Rank ties break on orderkey for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

Q1_CUTOFF = "2001-09-01"
Q3_SEGMENT = "BUILDING"
Q3_ORDER_BEFORE = "1999-03-15"
Q3_SHIP_AFTER = "1998-03-15"
Q3_TOP_N = 10

_DEC = "decimal(28,10)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df.repartition(spark.sparkContext.defaultParallelism)


def pricing_summary(lineitem: DataFrame, cutoff: str = Q1_CUTOFF) -> DataFrame:
    """Q1 shape: single-pass grouped aggregate over the fact scan —
    partial-agg map-side; the shuffle carries |flag x status| rows."""
    # per-row products in DOUBLE (bit-identical across engines: IEEE ops
    # on identical inputs), THEN decimal-cast so the cross-partition SUM
    # is order-free — casting before multiplying would hit Spark's and
    # DuckDB's different decimal-product scale promotions
    disc_price = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast(_DEC)
    charge = (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    ).cast(_DEC)
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit(cutoff))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast(_DEC)).cast("double"), 6).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            F.round(
                F.sum(F.col("l_quantity").cast(_DEC)).cast("double") / F.count("*"), 6
            ).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_discount").cast(_DEC)).cast("double") / F.count("*"), 6
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = Q3_SEGMENT,
    top_n: int = Q3_TOP_N,
) -> DataFrame:
    """Q3 shape: filter the small dim FIRST, broadcast it into orders,
    shuffle-join lineitem on orderkey, aggregate revenue, rank top-n
    (WindowGroupLimit pushes the limit below the final sort)."""
    cust = customer.where(F.col("c_mktsegment") == segment).select("c_custkey")
    ords = orders.where(F.col("o_orderdate") < F.lit(Q3_ORDER_BEFORE)).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    items = lineitem.where(F.col("l_shipdate") > F.lit(Q3_SHIP_AFTER)).select(
        "l_orderkey",
        # double product per row, decimal for the order-free sum (see Q1)
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).cast(_DEC).alias("rev"),
    )
    joined = (
        ords.join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .join(items, ords.o_orderkey == items.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum("rev").cast("double"), 6).alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("o_orderkey", "o_orderdate", "o_orderpriority", "revenue",
                F.col("rank").cast("int").alias("rank"))
        .orderBy("rank")
    )


def q_tpch_pricing_summary(spark, sf_dir):
    return pricing_summary(_t(spark, sf_dir, "lineitem"))


def q_tpch_shipping_priority(spark, sf_dir):
    return shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


QUERIES = {
    "tpch_pricing_summary": q_tpch_pricing_summary,
    "tpch_shipping_priority": q_tpch_shipping_priority,
}

ORACLES = {
    "tpch_pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE), 6) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(28,10))) AS DOUBLE), 2) AS sum_disc_price,
       round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                           AS DECIMAL(28,10))) AS DOUBLE), 2) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    "tpch_shipping_priority": f"""
WITH agg AS (
  SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
         round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                             AS DECIMAL(28,10))) AS DOUBLE), 6)
           AS revenue
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = '{Q3_SEGMENT}'
    AND o.o_orderdate < TIMESTAMP '{Q3_ORDER_BEFORE} 00:00:00'
    AND l.l_shipdate > TIMESTAMP '{Q3_SHIP_AFTER} 00:00:00'
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rank
  FROM agg
)
SELECT o_orderkey, o_orderdate, o_orderpriority, revenue, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {Q3_TOP_N}
ORDER BY rank
""",
}


Q5_REGION = "ASIA"
Q5_DATE_FROM = "1996-01-01"
Q5_DATE_TO = "1997-01-01"


def local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = Q5_REGION,
) -> DataFrame:
    """Q5 shape: 6-table join — the join-breadth/ordering check. Revenue
    per nation where the customer's and the line's supplier's nation agree,
    region-filtered, one order-date year.

    Join strategy at scale: region->nation is a 2-step tiny-dim reduction
    (broadcast), the reduced nation key list broadcasts into customer and
    supplier, orders<->lineitem is the one real shuffle join (orderkey),
    and the supplier match adds the s_nationkey == c_nationkey residual on
    a broadcast supplier side. Revenue follows the Q1/Q3 decimal
    discipline (double product per row, decimal order-free sum).
    """
    nat = nation.join(
        F.broadcast(region.where(F.col("r_name") == region_name)),
        nation.n_regionkey == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    cust = customer.join(
        F.broadcast(nat), customer.c_nationkey == nat.n_nationkey
    ).select("c_custkey", "c_nationkey", "n_name")
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(Q5_DATE_FROM))
        & (F.col("o_orderdate") < F.lit(Q5_DATE_TO))
    ).select("o_orderkey", "o_custkey")
    items = lineitem.select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).cast(_DEC).alias("rev"),
    )
    supp = supplier.select("s_suppkey", "s_nationkey")
    joined = (
        ords.join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .join(items, ords.o_orderkey == items.l_orderkey)
        .join(
            F.broadcast(supp),
            (items.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(F.sum("rev").cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def q_tpch_local_supplier_volume(spark, sf_dir):
    return local_supplier_volume(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


QUERIES["tpch_local_supplier_volume"] = q_tpch_local_supplier_volume

ORACLES["tpch_local_supplier_volume"] = f"""
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON n_nationkey = c_nationkey
JOIN region   ON r_regionkey = n_regionkey
WHERE r_name = '{Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{Q5_DATE_FROM} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{Q5_DATE_TO} 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


Q6_DATE_FROM = "1996-01-01"
Q6_DATE_TO = "1997-01-01"
Q6_DISCOUNT_LO = 0.02
Q6_DISCOUNT_HI = 0.04
Q6_MAX_QTY = 25


def forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """Q6 shape: the pure predicate-pushdown check — a one-year shipdate
    range, a discount band, and a quantity cap, all of which must reach the
    parquet scan as PushedFilters (asserted in test_plans), followed by a
    single partial-aggregating reduction to one row. No join, no wide
    shuffle: the exchange carries one partial row per partition. Revenue
    follows the Q1/Q3 decimal discipline (per-row DOUBLE product, DECIMAL
    order-free sum, DOUBLE round at money scale).
    """
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC)
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(Q6_DATE_FROM))
            & (F.col("l_shipdate") < F.lit(Q6_DATE_TO))
            & (F.col("l_discount") >= Q6_DISCOUNT_LO)
            & (F.col("l_discount") <= Q6_DISCOUNT_HI)
            & (F.col("l_quantity") < Q6_MAX_QTY)
        )
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_forecast_revenue(spark, sf_dir):
    return forecast_revenue(_t(spark, sf_dir, "lineitem"))


QUERIES["tpch_forecast_revenue"] = q_tpch_forecast_revenue

ORACLES["tpch_forecast_revenue"] = f"""
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                           AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_DATE_FROM} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q6_DATE_TO} 00:00:00'
  AND l_discount BETWEEN {Q6_DISCOUNT_LO} AND {Q6_DISCOUNT_HI}
  AND l_quantity < {Q6_MAX_QTY}
"""


Q18_MIN_QTY = 250
Q18_TOP_N = 100


def large_volume_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: int = Q18_MIN_QTY,
    top_n: int = Q18_TOP_N,
) -> DataFrame:
    """Q18 shape: AGGREGATE-DRIVEN semi-join — the HAVING predicate on the
    fact aggregate produces a small orderkey set that then drives the
    orders/customer joins, the reverse of Q3's dim-filter-first flow.

    Scale path: the quantity rollup partial-aggregates map-side on
    orderkey (bounded state per key), the filtered key set is orders of
    magnitude smaller than lineitem, and AQE broadcast-converts the
    orders<->big join when the survivor set is small; the customer join
    keys on custkey. Sum-of-quantities follows the decimal discipline;
    the top-n ranks (o_totalprice DESC, o_orderkey) via WindowGroupLimit.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("qty_dec"))
        .where(F.col("qty_dec") > min_qty)
        .select(
            "l_orderkey",
            F.round(F.col("qty_dec").cast("double"), 6).alias("sum_qty"),
        )
    )
    joined = (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
            "sum_qty",
        )
    )
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_n)
        .orderBy("rank")
    )


def q_tpch_large_volume_customers(spark, sf_dir):
    return large_volume_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


QUERIES["tpch_large_volume_customers"] = q_tpch_large_volume_customers

ORACLES["tpch_large_volume_customers"] = f"""
WITH big AS (
  SELECT l_orderkey,
         sum(CAST(l_quantity AS DECIMAL(28,10))) AS qty_dec
  FROM lineitem GROUP BY l_orderkey
  HAVING qty_dec > {Q18_MIN_QTY}
),
joined AS (
  SELECT c_name, c_custkey, o_orderkey, o_orderdate,
         round(o_totalprice, 2) AS o_totalprice,
         round(CAST(qty_dec AS DOUBLE), 6) AS sum_qty
  FROM orders
  JOIN big ON o_orderkey = l_orderkey
  JOIN customer ON o_custkey = c_custkey
)
SELECT * FROM (
  SELECT *, CAST(row_number() OVER (
      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
  FROM joined
) WHERE rank <= {Q18_TOP_N}
ORDER BY rank
"""


Q14_DATE_FROM = "1996-09-01"
Q14_DATE_TO = "1996-10-01"


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Q14 shape: CONDITIONAL aggregation over a fact<->dim join — one
    month of lineitem joined to part on partkey, emitting the promo share
    of revenue (numerator = CASE on the dim attribute) in a single pass.

    Scale path: the month filter pushes to the fact scan; the join keys on
    partkey (AQE broadcast-converts when the part side fits, shuffle
    otherwise — at TPC-H scale part is too big to broadcast, so no hint is
    hard-coded); numerator and denominator partial-aggregate together in
    one reduction. Decimal discipline as Q1/Q3; the final ratio is
    double/double with both engines evaluating (100.0 * num) / den.
    """
    items = lineitem.where(
        (F.col("l_shipdate") >= F.lit(Q14_DATE_FROM))
        & (F.col("l_shipdate") < F.lit(Q14_DATE_TO))
    ).select(
        "l_partkey",
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).cast(_DEC).alias("rev"),
    )
    joined = items.join(
        part.select("p_partkey", "p_type"),
        items.l_partkey == F.col("p_partkey"),
    )
    promo = F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(
        F.lit(0).cast(_DEC)
    )
    return joined.agg(
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double")
            / F.sum("rev").cast("double"),
            6,
        ).alias("promo_pct"),
        F.count("*").alias("n_items"),
    )


def q_tpch_promo_revenue(spark, sf_dir):
    return promo_revenue_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


QUERIES["tpch_promo_revenue"] = q_tpch_promo_revenue


Q4_DATE_FROM = "1996-01-01"
Q4_DATE_TO = "1996-04-01"
Q4_SLOW_SHIP_DAYS = 75


def order_priority_counts(
    orders: DataFrame,
    lineitem: DataFrame,
    slow_days: int = Q4_SLOW_SHIP_DAYS,
) -> DataFrame:
    """Q4 shape: correlated-EXISTS semi-join — count one quarter's orders
    per priority that have at least one slow-shipped line (reference Q4's
    ``l_commitdate < l_receiptdate`` adapted to this schema's columns:
    ``l_shipdate > o_orderdate + slow_days``).

    Scale path: the quarter filter pushes to the orders scan first, so the
    semi-join probes with the reduced order set; LEFT SEMI stops at the
    first matching line per order (no fact-side aggregation state at all,
    unlike Q18's rollup-then-filter), and the correlated date predicate
    rides the orderkey equi-join as a residual condition. The final
    priority rollup is a <=5-cell partial agg.
    """
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(Q4_DATE_FROM))
        & (F.col("o_orderdate") < F.lit(Q4_DATE_TO))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    items = lineitem.select("l_orderkey", "l_shipdate")
    slow = ords.join(
        items,
        (ords.o_orderkey == items.l_orderkey)
        & (
            items.l_shipdate
            > ords.o_orderdate + F.expr(f"INTERVAL {slow_days} DAYS")
        ),
        "left_semi",
    )
    return (
        slow.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_order_priority(spark, sf_dir):
    return order_priority_counts(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


QUERIES["tpch_order_priority"] = q_tpch_order_priority

ORACLES["tpch_order_priority"] = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '{Q4_DATE_FROM} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{Q4_DATE_TO} 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL {Q4_SLOW_SHIP_DAYS} DAYS)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["tpch_promo_revenue"] = f"""
SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1.0 - l_discount)
                              AS DECIMAL(28,10))
                    ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(28,10))) AS DOUBLE), 6) AS promo_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{Q14_DATE_FROM} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q14_DATE_TO} 00:00:00'
"""


Q22_CUTOFF = "1999-01-01"


def no_recent_order_customers(
    customer: DataFrame, orders: DataFrame, cutoff: str = Q22_CUTOFF
) -> DataFrame:
    """Q22 shape: scalar-subquery threshold + LEFT ANTI join — the one
    join polarity the other TPC-H shapes don't cover. Above-average-balance
    customers with NO order since ``cutoff``, rolled up per nation
    (official Q22's country-code prefix adapted to this schema's
    c_nationkey; "no orders at all" adapted to "no recent order" because
    the synthetic data gives every customer at least one order).

    Scale path: the positive-balance average is a 1-row broadcast (the
    allowlisted conditionless-join pattern); the anti join keys on custkey
    with the date filter pushed to the orders scan BEFORE the join, so the
    probe side is the reduced recent-order key set; the final rollup is a
    |nations|-cell partial agg. The average follows the decimal discipline:
    exact DECIMAL sum, ONE double division — both engines then compare
    c_acctbal against the bit-identical threshold.
    """
    pos = customer.where(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double") / F.count("*")
        ).alias("a")
    )
    recent = orders.where(F.col("o_orderdate") >= F.lit(cutoff)).select(
        "o_custkey"
    )
    cand = customer.join(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("a")
    )
    silent = cand.join(
        recent, cand.c_custkey == recent.o_custkey, "left_anti"
    )
    return (
        silent.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast(_DEC)).cast("double"), 2
            ).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def q_tpch_no_recent_orders(spark, sf_dir):
    return no_recent_order_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
    )


QUERIES["tpch_no_recent_orders"] = q_tpch_no_recent_orders

ORACLES["tpch_no_recent_orders"] = f"""
WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, count(*) AS numcust,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE), 2)
         AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


Q13_EXCLUDE_PRIORITY = "1-URGENT"


def customer_order_distribution(
    customer: DataFrame, orders: DataFrame, exclude_priority: str = Q13_EXCLUDE_PRIORITY
) -> DataFrame:
    """Q13 shape: LEFT OUTER join + two-level aggregation — the
    distribution of per-customer order counts INCLUDING zero-order
    customers, the one aggregation topology (outer join feeding a
    second groupBy) the other TPC-H shapes don't cover. Official Q13's
    ``o_comment NOT LIKE '%special%requests%'`` filter is adapted to
    this schema as an o_orderpriority exclusion — same selectivity role,
    same plan shape.

    Scale path: orders are aggregated to (custkey, cnt) FIRST, so the
    outer join's right side carries |distinct custkeys| rows, not
    |orders| — the partial agg runs map-side before its shuffle and the
    join shuffles two custkey-sized sides instead of the fact table.
    The second groupBy is over |distinct counts| cells (tiny, bounded by
    max orders per customer). Counting on a non-null right-side column
    after the outer join is what turns "no orders" into c_count = 0
    without a correlated subquery.
    """
    per_cust = (
        orders.where(F.col("o_orderpriority") != exclude_priority)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    counted = (
        customer.select("c_custkey")
        .join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
    )
    return (
        counted.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_customer_distribution(spark, sf_dir):
    return customer_order_distribution(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
    )


QUERIES["tpch_customer_distribution"] = q_tpch_customer_distribution

ORACLES["tpch_customer_distribution"] = f"""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '{Q13_EXCLUDE_PRIORITY}'
  GROUP BY c.c_custkey
) counts
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# The 13 remaining TPC-H shapes (Q2, Q7-Q12, Q15-Q17, Q19-Q21).
#
# Schema adaptations (this repo's TPC-H-ish testdata has no partsupp
# table and no shipmode/commitdate/receiptdate/container/phone columns;
# each adaptation preserves the official query's plan topology and is
# noted per query):
#   - supplier<->part relationships ride the lineitem bridge (Q2/Q11/
#     Q16/Q20),
#   - "late" is l_shipdate > o_orderdate + N days (Q12/Q21, same
#     adaptation the Q4 shape uses),
#   - cost proxies derive from observed lineitem unit prices or
#     p_retailprice (Q2/Q9).

Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"
Q7_FROM = "1996-01-01"
Q7_TO = "1998-01-01"


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = Q7_NATION_A,
    nation_b: str = Q7_NATION_B,
) -> DataFrame:
    """Q7 shape: bilateral trade volume — revenue shipped between two
    nations per (supplier nation, customer nation, ship year), both
    directions, over a two-year ship window.

    Scale path: both nation dims filter to the two target nations BEFORE
    joining (supplier and customer sides shrink ~2/25 each and broadcast);
    lineitem<->orders is the one real shuffle (orderkey); the
    either-direction pair predicate runs as a residual on broadcast
    columns. Year extraction is INT-cast on both engines. Revenue follows
    the Q1/Q3 decimal discipline.
    """
    nat = nation.where(F.col("n_name").isin(nation_a, nation_b))
    supp = (
        supplier.join(
            F.broadcast(nat.select("n_nationkey",
                                   F.col("n_name").alias("supp_nation"))),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "supp_nation")
    )
    cust = (
        customer.join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("nk2"),
                                   F.col("n_name").alias("cust_nation"))),
            customer.c_nationkey == F.col("nk2"),
        ).select("c_custkey", "cust_nation")
    )
    items = lineitem.where(
        (F.col("l_shipdate") >= F.lit(Q7_FROM))
        & (F.col("l_shipdate") < F.lit(Q7_TO))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("int").alias("l_year"),
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).cast(_DEC).alias("rev"),
    )
    j = (
        items.join(F.broadcast(supp), items.l_suppkey == supp.s_suppkey)
        .join(orders.select("o_orderkey", "o_custkey"),
              items.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .where(
            ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("rev").cast("double"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_volume_shipping(spark, sf_dir):
    return volume_shipping(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


QUERIES["tpch_volume_shipping"] = q_tpch_volume_shipping
ORACLES["tpch_volume_shipping"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
    OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
  AND l_shipdate >= TIMESTAMP '{Q7_FROM} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q7_TO} 00:00:00'
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


Q8_REGION = "AMERICA"
Q8_TYPE = "STANDARD"
Q8_NATION = "NATION_3"
Q8_FROM = "1996-01-01"
Q8_TO = "1998-01-01"


def national_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Q8 shape: national market share — the fraction of one region's
    revenue for one part type supplied by one nation, per order year. The
    conditional-share-of-aggregate topology (CASE numerator and total in
    ONE reduction) on top of a 6-table join.

    Scale path: part filters to one type and broadcasts into lineitem
    (the biggest early reduction); supplier->nation tags each line with
    its supp nation (broadcast); orders carry the 2-year window before
    their shuffle join; customer->nation->region reduces to a regional
    custkey set (broadcast). One groupBy(o_year) carries two partial sums.
    """
    parts = part.where(F.col("p_type") == Q8_TYPE).select("p_partkey")
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey",
                                  F.col("n_name").alias("supp_nation"))),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    regional_cust = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.where(F.col("r_name") == Q8_REGION)),
                    nation.n_regionkey == F.col("r_regionkey"),
                ).select(F.col("n_nationkey").alias("nk2"))
            ),
            customer.c_nationkey == F.col("nk2"),
        ).select("c_custkey")
    )
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(Q8_FROM))
        & (F.col("o_orderdate") < F.lit(Q8_TO))
    ).select("o_orderkey", "o_custkey",
             F.year("o_orderdate").cast("int").alias("o_year"))
    items = lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey",
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).cast(_DEC).alias("rev"),
    )
    j = (
        items.join(F.broadcast(parts), items.l_partkey == parts.p_partkey)
        .join(F.broadcast(supp), items.l_suppkey == supp.s_suppkey)
        .join(ords, items.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(regional_cust),
              ords.o_custkey == regional_cust.c_custkey)
    )
    nat_rev = F.when(F.col("supp_nation") == Q8_NATION, F.col("rev")).otherwise(
        F.lit(0).cast(_DEC)
    )
    return (
        j.groupBy("o_year")
        .agg(
            F.round(
                F.sum(nat_rev).cast("double") / F.sum("rev").cast("double"), 6
            ).alias("mkt_share"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_year")
    )


def q_tpch_market_share(spark, sf_dir):
    return national_market_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "part"),
    )


QUERIES["tpch_market_share"] = q_tpch_market_share
ORACLES["tpch_market_share"] = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(
         CAST(sum(CASE WHEN n1.n_name = '{Q8_NATION}'
                       THEN CAST(l_extendedprice * (1.0 - l_discount)
                                 AS DECIMAL(28,10))
                       ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(28,10))) AS DOUBLE), 6) AS mkt_share,
       count(*) AS n_items
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region   ON r_regionkey = n2.n_regionkey
WHERE p_type = '{Q8_TYPE}'
  AND r_name = '{Q8_REGION}'
  AND o_orderdate >= TIMESTAMP '{Q8_FROM} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{Q8_TO} 00:00:00'
GROUP BY 1
ORDER BY 1
"""


Q9_NAME_FRAGMENT = "gear"
Q9_COST_FACTOR = 0.5


def product_type_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    fragment: str = Q9_NAME_FRAGMENT,
) -> DataFrame:
    """Q9 shape: product-type profit per (supplier nation, order year) for
    parts whose name contains a fragment. The official per-line profit
    ``rev - ps_supplycost * l_quantity`` is adapted (no partsupp table) to
    ``rev - 0.5 * p_retailprice * l_quantity`` — a deterministic
    dim-derived cost proxy with the identical plan topology (the cost
    column arrives via the part-side broadcast join exactly as
    ps_supplycost would).

    Scale path: the name-fragment filter reduces part ~|fragment|/|nouns|
    and broadcasts with its retail price; supplier->nation broadcast-tags
    lines; lineitem<->orders shuffles on orderkey for the year; one
    (nation, year) groupBy. Per-line amount is an IEEE double chain,
    decimal-cast for the order-free sum (Q1/Q3 discipline).
    """
    parts = part.where(F.col("p_name").contains(fragment)).select(
        "p_partkey", "p_retailprice"
    )
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    ords = orders.select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    items = lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    j = (
        items.join(F.broadcast(parts), items.l_partkey == parts.p_partkey)
        .join(F.broadcast(supp), items.l_suppkey == supp.s_suppkey)
        .join(ords, items.l_orderkey == ords.o_orderkey)
    )
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(Q9_COST_FACTOR) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(_DEC)
    return (
        j.groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(F.round(F.sum(amount).cast("double"), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_tpch_product_profit(spark, sf_dir):
    return product_type_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "part"),
    )


QUERIES["tpch_product_profit"] = q_tpch_product_profit
ORACLES["tpch_product_profit"] = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                           - {Q9_COST_FACTOR} * p_retailprice * l_quantity
                           AS DECIMAL(28,10))) AS DOUBLE), 2) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_name LIKE '%{Q9_NAME_FRAGMENT}%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


Q10_FROM = "1996-04-01"
Q10_TO = "1996-07-01"
Q10_TOP_N = 20


def returned_item_reporting(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    top_n: int = Q10_TOP_N,
) -> DataFrame:
    """Q10 shape: top customers by revenue lost to returns — one quarter
    of orders, only ``l_returnflag = 'R'`` lines, customer rollup with
    nation name, top-n by revenue.

    Scale path: the quarter filter pushes to the orders scan and the
    return flag to the lineitem scan BEFORE their orderkey shuffle join;
    the customer rollup keys on custkey (map-side partial agg carries the
    dim attributes); nation broadcasts. The top-n ranks through
    row_number (WindowGroupLimit), ties broken by custkey.
    """
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(Q10_FROM))
        & (F.col("o_orderdate") < F.lit(Q10_TO))
    ).select("o_orderkey", "o_custkey")
    items = lineitem.where(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).cast(_DEC).alias("rev"),
    )
    cust = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        customer.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    agg = (
        ords.join(items, ords.o_orderkey == items.l_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum("rev").cast("double"), 2).alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_n)
        .select("c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("c_acctbal"),
                "n_name", "revenue", "rank")
        .orderBy("rank")
    )


def q_tpch_returned_items(spark, sf_dir):
    return returned_item_reporting(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


QUERIES["tpch_returned_items"] = q_tpch_returned_items
ORACLES["tpch_returned_items"] = f"""
WITH agg AS (
  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name,
         round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue
  FROM orders
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation   ON n_nationkey = c_nationkey
  WHERE o_orderdate >= TIMESTAMP '{Q10_FROM} 00:00:00'
    AND o_orderdate <  TIMESTAMP '{Q10_TO} 00:00:00'
    AND l_returnflag = 'R'
  GROUP BY 1, 2, 3, 4
)
SELECT c_custkey, c_name, c_acctbal, n_name, revenue, rank FROM (
  SELECT *, CAST(row_number() OVER (
      ORDER BY revenue DESC, c_custkey) AS INT) AS rank
  FROM agg
) WHERE rank <= {Q10_TOP_N}
ORDER BY rank
"""


Q11_NATION = "NATION_5"
Q11_FRACTION = 0.001


def important_part_values(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    fraction: float = Q11_FRACTION,
) -> DataFrame:
    """Q11 shape: important-stock identification — per-part value held by
    one nation's suppliers, keeping parts whose value exceeds a FRACTION
    of the nation's total (the scalar-subquery-threshold-over-a-grouped-
    aggregate topology). The official ``ps_supplycost * ps_availqty``
    value is adapted (no partsupp) to the observed shipped value
    ``l_extendedprice`` summed over the nation's lines per part.

    Scale path: the nation's supplier keys broadcast into the fact scan;
    ONE shuffle produces the per-part values, whose re-aggregation to the
    grand total is a second tiny reduction over |parts| rows (not a
    rescan); the threshold joins back as a 1-row broadcast (the
    allowlisted conditionless-join pattern). Exact decimal compare on
    both sides — the fraction multiplies the exact total as ONE double
    product per engine.
    """
    supp = (
        supplier.join(
            F.broadcast(nation.where(F.col("n_name") == Q11_NATION)),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    per_part = (
        lineitem.join(F.broadcast(supp),
                      lineitem.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("val_dec"))
    )
    total = per_part.agg(
        (F.sum("val_dec").cast("double") * F.lit(fraction)).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("val_dec").cast("double") > F.col("threshold"))
        .select(
            "l_partkey",
            F.round(F.col("val_dec").cast("double"), 2).alias("value"),
        )
        .orderBy(F.desc("value"), "l_partkey")
    )


def q_tpch_important_parts(spark, sf_dir):
    return important_part_values(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


QUERIES["tpch_important_parts"] = q_tpch_important_parts
ORACLES["tpch_important_parts"] = f"""
WITH per_part AS (
  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS val_dec
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = '{Q11_NATION}'
  GROUP BY 1
),
total AS (
  SELECT CAST(sum(val_dec) AS DOUBLE) * {Q11_FRACTION} AS threshold
  FROM per_part
)
SELECT l_partkey, round(CAST(val_dec AS DOUBLE), 2) AS value
FROM per_part, total
WHERE CAST(val_dec AS DOUBLE) > threshold
ORDER BY value DESC, l_partkey
"""


Q12_YEAR_FROM = "1996-01-01"
Q12_YEAR_TO = "1997-01-01"
Q12_SLOW_DAYS = 30
Q12_VERY_SLOW_DAYS = 60


def shipping_delay_modes(
    lineitem: DataFrame,
    orders: DataFrame,
) -> DataFrame:
    """Q12 shape: shipping-mode priority profile — for each of two
    "modes", count the year's lines on high-priority vs other-priority
    orders (the CASE-count-by-category-pair topology). The official
    ``l_shipmode IN ('MAIL','SHIP')`` group key is adapted (no shipmode
    column) to two ship-delay buckets: 30-60 days and 60+ days after the
    order date — the same two-bucket IN-filter selectivity role.

    Scale path: the year filter pushes to the orders scan; the orderkey
    join shuffles the reduced order side against lineitem; the bucket
    expression and both CASE counts fold into one 2-cell partial agg.
    """
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(Q12_YEAR_FROM))
        & (F.col("o_orderdate") < F.lit(Q12_YEAR_TO))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    j = lineitem.select("l_orderkey", "l_shipdate").join(
        ords, F.col("l_orderkey") == ords.o_orderkey
    )
    delay_bucket = (
        F.when(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_VERY_SLOW_DAYS} DAYS"),
            F.lit("60+ days"),
        )
        .when(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_SLOW_DAYS} DAYS"),
            F.lit("30-60 days"),
        )
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.select(delay_bucket.alias("delay_bucket"), high.alias("high"))
        .where(F.col("delay_bucket").isNotNull())
        .groupBy("delay_bucket")
        .agg(
            F.count(F.when(F.col("high"), 1)).alias("high_line_count"),
            F.count(F.when(~F.col("high"), 1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


def q_tpch_shipping_delays(spark, sf_dir):
    return shipping_delay_modes(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
    )


QUERIES["tpch_shipping_delays"] = q_tpch_shipping_delays
ORACLES["tpch_shipping_delays"] = f"""
SELECT CASE WHEN l_shipdate >= o_orderdate + INTERVAL {Q12_VERY_SLOW_DAYS} DAYS
            THEN '60+ days'
            ELSE '30-60 days' END AS delay_bucket,
       count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
         AS high_line_count,
       count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
         AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '{Q12_YEAR_FROM} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{Q12_YEAR_TO} 00:00:00'
  AND l_shipdate >= o_orderdate + INTERVAL {Q12_SLOW_DAYS} DAYS
GROUP BY 1
ORDER BY 1
"""


Q15_FROM = "1996-01-01"
Q15_TO = "1996-04-01"


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """Q15 shape: top supplier — quarterly revenue per supplier, keep the
    supplier(s) whose revenue EQUALS the maximum (the view + scalar-
    max-subquery topology; ties all surface, exactly as official Q15).

    Scale path: one quarter-filtered scan -> suppkey groupBy (the only
    wide shuffle); the max reduces the tiny per-supplier frame and joins
    back as a 1-row broadcast; the equality compares the same
    decimal-sum-cast-double on both sides of both engines (bit-identical
    by construction). Supplier names arrive via broadcast AFTER the
    filter — only winners touch the dim.
    """
    rev = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(Q15_FROM))
            & (F.col("l_shipdate") < F.lit(Q15_TO))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ).cast(_DEC)
            ).alias("rev_dec")
        )
    )
    best = rev.agg(F.max("rev_dec").alias("best_dec"))
    return (
        rev.join(F.broadcast(best))
        .where(F.col("rev_dec") == F.col("best_dec"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            rev.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("rev_dec").cast("double"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_top_supplier(spark, sf_dir):
    return top_supplier(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
    )


QUERIES["tpch_top_supplier"] = q_tpch_top_supplier
ORACLES["tpch_top_supplier"] = f"""
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(28,10))) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_FROM} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{Q15_TO} 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, round(CAST(rev_dec AS DOUBLE), 2) AS total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
ORDER BY s_suppkey
"""


Q16_EXCL_BRAND = "Brand#5"
Q16_EXCL_TYPE = "PROMO"
Q16_SIZES = (1, 9, 17, 25, 33, 41, 49)


def parts_supplier_relationship(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """Q16 shape: parts/supplier relationship — distinct supplier count
    per (brand, type, size) for a size IN-list, excluding one brand, one
    type, and a supplier blacklist via NOT-IN subquery. Adaptations: the
    part<->supplier relationship rides the lineitem bridge (no partsupp),
    and the official complaint-comment blacklist becomes the
    negative-balance suppliers (same NOT-IN-subquery topology).

    Scale path: the part filter broadcasts into the fact scan; the
    blacklist is a broadcast LEFT ANTI join (how Catalyst plans NOT IN on
    a not-null key column); (part-attrs, suppkey) pairs deduplicate
    map-side before the count-distinct shuffle.
    """
    parts = part.where(
        (F.col("p_brand") != Q16_EXCL_BRAND)
        & (F.col("p_type") != Q16_EXCL_TYPE)
        & (F.col("p_size").isin(*Q16_SIZES))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    blacklist = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(parts), F.col("l_partkey") == parts.p_partkey)
        .join(F.broadcast(blacklist),
              F.col("l_suppkey") == blacklist.s_suppkey, "left_anti")
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_tpch_parts_suppliers(spark, sf_dir):
    return parts_supplier_relationship(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


QUERIES["tpch_parts_suppliers"] = q_tpch_parts_suppliers
ORACLES["tpch_parts_suppliers"] = f"""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> '{Q16_EXCL_BRAND}'
  AND p_type <> '{Q16_EXCL_TYPE}'
  AND p_size IN {Q16_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


Q17_BRAND = "Brand#3"
Q17_QTY_FRACTION = 0.2


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Q17 shape: small-quantity-order revenue — average yearly revenue
    lost if small orders (below 20% of the part's average quantity) were
    no longer filled, for one brand. The official correlated scalar
    subquery ``0.2 * avg(l_quantity) per part`` is planned as a per-part
    aggregate joined back — exactly how modern engines (and Catalyst)
    decorrelate it. The container filter is dropped (no container
    column); brand selectivity carries the same role.

    Scale path: the brand's partkeys broadcast into BOTH the per-part
    average pass and the final filter pass; per-part averages are a
    partkey groupBy over the brand's lines only, re-broadcast for the
    threshold compare (the threshold frame is |brand parts| rows). The
    average is the exact decimal sum with ONE double division per engine.
    """
    parts = part.where(F.col("p_brand") == Q17_BRAND).select("p_partkey")
    brand_lines = lineitem.join(
        F.broadcast(parts), lineitem.l_partkey == parts.p_partkey
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    per_part = brand_lines.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double") / F.count("*")
        ).alias("avg_qty")
    )
    small = brand_lines.join(
        F.broadcast(per_part.select(
            F.col("l_partkey").alias("pk"), "avg_qty")),
        F.col("l_partkey") == F.col("pk"),
    ).where(F.col("l_quantity") < F.lit(Q17_QTY_FRACTION) * F.col("avg_qty"))
    return small.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double")
            / F.lit(7.0),
            2,
        ).alias("avg_yearly"),
        F.count("*").alias("n_lines"),
    )


def q_tpch_small_qty_revenue(spark, sf_dir):
    return small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


QUERIES["tpch_small_qty_revenue"] = q_tpch_small_qty_revenue
ORACLES["tpch_small_qty_revenue"] = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) / count(*)
           AS avg_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = '{Q17_BRAND}'
  GROUP BY 1
)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN per_part ON per_part.l_partkey = lineitem.l_partkey
WHERE p_brand = '{Q17_BRAND}'
  AND l_quantity < {Q17_QTY_FRACTION} * avg_qty
"""


Q19_BRANCHES = (
    ("Brand#1", 1, 10, 1, 15),
    ("Brand#2", 11, 25, 10, 25),
    ("Brand#3", 26, 40, 20, 35),
)
Q19_RETURNFLAG = "N"


def discounted_revenue(
    lineitem: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Q19 shape: discounted revenue under a DISJUNCTION of brand/size/
    quantity band predicates (three OR'ed AND-groups) — the
    OR-of-conjunctions pushdown check: the quantity bounds and return
    flag must still reach the fact scan as (ORed) PushedFilters, and the
    brand/size arms evaluate on the broadcast part side. Containers and
    ship modes (absent columns) are adapted to p_size bands and one
    l_returnflag, preserving the disjunctive topology.
    """
    parts = part.select("p_partkey", "p_brand", "p_size")
    j = lineitem.where(F.col("l_returnflag") == Q19_RETURNFLAG).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    ).join(F.broadcast(parts), F.col("l_partkey") == parts.p_partkey)
    cond = None
    for brand, size_lo, size_hi, qty_lo, qty_hi in Q19_BRANCHES:
        branch = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(size_lo, size_hi)
            & F.col("l_quantity").between(qty_lo, qty_hi)
        )
        cond = branch if cond is None else (cond | branch)
    return j.where(cond).agg(
        F.round(
            F.sum(
                (
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ).cast(_DEC)
            ).cast("double"),
            2,
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def q_tpch_discounted_revenue(spark, sf_dir):
    return discounted_revenue(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


QUERIES["tpch_discounted_revenue"] = q_tpch_discounted_revenue
_Q19_OR = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
    f" AND l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in Q19_BRANCHES
)
ORACLES["tpch_discounted_revenue"] = f"""
SELECT round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_returnflag = '{Q19_RETURNFLAG}'
  AND ({_Q19_OR})
"""


Q2_REGION = "EUROPE"
Q2_TYPE = "LARGE"
Q2_MAX_SIZE = 15


def min_cost_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Q2 shape: minimum-cost supplier — for each qualifying part, the
    regional supplier(s) offering it at the lowest cost (the correlated-
    min-subquery topology, decorrelated as per-part min joined back on
    equality, ties all surfacing). Adaptations: supply cost (no partsupp)
    is the minimum observed per-unit line price ``l_extendedprice /
    l_quantity`` rounded to 6 dp (one IEEE division per line, identical
    on both engines), and the part filter is ``p_type = 'LARGE' AND
    p_size <= 15`` standing in for the official type-suffix/size pair.

    Scale path: region->nation->supplier reduces to the regional supplier
    dim FIRST and broadcasts with its nation name; the filtered part side
    broadcasts into the fact scan; per-(part,supplier) unit costs
    partial-aggregate map-side; the per-part min re-aggregates that
    bounded frame, and the equality join back is again per-part-bounded.
    Official Q2's ORDER BY (s_acctbal DESC, n_name, s_name, p_partkey).
    """
    eu_supp = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.where(F.col("r_name") == Q2_REGION)),
                    nation.n_regionkey == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = part.where(
        (F.col("p_type") == Q2_TYPE) & (F.col("p_size") <= Q2_MAX_SIZE)
    ).select("p_partkey")
    offers = (
        lineitem.select(
            "l_partkey", "l_suppkey",
            F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)
            .alias("unit_cost"),
        )
        .join(F.broadcast(parts), F.col("l_partkey") == parts.p_partkey)
        .join(F.broadcast(eu_supp), F.col("l_suppkey") == eu_supp.s_suppkey)
        .groupBy("l_partkey", "l_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min("unit_cost").alias("supply_cost"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("supply_cost").alias("best_cost")
    )
    return (
        offers.join(
            F.broadcast(best),
            (offers.l_partkey == best.pk)
            & (offers.supply_cost == best.best_cost),
        )
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name", "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "supply_cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


def q_tpch_min_cost_supplier(spark, sf_dir):
    return min_cost_supplier(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "part"),
    )


QUERIES["tpch_min_cost_supplier"] = q_tpch_min_cost_supplier
ORACLES["tpch_min_cost_supplier"] = f"""
WITH offers AS (
  SELECT l_partkey, l_suppkey, s_name, s_acctbal, n_name,
         min(round(l_extendedprice / l_quantity, 6)) AS supply_cost
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE p_type = '{Q2_TYPE}' AND p_size <= {Q2_MAX_SIZE}
    AND r_name = '{Q2_REGION}'
  GROUP BY 1, 2, 3, 4, 5
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       l_partkey AS p_partkey, supply_cost
FROM offers o
WHERE supply_cost = (SELECT min(supply_cost) FROM offers i
                     WHERE i.l_partkey = o.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""


Q20_NAME_PREFIX = "red"
Q20_YEAR_FROM = "1997-01-01"
Q20_YEAR_TO = "1998-01-01"
Q20_SHARE = 0.5
Q20_REGION = "EUROPE"


def dominant_part_suppliers(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Q20 shape: potential part promotion — regional suppliers who are
    DOMINANT for some name-prefixed part (shipped more than half that
    part's year volume), the nested-subquery-chain topology (partkeys
    from a LIKE -> per-(part,supplier) quantity vs a per-part threshold
    -> supplier semi-join -> nation/region filter). The official
    ``ps_availqty > 0.5 * shipped`` (no partsupp) becomes supplier share
    of the part's shipped volume > 0.5 — the identical chain with the
    threshold derived from the same aggregate.

    Scale path: prefix-filtered partkeys broadcast into the year's fact
    scan; (part,supplier) quantities partial-aggregate map-side; the
    per-part totals re-aggregate the bounded pair frame (no rescan) and
    broadcast back; the winning pair frame deduplicates to suppkeys
    (semi-join) before touching the supplier dim.
    """
    parts = part.where(F.col("p_name").startswith(Q20_NAME_PREFIX)).select(
        "p_partkey"
    )
    year_lines = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(Q20_YEAR_FROM))
            & (F.col("l_shipdate") < F.lit(Q20_YEAR_TO))
        )
        .join(F.broadcast(parts), F.col("l_partkey") == parts.p_partkey)
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    pair_qty = year_lines.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).alias("qty_dec")
    )
    part_total = pair_qty.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty_dec").alias("total_dec")
    )
    dominant = (
        pair_qty.join(F.broadcast(part_total), pair_qty.l_partkey == part_total.pk)
        .where(
            F.col("qty_dec").cast("double")
            > F.lit(Q20_SHARE) * F.col("total_dec").cast("double")
        )
        .select("l_suppkey")
        .distinct()
    )
    eu_supp = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.where(F.col("r_name") == Q20_REGION)),
                    nation.n_regionkey == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name")
    )
    return (
        eu_supp.join(dominant, eu_supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_tpch_dominant_suppliers(spark, sf_dir):
    return dominant_part_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "part"),
    )


QUERIES["tpch_dominant_suppliers"] = q_tpch_dominant_suppliers
ORACLES["tpch_dominant_suppliers"] = f"""
WITH pair_qty AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(28,10))) AS qty_dec
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '{Q20_NAME_PREFIX}%'
    AND l_shipdate >= TIMESTAMP '{Q20_YEAR_FROM} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{Q20_YEAR_TO} 00:00:00'
  GROUP BY 1, 2
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = '{Q20_REGION}'
  AND s_suppkey IN (
    SELECT l_suppkey FROM pair_qty p
    WHERE CAST(qty_dec AS DOUBLE) > {Q20_SHARE} * (
      SELECT CAST(sum(qty_dec) AS DOUBLE) FROM pair_qty t
      WHERE t.l_partkey = p.l_partkey))
ORDER BY s_suppkey
"""


Q21_REGION = "ASIA"
Q21_LATE_DAYS = 60


def suppliers_who_kept_orders_waiting(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Q21 shape: suppliers who kept orders waiting — per regional
    supplier, the number of late lines on finalized multi-supplier orders
    where that supplier was the ONLY late one. The official
    EXISTS(another supplier) AND NOT EXISTS(another LATE supplier)
    self-join pair is planned as per-order supplier/late-supplier
    DISTINCT counts joined back — the decorrelated form of the same
    semantics (the oracle SQL keeps the official double-EXISTS shape, so
    the equality check proves the rewrite). Late (no receipt/commit
    columns) is ``l_shipdate > o_orderdate + 60 days``, as the registered
    Q4 shape. numwait counts LINES (official semantics), not orders.

    Scale path: ONE orderkey shuffle join (finalized orders x lines)
    feeds a per-(order,supplier) partial agg; the per-order
    supplier/late-supplier counts re-aggregate that reduced frame; the
    only-late-supplier filter joins two order-bounded frames; the
    regional supplier dim broadcasts at the end. No self-join of the
    fact table ever materializes.
    """
    ords = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    lines = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        ords, F.col("l_orderkey") == ords.o_orderkey
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {Q21_LATE_DAYS} DAYS"
    )
    tagged = lines.select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_os = tagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late"),
        F.sum(F.col("late").cast("long")).alias("n_late_lines"),
    )
    per_o = per_os.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count("*").alias("n_supps"),
        F.sum(F.col("supp_late").cast("long")).alias("n_late_supps"),
    )
    waiting = (
        per_os.where(F.col("supp_late"))
        .join(
            per_o,
            (F.col("l_orderkey") == F.col("ok"))
            & (F.col("n_supps") >= 2)
            & (F.col("n_late_supps") == 1),
        )
    )
    regional = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.where(F.col("r_name") == Q21_REGION)),
                    nation.n_regionkey == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name")
    )
    return (
        waiting.join(F.broadcast(regional),
                     F.col("l_suppkey") == regional.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum("n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name", "s_suppkey")
    )


def q_tpch_waiting_suppliers(spark, sf_dir):
    return suppliers_who_kept_orders_waiting(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


QUERIES["tpch_waiting_suppliers"] = q_tpch_waiting_suppliers
ORACLES["tpch_waiting_suppliers"] = f"""
SELECT s_suppkey, s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation, region
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAYS
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAYS)
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = '{Q21_REGION}'
GROUP BY 1, 2
ORDER BY numwait DESC, s_name, s_suppkey
"""
