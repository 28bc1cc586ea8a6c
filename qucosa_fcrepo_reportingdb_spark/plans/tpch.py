"""Relational query surface: the aggregation/join/window/set-op operators
the reference delegates to PostgreSQL (SURVEY.md §2.4 marks them absent in
the reference's own code — the reporting consumer uses them), expressed
DataFrame-first over the synthetic TPC-H-ish tables.

Every query here has an ANSI-SQL oracle (ORACLES) that DuckDB runs on the
same parquet; column aliases match exactly and numeric aggregation follows
plans/common.py's exact-arithmetic policy so value hashes match.

Scale notes: joins to region/nation/supplier/part are broadcastable (tiny
dims); fact-fact joins shuffle on their keys; windows partition by key.
All plans stay fully in whole-stage codegen (no Python UDFs).

TPC-H coverage against the driver's reduced schema: Q1/Q3/Q4/Q5/Q6/Q7/Q8/
Q10/Q12/Q13/Q14/Q15/Q17/Q18/Q19/Q22 shapes are implemented (adapted where
a column is absent — lateness from ship-vs-order lag, returnflag standing
in for shipmode). Q2/Q9/Q11/Q16/Q20/Q21 are NOT implementable: they
require the partsupp table (supplycost/availqty) or the receipt/commit
date columns, none of which exist in the synthetic dataset — their plan
shapes (min-per-group scalar subquery, multi-way not-exists) are covered
by q15/q22/customers_without_orders instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.plans.common import (
    DEC,
    DEC_WIDE,
    davg,
    dsum,
    dsum_wide,
    fan_out,
    sql_davg,
    sql_dsum,
    sql_dsum_wide,
    t,
)


# --- Q1-style pricing summary: filter + groupBy + many aggregates -----------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the partial aggregation is 8 wide-decimal
    # (precision>18 -> BigDecimal-backed) accumulators per row — by far
    # the heaviest per-row compute in the TPC-H surface — and it runs on
    # the SCAN's partitioning. A single-row-group input (this testdata;
    # any skewed/unsplittable file at scale) serializes it; spreading
    # the rows first costs one narrow exchange and wins ~1.5x measured
    # (the plan snapshots under plans/). At scale the guard makes it a
    # no-op (scan splits already >= parallelism). q3/q5 measured SLOWER
    # with the same treatment (cheap hash-probe per row, no heavy
    # pre-exchange compute) and keep their scan-partitioned shape.
    li = fan_out(t(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum_wide(disc_price, "sum_disc_price"),
            dsum_wide(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')},
       {sql_dsum('l_extendedprice', 'sum_base_price')},
       {sql_dsum_wide('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {sql_dsum_wide('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       {sql_davg('l_quantity', 'avg_qty')},
       {sql_davg('l_extendedprice', 'avg_price')},
       {sql_davg('l_discount', 'avg_disc')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- Q3-style shipping priority: 3-way join + group + top-k ------------------
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum_wide(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                       "revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum_wide('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- Q5-style local supplier volume: 6-way join with broadcast dims ---------
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum_wide(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                       "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = f"""
SELECT n_name,
       {sql_dsum_wide('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --- top-k per group (window ranking) ---------------------------------------
def top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        part.withColumn("rank_in_brand", F.row_number().over(w))
        .filter(F.col("rank_in_brand") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rank_in_brand")
        .orderBy("p_brand", "rank_in_brand")
    )


TOP3_SQL = """
SELECT p_brand, p_partkey, p_retailprice, rank_in_brand
FROM (SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey)
               AS rank_in_brand
      FROM part)
WHERE rank_in_brand <= 3
ORDER BY p_brand, rank_in_brand
"""


# --- running totals (window frame) ------------------------------------------
def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return orders.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w)
        .cast("string").cast("double").alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


RUNNING_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS VARCHAR) AS DOUBLE) AS running_total
FROM orders WHERE o_custkey < 100
ORDER BY o_custkey, o_orderkey
"""


# --- anti / semi joins --------------------------------------------------------
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


NO_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def big_spender_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


SEMI_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
ORDER BY c_custkey
"""


# --- rollup ------------------------------------------------------------------
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_extendedprice", "sum_price"),
             F.count(F.lit(1)).alias("n_items"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price", "n_items",
        )
        .orderBy("returnflag", "linestatus")
    )


ROLLUP_SQL = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       {sql_dsum('l_extendedprice', 'sum_price')},
       COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


# --- cube --------------------------------------------------------------------
def orders_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             dsum("o_totalprice", "sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders", "sum_price",
        )
        .orderBy("orderstatus", "orderpriority")
    )


CUBE_SQL = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'sum_price')}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY orderstatus, orderpriority
"""


# --- pivot -------------------------------------------------------------------
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in statuses],
        )
        .orderBy("o_orderpriority")
    )


PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- set operations ----------------------------------------------------------
def segment_customer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers in AUTOMOBILE segment minus big spenders, plus the
    intersection — exercises EXCEPT and INTERSECT in one result."""
    cust = t(spark, sf_dir, "customer")
    auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    big = (t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
           .select(F.col("o_custkey").alias("c_custkey")).distinct())
    only_auto = auto.exceptAll(big).withColumn("bucket", F.lit("auto_only"))
    both = auto.intersect(big).withColumn("bucket", F.lit("auto_big"))
    return only_auto.unionByName(both).orderBy("bucket", "c_custkey")


SETOPS_SQL = """
WITH auto AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
     big AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
             WHERE o_totalprice > 300000)
SELECT c_custkey, 'auto_only' AS bucket FROM (SELECT * FROM auto EXCEPT ALL SELECT * FROM big)
UNION ALL
SELECT c_custkey, 'auto_big' AS bucket FROM (SELECT * FROM auto INTERSECT SELECT * FROM big)
ORDER BY bucket, c_custkey
"""


# --- distinct aggregates ------------------------------------------------------
def supplier_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("l_returnflag")
    )


DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Q6: forecasting revenue change — single-table filter + scalar agg -------
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the canonical predicate-pushdown showcase. All
    three filters and both referenced columns reach the parquet scan
    (PushedFilters on l_shipdate/l_discount/l_quantity, 4-column
    ReadSchema), then one combinable SUM — at 100 TB this is a pure
    scan-rate query with a single-row shuffle-free final agg."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum_wide(F.col("l_extendedprice") * F.col("l_discount"),
                       "revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


Q6_SQL = f"""
SELECT {sql_dsum_wide('l_extendedprice * l_discount', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "top3_parts_per_brand": top3_parts_per_brand,
    "customer_running_totals": customer_running_totals,
    "customers_without_orders": customers_without_orders,
    "big_spender_customers_semi": big_spender_customers_semi,
    "revenue_rollup": revenue_rollup,
    "orders_status_cube": orders_status_cube,
    "order_priority_pivot": order_priority_pivot,
    "segment_customer_setops": segment_customer_setops,
    "supplier_part_stats": supplier_part_stats,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "top3_parts_per_brand": TOP3_SQL,
    "customer_running_totals": RUNNING_SQL,
    "customers_without_orders": NO_ORDERS_SQL,
    "big_spender_customers_semi": SEMI_SQL,
    "revenue_rollup": ROLLUP_SQL,
    "orders_status_cube": CUBE_SQL,
    "order_priority_pivot": PIVOT_SQL,
    "segment_customer_setops": SETOPS_SQL,
    "supplier_part_stats": DISTINCT_SQL,
}


# --- q18-style: customers with very large orders -----------------------------
LARGE_ORDER_QTY = 150


def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
    threshold, joined back to their customers — the aggregate-then-
    semi-join pattern (HAVING over a child aggregation driving a join).

    Scale shape: the lineitem aggregation is map-side combinable on
    l_orderkey; only the (rare) qualifying orders join onward, and the
    customer side is a broadcast. The big table aggregates BEFORE any
    join — the shape that survives a 100x fact-table scale-up."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(28,4)"))
                .alias("total_qty_dec"))
           .filter(F.col("total_qty_dec") > LARGE_ORDER_QTY)
           .selectExpr("l_orderkey",
                       "CAST(CAST(total_qty_dec AS STRING) AS DOUBLE)"
                       " AS total_qty"))
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


LARGE_ORDER_SQL = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR)
              AS DOUBLE) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(28,4))) > {LARGE_ORDER_QTY})
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, big.total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
"""

QUERIES["large_order_customers"] = large_order_customers
ORACLES["large_order_customers"] = LARGE_ORDER_SQL


# --- q4-style: late-shipment order counts (correlated EXISTS -> semi join) ---
def q4_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: COUNT orders per priority where EXISTS a lineitem
    shipped >90 days after the order date (the reference data has no
    commit/receipt dates, so lateness is ship-vs-order lag).

    Scale shape: the correlated EXISTS becomes a left-semi join on
    l_orderkey with the non-equi lag predicate evaluated join-side; the
    orders scan prunes to 3 columns and the date filter pushes to parquet.
    Semi-join output is at most one row per order, so the aggregation
    state is bounded by the orders side regardless of lineitem fan-out."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01")))
    li = t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q7-style: directional nation-pair trade volume ---------------------------
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between two nations in both directions
    (supplier nation -> customer nation), per ship year.

    Scale shape: both nation joins broadcast (25 rows); the directional
    pair predicate collapses to a broadcast-side filter BEFORE the
    fact-fact shuffle joins, so only lineitems of the two nations'
    suppliers reach the orders join."""
    nation = t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nkey"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nkey"),
                       F.col("n_name").alias("cust_nation"))
    supp = (t(spark, sf_dir, "supplier")
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
            .filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
            .select("s_suppkey", "supp_nation"))
    cust = (t(spark, sf_dir, "customer")
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
            .filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
            .select("c_custkey", "cust_nation"))
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .select("supp_nation", "cust_nation",
                F.year("l_shipdate").cast("int").alias("l_year"),
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("volume"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum_wide(F.col("volume"), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {sql_dsum_wide('volume', 'revenue')}
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --- q8-style: market share of one supplier nation ----------------------------
def q8_promo_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: per order year, the fraction of AMERICA-region
    customers' PROMO-part revenue supplied by NATION_5.

    Scale shape: part, supplier-nation, and customer-region joins all
    broadcast; the single wide fact join shuffles once on orderkey. The
    share is one IEEE division of two exact decimal sums, so the oracle
    hash matches bit-for-bit."""
    part = (t(spark, sf_dir, "part")
            .filter(F.col("p_type") == "PROMO").select("p_partkey"))
    nation = t(spark, sf_dir, "nation")
    supp = (t(spark, sf_dir, "supplier")
            .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust_nat = (nation.join(F.broadcast(region),
                            F.col("n_regionkey") == F.col("r_regionkey"))
                .select(F.col("n_nationkey").alias("cn_key")))
    cust = (t(spark, sf_dir, "customer")
            .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("cn_key"))
            .select("c_custkey"))
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .select(F.year("o_orderdate").cast("int").alias("o_year"),
                vol.alias("volume"), "supp_nation")
        .groupBy("o_year")
        .agg((F.sum(F.when(F.col("supp_nation") == "NATION_5",
                           F.col("volume")).otherwise(F.lit(0.0))
                    .cast(DEC_WIDE)).cast("string").cast("double")
              / F.sum(F.col("volume").cast(DEC_WIDE))
              .cast("string").cast("double")).alias("mkt_share"))
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT o_year,
       CAST(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_5' THEN volume
                               ELSE 0.0 END AS DECIMAL(38,8))) AS VARCHAR)
            AS DOUBLE)
       / CAST(CAST(SUM(CAST(volume AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
         AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation n1 ON n1.n_nationkey = s_nationkey
  WHERE p_type = 'PROMO'
    AND o_custkey IN (SELECT c_custkey FROM customer
                      JOIN nation n2 ON n2.n_nationkey = c_nationkey
                      JOIN region ON r_regionkey = n2.n_regionkey
                      WHERE r_name = 'AMERICA'))
GROUP BY o_year
ORDER BY o_year
"""


# --- q12-style: priority classes per return flag (conditional counts) --------
def q12_priority_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per lineitem return flag (standing in for the
    absent shipmode), count critical-priority (1-URGENT/2-HIGH) vs other
    orders among 1997 shipments.

    Scale shape: one fact-fact shuffle join on orderkey, conditional
    aggregation entirely map-side-combinable; the ship-year filter pushes
    to the lineitem scan."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    orders = t(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~crit, 1).otherwise(0)).alias("low_line_count"))
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- q14-style: promo revenue percentage per month ----------------------------
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: per 1997 month, percentage of revenue from PROMO
    parts — conditional-sum ratio over a broadcast part join."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.month("l_shipdate").cast("int").alias("l_month"),
                vol.alias("volume"), "p_type")
        .groupBy("l_month")
        .agg((F.lit(100.0)
              * F.sum(F.when(F.col("p_type") == "PROMO", F.col("volume"))
                      .otherwise(F.lit(0.0)).cast(DEC_WIDE))
              .cast("string").cast("double")
              / F.sum(F.col("volume").cast(DEC_WIDE))
              .cast("string").cast("double")).alias("promo_revenue_pct"))
        .orderBy("l_month")
    )


Q14_SQL = """
SELECT CAST(month(l_shipdate) AS INT) AS l_month,
       100.0 * CAST(CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                       THEN l_extendedprice * (1 - l_discount)
                                       ELSE 0.0 END AS DECIMAL(38,8)))
                         AS VARCHAR) AS DOUBLE)
       / CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_month
ORDER BY l_month
"""


# --- q17-style: small-quantity revenue vs per-part average --------------------
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of the part's average quantity, for three brands — the correlated
    scalar-aggregate pattern (per-key avg joined back to the fact).

    Scale shape: the per-part average is a map-side-combinable aggregate
    over the SAME shuffle key (l_partkey) as the join back, so AQE reuses
    the exchange; the brand filter broadcasts. The threshold comparison
    uses the exact-sum average, making the boundary bit-stable across
    engines."""
    part = (t(spark, sf_dir, "part")
            .filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
            .select("p_partkey", "p_brand"))
    li = t(spark, sf_dir, "lineitem")
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_qty = (branded.groupBy("l_partkey")
               .agg(davg("l_quantity", "avg_qty"))
               .select(F.col("l_partkey").alias("a_partkey"), "avg_qty"))
    return (
        branded.join(avg_qty, branded.l_partkey == avg_qty.a_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .groupBy("p_brand")
        .agg(dsum("l_extendedprice", "small_qty_revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
        .orderBy("p_brand")
    )


Q17_SQL = f"""
WITH branded AS (
  SELECT l_partkey, l_quantity, l_extendedprice, p_brand
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')),
avg_qty AS (
  SELECT l_partkey AS a_partkey, {sql_davg('l_quantity', 'avg_qty')}
  FROM branded GROUP BY l_partkey)
SELECT p_brand,
       {sql_dsum('l_extendedprice', 'small_qty_revenue')},
       COUNT(*) AS n_lineitems
FROM branded JOIN avg_qty ON l_partkey = a_partkey
WHERE l_quantity < 0.2 * avg_qty
GROUP BY p_brand
ORDER BY p_brand
"""


# --- q19-style: disjunctive multi-attribute predicates ------------------------
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three (brand, size,
    quantity) conjunction branches — the disjunctive-predicate join that
    exercises Catalyst's CNF conversion / predicate pushdown through a
    broadcast join."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b1 = ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
          & F.col("l_quantity").between(1, 20))
    b2 = ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
          & F.col("l_quantity").between(15, 35))
    b3 = ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(25, 50)
          & F.col("l_quantity").between(30, 50))
    return (joined.filter(b1 | b2 | b3)
            .groupBy("p_brand")
            .agg(dsum_wide(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                           "revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy("p_brand"))


Q19_SQL = f"""
SELECT p_brand,
       {sql_dsum_wide('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 15 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 25 AND 50
       AND l_quantity BETWEEN 30 AND 50)
GROUP BY p_brand
ORDER BY p_brand
"""


# --- q22-style: idle customers above the global balance average ---------------
def q22_idle_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive account
    balance and no RECENT orders (none since 2000-01-01; the synthetic
    data has no fully orderless customers), per market segment — a global
    scalar subquery (exact-average threshold broadcast to every row) plus
    an anti join.

    Scale shape: the scalar average is a 1-row aggregate broadcast into
    the filter; the anti join shuffles on custkey only for customers
    passing the balance filter, and the order-date filter prunes the
    anti-join build side at the scan."""
    cust = t(spark, sf_dir, "customer")
    orders = (t(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
              .select("o_custkey"))
    avg_bal = (cust.filter(F.col("c_acctbal") > 0.0)
               .agg(davg("c_acctbal", "avg_bal")))
    rich = (cust.join(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("avg_bal")))
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             dsum("c_acctbal", "total_acctbal"))
        .orderBy("c_mktsegment")
    )


Q22_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_customers,
       {sql_dsum('c_acctbal', 'total_acctbal')}
FROM customer
WHERE c_acctbal > (SELECT {sql_davg('c_acctbal', 'x')} FROM customer
                   WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


QUERIES.update({
    "q4_late_order_priority": q4_late_order_priority,
    "q7_nation_trade_volume": q7_nation_trade_volume,
    "q8_promo_market_share": q8_promo_market_share,
    "q12_priority_class_counts": q12_priority_class_counts,
    "q14_promo_revenue_ratio": q14_promo_revenue_ratio,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_idle_balance_customers": q22_idle_balance_customers,
})

ORACLES.update({
    "q4_late_order_priority": Q4_SQL,
    "q7_nation_trade_volume": Q7_SQL,
    "q8_promo_market_share": Q8_SQL,
    "q12_priority_class_counts": Q12_SQL,
    "q14_promo_revenue_ratio": Q14_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q22_idle_balance_customers": Q22_SQL,
})


# --- q10-style: returned-item revenue per customer ----------------------------
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top 20 customers by revenue lost to returns
    (returnflag 'R') in one quarter — fact-fact join narrowed by both
    scan filters, customer/nation attached, top-k by revenue.

    Scale shape: the order-date and returnflag filters push to both
    scans BEFORE the orderkey shuffle; customer attach shuffles on
    custkey after aggregation would be smaller, but the group keys need
    customer attributes, so the attach happens pre-agg with nation as a
    broadcast; TakeOrderedAndProject caps the result."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01")))
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum_wide(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                       "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum_wide('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- q13-style: customer order-count distribution -----------------------------
def q13_customer_order_distribution(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly k orders
    (zero included) — a left outer join so orderless customers survive,
    then two stacked aggregations.

    Scale shape: count-per-customer is map-side combinable on custkey;
    the left join keeps the customer side intact; the second aggregation
    runs on the tiny (order-count) key space. At 100x the only big
    shuffle is the first one, on the natural key."""
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = (t(spark, sf_dir, "orders")
              .filter(~F.col("o_orderpriority").startswith("4-"))
              .select("o_custkey"))
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey,
                          "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_custkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (SELECT c_custkey, CAST(COUNT(o_custkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey
       AND o_orderpriority NOT LIKE '4-%'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- q15-style: top supplier(s) by quarterly revenue --------------------------
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals
    the maximum over all suppliers — an aggregated view consumed twice
    (once for the max scalar, once for the equality filter).

    Scale shape: revenue-per-supplier is one map-side-combinable
    aggregation; the scalar max is a 1-row broadcast; the re-read of the
    aggregate is cheap because the aggregated view is tiny (one row per
    supplier), never the fact table twice."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    revenue = (li.groupBy("l_suppkey")
               .agg(dsum_wide(F.col("l_extendedprice")
                              * (1 - F.col("l_discount")),
                              "total_revenue")))
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey,
         {sql_dsum_wide('l_extendedprice * (1 - l_discount)',
                        'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


QUERIES.update({
    "q10_returned_item_revenue": q10_returned_item_revenue,
    "q13_customer_order_distribution": q13_customer_order_distribution,
    "q15_top_supplier": q15_top_supplier,
})

ORACLES.update({
    "q10_returned_item_revenue": Q10_SQL,
    "q13_customer_order_distribution": Q13_SQL,
    "q15_top_supplier": Q15_SQL,
})
