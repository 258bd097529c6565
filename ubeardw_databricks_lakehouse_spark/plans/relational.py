"""Relational query battery over the TPC-H-ish testdata.

Each query maps SURVEY.md §2 operators onto the driver's tables and is
paired with an ANSI-SQL oracle for DuckDB. Operator coverage noted per
query (P=projection/filter, J=join, A=aggregation, W=window, SO=set op,
F=scalar function — SURVEY.md §2 numbering).

Scale design notes live on each query: which side broadcasts, where the
single shuffle is, what AQE is expected to do. A side broadcasts when
the planner's statistics put it under the session's broadcast
threshold; only a side whose estimate Catalyst inflates goes through
``core.session.broadcast_gate``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core.session import broadcast_gate, checkpoint
from .common import davg, dsum, sql_davg, sql_dsum, t

# ---------------------------------------------------------------------------
# q01 pricing summary (A1, P4, P10, F12): single scan + single hash agg.
# Filter pushes to parquet; partial aggregation map-side; 6 aggs one pass.
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    charge = disc_price * (
        F.lit(1).cast("decimal(4,2)") + F.col("l_tax").cast("decimal(4,2)")
    )
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc", "decimal(4,2)"),
            F.count("*").alias("count_order"),
        )
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {sql_dsum('l_quantity', 'sum_qty')},
  {sql_dsum('l_extendedprice', 'sum_base_price')},
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
           * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
    AS sum_charge,
  {sql_davg('l_quantity', 'avg_qty')},
  {sql_davg('l_extendedprice', 'avg_price')},
  {sql_davg('l_discount', 'avg_disc', 'DECIMAL(4,2)')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------------------
# q03 shipping priority (J2, A1, W1 top-k): 2 shuffles (join, agg);
# customer filter prunes before join; top-10 via total-order row_number.
# ---------------------------------------------------------------------------


def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-03-15")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    # orderBy+limit plans as TakeOrderedAndProject: parallel per-partition
    # top-k, tiny reduce — no single-partition window Exchange (the
    # tiebreak on l_orderkey keeps it deterministic)
    return agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)


Q03_SQL = """
WITH agg AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
      AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
    AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
SELECT l_orderkey, o_orderdate, o_orderpriority, revenue
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey) AS rn FROM agg)
WHERE rn <= 10
"""

# ---------------------------------------------------------------------------
# q05 local supplier volume (J2 multi-way): 6-table join; the dims
# broadcast by size (module docstring); the c_nationkey = s_nationkey co-location condition makes the
# big join equi on two keys.
# ---------------------------------------------------------------------------


def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


Q05_SQL = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""

# ---------------------------------------------------------------------------
# q06 forecast revenue (P4, P8): pure scan-filter-agg; every predicate
# reaches the parquet reader (PushedFilters), no shuffle at all after AQE
# coalesces the single-row agg.
# ---------------------------------------------------------------------------


def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col("l_discount").cast(
        "decimal(4,2)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_rows"))
    )


Q06_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

# ---------------------------------------------------------------------------
# q_market_segment (A2 filtered counts, F8): count(when(...)) ≡ count_if.
# ---------------------------------------------------------------------------


def q_market_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.count(F.when(F.col("c_acctbal") > 5000, 1)).alias("n_wealthy"),
        F.count(F.when(F.col("c_acctbal") < 0, 1)).alias("n_negative"),
        davg("c_acctbal", "avg_acctbal"),
    )


Q_MARKET_SEGMENT_SQL = f"""
SELECT c_mktsegment,
  COUNT(*) AS n_customers,
  COUNT(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_wealthy,
  COUNT(CASE WHEN c_acctbal < 0 THEN 1 END) AS n_negative,
  {sql_davg('c_acctbal', 'avg_acctbal')}
FROM customer
GROUP BY c_mktsegment
"""

# ---------------------------------------------------------------------------
# q_top_customers (W1 ranking): spend per customer, then row_number
# partitioned by nation — the canonical SCD2/top-k window shape.
# ---------------------------------------------------------------------------


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(dsum("o_totalprice", "total_spend"))
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("total_spend").desc(), F.col("c_custkey")
    )
    return (
        cust.join(spend, cust.c_custkey == spend.o_custkey)
        .select("c_custkey", "c_name", "c_nationkey", "total_spend")
        .withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 3)
    )


Q_TOP_CUSTOMERS_SQL = """
WITH spend AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, c_nationkey, total_spend, rank_in_nation
FROM (
  SELECT c_custkey, c_name, c_nationkey, total_spend,
    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY total_spend DESC, c_custkey)
      AS rank_in_nation
  FROM customer JOIN spend ON c_custkey = o_custkey
)
WHERE rank_in_nation <= 3
"""

# ---------------------------------------------------------------------------
# q_order_gaps (W2 lag): per-customer inter-order gap in days.
# ---------------------------------------------------------------------------


def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("days_since_prev"),
    )


Q_ORDER_GAPS_SQL = """
SELECT o_custkey, o_orderkey,
  DATE_DIFF('day',
            LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            o_orderdate) AS days_since_prev
FROM orders
"""

# ---------------------------------------------------------------------------
# q_union_entities (SO1/SO2): customer ∪ supplier account balances by nation.
# ---------------------------------------------------------------------------


def q_union_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(
        F.lit("customer").alias("entity_type"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("entity_type"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return (
        cust.unionAll(supp)
        .groupBy("entity_type", "nationkey")
        .agg(F.count("*").alias("n_entities"), dsum("acctbal", "total_balance"))
    )


Q_UNION_ENTITIES_SQL = """
SELECT entity_type, nationkey, COUNT(*) AS n_entities,
  CAST(SUM(CAST(acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_balance
FROM (
  SELECT 'customer' AS entity_type, c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
  UNION ALL
  SELECT 'supplier', s_nationkey, s_acctbal FROM supplier
)
GROUP BY entity_type, nationkey
"""

# ---------------------------------------------------------------------------
# q_customers_no_orders (J5 left-anti): referential-integrity shape.
# ---------------------------------------------------------------------------


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_no_orders"))
    )


Q_CUSTOMERS_NO_ORDERS_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_no_orders
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""

# ---------------------------------------------------------------------------
# q_priority_filters (P5-P9 predicate battery): isin, between, like,
# startswith, null guards — all pushed to the scan.
# ---------------------------------------------------------------------------


def q_priority_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_orderdate").between("1996-01-01", "1998-12-31")
            & (F.col("o_orderstatus") != "F")
            & F.col("o_totalprice").isNotNull()
        )
        .withColumn("is_urgent", F.col("o_orderpriority").startswith("1"))
        .groupBy("o_orderpriority", "is_urgent")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


Q_PRIORITY_FILTERS_SQL = """
SELECT o_orderpriority, (o_orderpriority LIKE '1%') AS is_urgent,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1998-12-31 00:00:00'
  AND o_orderstatus <> 'F'
  AND o_totalprice IS NOT NULL
GROUP BY o_orderpriority, o_orderpriority LIKE '1%'
"""

# ---------------------------------------------------------------------------
# q_customer_tiers (F8 case chains — the reference's tiering idiom,
# gold_pipeline.py:376-385).
# ---------------------------------------------------------------------------


def q_customer_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") >= 7500, "platinum")
        .when(F.col("c_acctbal") >= 5000, "gold")
        .when(F.col("c_acctbal") >= 2500, "silver")
        .otherwise("bronze")
    )
    return (
        cust.withColumn("tier", tier)
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_customers"),
            davg("c_acctbal", "avg_balance"),
            F.count_distinct(F.col("c_nationkey")).alias("n_nations"),
        )
    )


Q_CUSTOMER_TIERS_SQL = f"""
SELECT CASE WHEN c_acctbal >= 7500 THEN 'platinum'
            WHEN c_acctbal >= 5000 THEN 'gold'
            WHEN c_acctbal >= 2500 THEN 'silver'
            ELSE 'bronze' END AS tier,
  COUNT(*) AS n_customers,
  {sql_davg('c_acctbal', 'avg_balance')},
  COUNT(DISTINCT c_nationkey) AS n_nations
FROM customer
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# q_rollup_revenue / q_cube_orders (extension beyond reference: grouping
# sets — Catalyst expands these into a single Expand + one shuffle).
# ---------------------------------------------------------------------------


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    joined = orders.join(
        cust.select("c_custkey", "c_nationkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    ).join(nation, F.col("c_nationkey") == nation.n_nationkey)
    return joined.rollup("n_name", "c_mktsegment").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue")
    )


Q_ROLLUP_REVENUE_SQL = """
SELECT n_name, c_mktsegment, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
"""


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


Q_CUBE_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

# ---------------------------------------------------------------------------
# q_part_stats (P1-P3 expressions + A1): string/math scalar functions.
# ---------------------------------------------------------------------------


def q_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return (
        part.withColumn("brand_upper", F.upper(F.col("p_brand")))
        .withColumn("type_prefix", F.substring(F.col("p_type"), 1, 6))
        .withColumn("name_len", F.length(F.col("p_name")))
        .groupBy("brand_upper", "type_prefix")
        .agg(
            F.count("*").alias("n_parts"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
            davg("p_retailprice", "avg_price"),
            (F.sum("name_len").cast("double") / F.count("*")).alias("avg_name_len"),
        )
    )


Q_PART_STATS_SQL = f"""
SELECT UPPER(p_brand) AS brand_upper, SUBSTRING(p_type, 1, 6) AS type_prefix,
  COUNT(*) AS n_parts, MIN(p_size) AS min_size, MAX(p_size) AS max_size,
  {sql_davg('p_retailprice', 'avg_price')},
  CAST(SUM(LENGTH(p_name)) AS DOUBLE) / COUNT(*) AS avg_name_len
FROM part
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q12-style late shipments (J2, A2, F8): join + conditional counts with
# date arithmetic; both predicates push to the scans.
# ---------------------------------------------------------------------------


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.count(F.when(late, 1)).alias("n_late"),
            F.count(F.when(late & high, 1)).alias("n_late_high"),
        )
    )


Q12_LATE_SHIPMENTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_lineitems,
  COUNT(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 END) AS n_late,
  COUNT(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
              AND o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS n_late_high
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

# ---------------------------------------------------------------------------
# q14-style promo revenue share (J2, F8, F12): ratio of two exact decimal
# sums — deterministic double division at the end.
# ---------------------------------------------------------------------------


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type").startswith("SMALL"), rev).otherwise(
                F.lit(0).cast("decimal(12,2)")
            )).cast("double")
            / F.sum(rev).cast("double")
        ).alias("small_type_revenue_pct"),
        F.count("*").alias("n_rows"),
    )


Q14_PROMO_REVENUE_SQL = """
SELECT
  100.0 * CAST(SUM(CASE WHEN p_type LIKE 'SMALL%'
        THEN CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS small_type_revenue_pct,
  COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
"""


# ---------------------------------------------------------------------------
# q10-style returned-item customers (J2, A1, W1): who returned the most
# value. Fact-side filter pushes down; customer/nation broadcast while
# the planner sizes them under the threshold.
# ---------------------------------------------------------------------------


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("returned_revenue"),
             F.count("*").alias("n_returned_items"))
    )
    # parallel top-k (TakeOrderedAndProject), then rank over the 20
    # surviving rows only — the single-partition window shrinks from
    # all customers to k rows
    top = agg.orderBy(F.col("returned_revenue").desc(), F.col("c_custkey")).limit(20)
    w = Window.orderBy(F.col("returned_revenue").desc(), F.col("c_custkey"))
    return top.withColumn("rank", F.row_number().over(w))


Q10_RETURNED_ITEMS_SQL = """
WITH agg AS (
  SELECT c_custkey, c_name, n_name,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
      AS returned_revenue,
    COUNT(*) AS n_returned_items
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY c_custkey, c_name, n_name
)
SELECT c_custkey, c_name, n_name, returned_revenue, n_returned_items, rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY returned_revenue DESC, c_custkey) AS rank FROM agg)
WHERE rank <= 20
"""

# ---------------------------------------------------------------------------
# q_customer_deciles (W2 declared surface: ntile + dense_rank): spend
# deciles with total-order tiebreaks for engine-portable tiles.
# ---------------------------------------------------------------------------


def q_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import ntile_from_rn, with_global_row_number

    orders = t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(dsum("o_totalprice", "total_spend"))
    # distributed ranking instead of a global ntile/dense_rank window
    # (round-1 scale flag): the order key is total (custkey tiebreak),
    # so dense_rank == row_number and NTILE is closed-form from (rn, n)
    ranked, n = with_global_row_number(
        spend,
        [F.col("total_spend").desc(), F.col("o_custkey")],
        out_col="spend_rank",
        with_total=True,
    )
    tiled = ranked.withColumn(
        "decile", ntile_from_rn(F.col("spend_rank"), n, 10)
    )
    return tiled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("total_spend").cast("decimal(18,2)")).cast("double").alias(
            "decile_spend"
        ),
        F.min("spend_rank").alias("best_rank"),
    )


Q_CUSTOMER_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT total_spend,
    NTILE(10) OVER (ORDER BY total_spend DESC, o_custkey) AS decile,
    DENSE_RANK() OVER (ORDER BY total_spend DESC, o_custkey) AS spend_rank
  FROM spend
)
SELECT decile, COUNT(*) AS n_customers,
  CAST(SUM(CAST(total_spend AS DECIMAL(18,2))) AS DOUBLE) AS decile_spend,
  MIN(spend_rank) AS best_rank
FROM tiled
GROUP BY decile
"""


# ---------------------------------------------------------------------------
# q04-style order priority check (left-semi join / EXISTS): orders having
# at least one late-committed lineitem, counted by priority.
# ---------------------------------------------------------------------------


def q04_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    # "multi-line order" proxy for TPC-H q4's commit-date predicate (the
    # testdata has no commitdate column)
    late_items = t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") >= 3)
    return (
        orders.join(
            late_items, orders.o_orderkey == late_items.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


Q04_PRIORITY_SEMI_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_linenumber >= 3)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q_salted_brand_revenue: the skew recipe — lineitem x part joined on a
# salted key (dim exploded over 8 salts, fact salted by row hash). The
# salt is a pure partitioning artifact, so the oracle is the PLAIN
# join: matching hashes prove salting never changes results.
# ---------------------------------------------------------------------------


def q_salted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li,
        part.withColumnRenamed("p_partkey", "l_partkey"),
        on=["l_partkey"],
        salt_from=["l_orderkey", "l_linenumber"],
        n_salts=8,
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        dsum("l_extendedprice", "brand_revenue"),
    )


Q_SALTED_BRAND_REVENUE_SQL = f"""
SELECT p_brand, COUNT(*) AS n_items,
  {sql_dsum('l_extendedprice', 'brand_revenue')}
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# q07 nation volume (J2 multi-way, F9): revenue flow between two nations in
# both directions. supplier/nation broadcast by size; the one wide shuffle is the
# lineitem-orders join (both sides keyed on orderkey); the group-by keys are
# tiny (2 nations x 2 years). Classic TPC-H Q7 on the driver's schema.
# ---------------------------------------------------------------------------


def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    n_s = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n_c = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n_s, supp.s_nationkey == n_s.s_nk)
        .join(n_c, cust.c_nationkey == n_c.c_nk)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


Q07_SQL = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
  EXTRACT(YEAR FROM l_shipdate) AS l_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                     AND TIMESTAMP '1997-12-31 00:00:00'
  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
GROUP BY ns.n_name, nc.n_name, EXTRACT(YEAR FROM l_shipdate)
"""


# ---------------------------------------------------------------------------
# q08 market share (A3 ratio-of-conditional-aggregates): NATION_3's share of
# PROMO-part revenue delivered into EUROPE, by order year. Share is a
# ratio of two exact decimal sums surfaced as doubles — the q14 discipline.
# The EUROPE nation chain broadcasts through ``broadcast_gate`` (a join
# chain's estimate multiplies its inputs, see q02).
# ---------------------------------------------------------------------------


def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n_c = nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
        F.col("n_nationkey").alias("c_nk")
    )
    n_s = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    base = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast_gate(spark)(n_c), cust.c_nationkey == F.col("c_nk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n_s, supp.s_nationkey == F.col("s_nk"))
    )
    return (
        base.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0).cast("decimal(12,2)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


Q08_SQL = """
SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
  CAST(SUM(CASE WHEN ns.n_name = 'NATION_3'
       THEN CAST(l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                      AND TIMESTAMP '1997-12-31 00:00:00'
GROUP BY EXTRACT(YEAR FROM o_orderdate)
"""


# ---------------------------------------------------------------------------
# q09 product profit (adapted Q9 — no partsupp table, so unit cost is a
# fixed 0.6 fraction of p_retailprice, kept exact in decimals): profit by
# supplier nation x order year for '%red%' parts. LIKE filter prunes the
# part side (broadcast by size) before the fact join.
# ---------------------------------------------------------------------------


def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    cost = (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.lit(0.6).cast("decimal(2,1)")
        * F.col("l_quantity").cast("decimal(4,1)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(vol - cost).cast("double").alias("sum_profit"))
    )


Q09_SQL = """
SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
         - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(2,1))
           * CAST(l_quantity AS DECIMAL(4,1))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
"""


# ---------------------------------------------------------------------------
# q13 customer distribution (J-outer + two-level agg): orders-per-customer
# histogram including zero-order customers — the left outer join the
# reference's validation suite uses, shaped as count-of-counts.
# ---------------------------------------------------------------------------


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(cust.c_custkey)
        .agg(F.count(orders.o_orderkey).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# ---------------------------------------------------------------------------
# q15 top supplier (scalar-subquery max against an aggregate view): Q1-1996
# revenue per supplier, keep the max. The max is a 1-row broadcast join, not
# a window — no single-partition Exchange.
# ---------------------------------------------------------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = t(spark, sf_dir, "supplier")
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(vol).cast("double").alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        rev.join(top, rev.total_revenue == F.col("_max_rev"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
      AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


# ---------------------------------------------------------------------------
# q17 small-quantity revenue (correlated scalar subquery -> agg+join):
# lineitems under 20% of their part's average quantity, for one brand's
# small parts (p_container surrogate: p_size < 15). The per-part average is
# a narrow agg joined back on partkey — the standard decorrelation.
# ---------------------------------------------------------------------------


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15)
    )
    pa = li.join(part, li.l_partkey == part.p_partkey)
    avgq = pa.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
            / F.count("l_quantity")
        ).alias("_avg_qty")
    )
    return (
        pa.join(avgq, pa.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


Q17_SQL = """
WITH pa AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3' AND p_size < 15
), avgq AS (
  SELECT l_partkey AS pk,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity)
      AS avg_qty
  FROM pa GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
  AS avg_yearly
FROM pa JOIN avgq ON l_partkey = pk
WHERE l_quantity < 0.2 * avg_qty
"""


# ---------------------------------------------------------------------------
# q18 large orders (semi join on a grouped HAVING + parallel top-k): orders
# whose total quantity exceeds 250, top 100 by price. The qualifying-keys
# set is an aggregate, joined (not collected); top-k is TakeOrdered.
# ---------------------------------------------------------------------------


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
WITH big AS (
  SELECT l_orderkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 250
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (
  SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty,
    ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM big
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
)
WHERE rn <= 100
"""


# ---------------------------------------------------------------------------
# q19 disjunctive predicates (P4 OR-of-conjunctions): three (brand, size,
# quantity) windows OR'd together — the predicate-pushdown stress test.
# Part side is pre-filtered to the union of brands (broadcast by size).
# ---------------------------------------------------------------------------


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # part-only weakening of the disjunction, applied before the join —
    # Catalyst can't derive it from the mixed OR (it references lineitem
    # columns too), so state it explicitly and the scan prunes to 3 brands
    part = t(spark, sf_dir, "part").filter(
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
    )
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
  AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# q21 waiting supplier (adapted Q21 — no commit/receipt dates in this
# schema, so "late" is shipping >90 days after order date): suppliers who
# were the ONLY late supplier on a multi-supplier order. The classic
# EXISTS / NOT EXISTS pair decorrelates into per-order aggregates joined
# back — no correlated subquery, no cartesian.
# ---------------------------------------------------------------------------


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    supp = t(spark, sf_dir, "supplier")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        li.l_orderkey,
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("is_late"),
    )
    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("is_late").cast("int")).alias("late")
    )
    per_o = per_os.groupBy(F.col("l_orderkey").alias("_ok")).agg(
        F.count("*").alias("n_supp"), F.sum("late").alias("n_late")
    )
    qual = per_os.filter(F.col("late") == 1).join(
        per_o.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)),
        per_os.l_orderkey == F.col("_ok"),
    )
    return (
        qual.join(supp, qual.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


Q21_SQL = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
), per_o AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
  FROM lo GROUP BY l_orderkey
)
SELECT s_name, numwait FROM (
  SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait,
    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, s_name) AS rn
  FROM lo
  JOIN per_o ON lo.l_orderkey = per_o.l_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE late = 1 AND n_supp > 1 AND n_late = 1
  GROUP BY s_name
)
WHERE rn <= 20
"""


# ---------------------------------------------------------------------------
# q22 idle wealthy customers (adapted Q22 — nation names play the phone
# country codes): customers in 7 nations with above-average positive
# balance and no orders at all. Global average is a 1-row broadcast;
# "no orders" is a left-anti join.
# ---------------------------------------------------------------------------

_Q22_NATIONS = [f"NATION_{i}" for i in (1, 3, 5, 7, 9, 11, 13)]


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    # "idle" = no orders in/after 1999 (every customer in this data has
    # at least one lifetime order, so the classic no-orders-ever form
    # would be vacuous)
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1999-01-01")
    nat = t(spark, sf_dir, "nation").filter(F.col("n_name").isin(_Q22_NATIONS))
    cust_n = cust.join(nat, cust.c_nationkey == nat.n_nationkey)
    avgbal = cust_n.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count("c_acctbal")
        ).alias("_avg_bal")
    )
    wealthy = cust_n.join(avgbal).filter(
        F.col("c_acctbal") > F.col("_avg_bal")
    )
    idle = wealthy.join(orders, wealthy.c_custkey == orders.o_custkey, "left_anti")
    return idle.groupBy(F.col("n_name").alias("cntry")).agg(
        F.count("*").alias("numcust"),
        dsum("c_acctbal", "totacctbal"),
    )


Q22_SQL = f"""
WITH cust_n AS (
  SELECT c_custkey, c_acctbal, n_name
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name IN ({", ".join(f"'{n}'" for n in _Q22_NATIONS)})
)
SELECT n_name AS cntry, COUNT(*) AS numcust,
  {sql_dsum('c_acctbal', 'totacctbal')}
FROM cust_n
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(c_acctbal)
    FROM cust_n WHERE c_acctbal > 0
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# q_unpivot_balances: wide->long UNPIVOT/melt surface (the inverse of the
# A4 pivot): per-nation aggregate columns melted into (metric, value)
# rows. Spark's native unpivot == ANSI UNPIVOT — per-row expansion, no
# shuffle beyond the feeding aggregate.
# ---------------------------------------------------------------------------


def q_unpivot_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    wide = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("double").alias("n_customers"),
            dsum("c_acctbal", "total_balance"),
            F.max(F.col("c_acctbal")).alias("max_balance"),
        )
    )
    return wide.unpivot(
        ["n_name"],
        ["n_customers", "total_balance", "max_balance"],
        "metric",
        "value",
    )


Q_UNPIVOT_BALANCES_SQL = f"""
WITH wide AS (
  SELECT n_name,
    CAST(COUNT(*) AS DOUBLE) AS n_customers,
    {sql_dsum('c_acctbal', 'total_balance')},
    MAX(c_acctbal) AS max_balance
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, metric, value
FROM wide
UNPIVOT (value FOR metric IN (n_customers, total_balance, max_balance))
"""


# ---------------------------------------------------------------------------
# q_cohort_set_ops (SO extension): INTERSECT / EXCEPT surface — 1996 vs
# 1997 purchase cohorts tagged retained/churned/new. Distinct-set
# semantics in both engines; each set op is one shuffle on the key.
# ---------------------------------------------------------------------------


def q_cohort_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")

    def cohort(year: int) -> DataFrame:
        return (
            orders.where(F.year("o_orderdate") == year)
            .select(F.col("o_custkey").alias("custkey"))
            .distinct()
        )

    y96, y97 = cohort(1996), cohort(1997)
    return (
        y96.intersect(y97).select("custkey", F.lit("retained").alias("cohort"))
        .unionAll(
            y96.subtract(y97).select("custkey", F.lit("churned").alias("cohort"))
        )
        .unionAll(
            y97.subtract(y96).select("custkey", F.lit("new").alias("cohort"))
        )
    )


Q_COHORT_SET_OPS_SQL = """
WITH y96 AS (
  SELECT DISTINCT o_custkey AS custkey FROM orders
  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
),
y97 AS (
  SELECT DISTINCT o_custkey AS custkey FROM orders
  WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
)
SELECT custkey, 'retained' AS cohort FROM (SELECT custkey FROM y96 INTERSECT SELECT custkey FROM y97)
UNION ALL
SELECT custkey, 'churned' AS cohort FROM (SELECT custkey FROM y96 EXCEPT SELECT custkey FROM y97)
UNION ALL
SELECT custkey, 'new' AS cohort FROM (SELECT custkey FROM y97 EXCEPT SELECT custkey FROM y96)
"""


# ---------------------------------------------------------------------------
# q_row_fingerprints: the SCD2 change-detection hash (F4: sha2-256 over
# '||'-joined null-coalesced casts — functions/cleaning.row_hash, the
# reference's gold_pipeline.py:131-134 idiom) plus the epoch<->timestamp
# round trip (F3), both oracle-exact: DuckDB sha256 and make_timestamp
# reproduce Spark bit-for-bit under the UTC session policy.
# ---------------------------------------------------------------------------


def q_row_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import row_hash

    orders = t(spark, sf_dir, "orders").withColumn(
        # doubles stringify differently across engines near the
        # scientific-notation threshold; money hashes over DECIMAL(12,2)
        # — also the declared DW money type (SURVEY §1.2)
        "o_totalprice", F.col("o_totalprice").cast("decimal(12,2)")
    )
    return orders.select(
        "o_orderkey",
        row_hash("o_custkey", "o_orderstatus", "o_totalprice").alias("row_hash"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("order_epoch_us"),
        F.timestamp_micros(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        ).alias("order_ts_roundtrip"),
    )


Q_ROW_FINGERPRINTS_SQL = """
SELECT o_orderkey,
  SHA256(CONCAT_WS('||',
    COALESCE(CAST(o_custkey AS VARCHAR), ''),
    COALESCE(CAST(o_orderstatus AS VARCHAR), ''),
    COALESCE(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), ''))) AS row_hash,
  CAST(EPOCH_US(o_orderdate) AS BIGINT) AS order_epoch_us,
  MAKE_TIMESTAMP(CAST(EPOCH_US(o_orderdate) AS BIGINT)) AS order_ts_roundtrip
FROM orders
"""


# ---------------------------------------------------------------------------
# q_ivm_refresh: incremental view maintenance under the oracle gate.
# Orders land in two CDC waves (by order year); the metric view is
# seeded from wave 1 and then refreshed ONLY from wave 2's CDF change
# rows. The oracle is the plain full aggregate over the whole table —
# so a hash match proves the O(changes) refresh converges to the
# O(table) recompute exactly.
# ---------------------------------------------------------------------------


def q_ivm_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..storage.ivm import refresh_metric_view
    from ..storage.lakehouse import Lakehouse, upsert_with_cdf

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    wave1 = orders.join(
        t(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") <= 1995)
        .select("o_orderkey"),
        "o_orderkey",
        "left_semi",
    )
    with tempfile.TemporaryDirectory() as d:
        lake = Lakehouse(spark, d)
        upsert_with_cdf(lake, "orders_base", wave1, keys=["o_orderkey"],
                        batch_ts="2024-01-01 00:00:00")
        refresh_metric_view(
            lake, "orders_by_status", "orders_base",
            ["o_orderstatus"], "o_totalprice", value_prec="decimal(18,2)",
        )
        upsert_with_cdf(lake, "orders_base", orders, keys=["o_orderkey"],
                        batch_ts="2024-01-02 00:00:00")
        refresh_metric_view(
            lake, "orders_by_status", "orders_base",
            ["o_orderstatus"], "o_totalprice",
            since_ts="2024-01-01 12:00:00", value_prec="decimal(18,2)",
        )
        out = lake.read("orders_by_status").select(
            "o_orderstatus",
            F.col("sum_value").cast("double").alias("sum_totalprice"),
            F.col("n_rows").alias("n_orders"),
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    return out


Q_IVM_REFRESH_SQL = """
SELECT o_orderstatus,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# q_time_travel: parquet-backend timestampAsOf under the oracle gate.
# The whole orders table lands at T1; a later wave mutates prices and
# deletes the 1992 orders; read_as_of(T1') reconstructs the pre-wave
# state from the CDF, and its aggregate must hash-equal the plain
# aggregate over the untouched source table.
# ---------------------------------------------------------------------------


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..storage.lakehouse import (
        Lakehouse,
        delete_where_with_cdf,
        read_as_of,
        upsert_with_cdf,
    )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
    )
    with tempfile.TemporaryDirectory() as d:
        lake = Lakehouse(spark, d)
        upsert_with_cdf(lake, "orders_tt", orders, keys=["o_orderkey"],
                        batch_ts="2024-01-01 00:00:00")
        mutated = orders.where(F.col("o_year") >= 1997).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        upsert_with_cdf(lake, "orders_tt", mutated, keys=["o_orderkey"],
                        batch_ts="2024-01-02 00:00:00")
        delete_where_with_cdf(lake, "orders_tt", "o_year = 1992",
                              batch_ts="2024-01-03 00:00:00")
        as_of = read_as_of(lake, "orders_tt", ["o_orderkey"],
                           "2024-01-01 12:00:00")
        out = as_of.groupBy("o_orderstatus", "o_year").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_totalprice"),
            F.count("*").alias("n_orders"),
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    return out


Q_TIME_TRAVEL_SQL = """
SELECT o_orderstatus,
  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER)
"""


# ---------------------------------------------------------------------------
# q_pagerank_trading: damped PageRank (3 iterations, d=0.85) on the
# symmetrized customer-supplier trading graph from orders x lineitem.
# The iterative-graph companion to connected components: bounded
# driver loop, periodic lineage truncation, each iteration a sparse
# matrix-vector multiply (edge equi-join + groupBy-sum). Contributions
# round to 6 dp and sum as DECIMAL -> the whole iteration is
# oracle-exact, which float PageRank never is. The FINAL rank column
# casts once to DOUBLE (plans/common policy — r5 proved raw-DECIMAL
# finals hash-red at the driver even with exact values).
# ---------------------------------------------------------------------------


def _trading_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized customer-supplier edges with LONG node ids:
    customer k -> 2k, supplier k -> 2k+1 (bijective, overflow-free at
    any TPC-H scale). The public node names are the 'C<k>'/'S<k>'
    strings — decode with ``_trading_node_str`` AFTER the iterations:
    every pagerank join/groupBy then keys on 8-byte longs instead of
    variable-width strings (less shuffle, cheaper hashing/compares),
    while group structure — and therefore every decimal rank — is
    identical under the bijection."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
        # checkpoint: e0 feeds BOTH symmetrize branches — without it
        # the orders x lineitem join + distinct runs twice inside the
        # edge build (ReuseExchange does not fire across union
        # branches; the triangle-corners lesson applied here).
        .transform(checkpoint)
    )
    # no distinct after symmetrizing: the even/odd node namespaces are
    # disjoint, so a reversed edge can never collide with a forward one
    return e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _trading_node_str(col: str = "node"):
    """Decode a ``_trading_edges`` long id back to its public name:
    even -> 'C' + id/2, odd -> 'S' + (id-1)/2. A map-side projection
    applied once after the iterations (the guide's narrow-types rule:
    shuffle keys and metadata, render strings last)."""
    n = F.col(col)
    return F.when(
        n % 2 == 0, F.concat(F.lit("C"), F.shiftright(n, 1).cast("string"))
    ).otherwise(F.concat(F.lit("S"), F.shiftright(n, 1).cast("string")))


def q_pagerank_trading(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    ranks = pagerank(_trading_edges(spark, sf_dir), n_iter=3).select(
        _trading_node_str("node").alias("node"),
        F.col("rank").cast("double").alias("rank"),
    )
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(50)


def q_pagerank_trading_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of q_pagerank_trading: double-precision
    iterations, no per-element DECIMAL round/cast (pure codegen'd
    arithmetic). Rows-only in the registry — float summation order
    makes the low bits engine-dependent — with the value checks
    pytest-pinned instead: rank mass ~= 1 and top-10 node overlap vs
    the decimal twin (tests/test_timeseries_graph_files.py). Output
    rank rounds to 4 dp for display stability only; the iterations
    themselves are unrounded. Caveat (rows-only entry, acceptable):
    a node whose true rank sits within ~1e-12 relative of a 4-dp
    rounding boundary can flip its rounded value run-to-run (float
    aggregation order), which can change top-50 MEMBERSHIP, not just
    order, despite the deterministic (rank_approx, node) tie-break."""
    from ..operators.graph import pagerank

    ranks = pagerank(_trading_edges(spark, sf_dir), n_iter=3, exact=False)
    return ranks.select(
        _trading_node_str("node").alias("node"),
        F.round("rank", 4).alias("rank_approx"),
    ).orderBy(F.desc("rank_approx"), F.asc("node")).limit(50)


Q_PAGERANK_TRADING_SQL = """
WITH e0 AS (
  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                  'S' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, ROUND(1.0 / nn.n, 6) AS rank FROM nodes, nn),
c1 AS (
  SELECT e.dst AS node, CAST(ROUND(r.rank / o.outdeg, 6) AS DECIMAL(18,6)) AS c
  FROM edges e JOIN r0 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
),
m1 AS (SELECT node, CAST(SUM(c) AS DOUBLE) AS im FROM c1 GROUP BY node),
r1 AS (
  SELECT nodes.node,
    ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
      + CAST(0.85 AS DOUBLE) * COALESCE(m1.im, CAST(0 AS DOUBLE)), 6) AS rank
  FROM nodes LEFT JOIN m1 ON nodes.node = m1.node, nn
),
c2 AS (
  SELECT e.dst AS node, CAST(ROUND(r.rank / o.outdeg, 6) AS DECIMAL(18,6)) AS c
  FROM edges e JOIN r1 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
),
m2 AS (SELECT node, CAST(SUM(c) AS DOUBLE) AS im FROM c2 GROUP BY node),
r2 AS (
  SELECT nodes.node,
    ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
      + CAST(0.85 AS DOUBLE) * COALESCE(m2.im, CAST(0 AS DOUBLE)), 6) AS rank
  FROM nodes LEFT JOIN m2 ON nodes.node = m2.node, nn
),
c3 AS (
  SELECT e.dst AS node, CAST(ROUND(r.rank / o.outdeg, 6) AS DECIMAL(18,6)) AS c
  FROM edges e JOIN r2 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
),
m3 AS (SELECT node, CAST(SUM(c) AS DOUBLE) AS im FROM c3 GROUP BY node),
r3 AS (
  SELECT nodes.node,
    ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
      + CAST(0.85 AS DOUBLE) * COALESCE(m3.im, CAST(0 AS DOUBLE)), 6) AS rank
  FROM nodes LEFT JOIN m3 ON nodes.node = m3.node, nn
)
SELECT node, CAST(CAST(rank AS DECIMAL(18,6)) AS DOUBLE) AS rank FROM r3
ORDER BY rank DESC, node ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# q_customer_percentiles: the analytic-window surface not yet under the
# oracle gate — percent_rank / cume_dist / nth_value over an explicit
# full-partition ROWS frame. Per market segment, customers rank by
# DECIMAL total spend (unique tie-break on key), top-10 per segment.
# percent_rank/cume_dist are exact IEEE rationals -> hash-stable; the
# spend columns (DECIMAL internally) cast once to DOUBLE in the final
# select (plans/common policy — r5 proved raw-DECIMAL finals hash-red
# at the driver even with exact values).
# ---------------------------------------------------------------------------


def q_customer_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total_spend")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("total_spend"), F.asc("c_custkey")
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = spend.select(
        "c_mktsegment",
        "c_custkey",
        "total_spend",
        F.row_number().over(w).alias("rn"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("total_spend", 3).over(wfull).alias("third_spend"),
    )
    return ranked.filter(F.col("rn") <= 10).select(
        "c_mktsegment",
        "c_custkey",
        F.col("total_spend").cast("double").alias("total_spend"),
        "pct_rank",
        "cume",
        F.col("third_spend").cast("double").alias("third_spend"),
    )


Q_CUSTOMER_PERCENTILES_SQL = """
WITH spend AS (
  SELECT c_custkey, c_mktsegment,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
      AS total_spend
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey, c_mktsegment
),
ranked AS (
  SELECT c_mktsegment, c_custkey, total_spend,
    ROW_NUMBER() OVER w AS rn,
    PERCENT_RANK() OVER w AS pct_rank,
    CUME_DIST() OVER w AS cume,
    NTH_VALUE(total_spend, 3) OVER (
      PARTITION BY c_mktsegment ORDER BY total_spend DESC, c_custkey ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    ) AS third_spend
  FROM spend
  WINDOW w AS (
    PARTITION BY c_mktsegment ORDER BY total_spend DESC, c_custkey ASC
  )
)
SELECT c_mktsegment, c_custkey,
  CAST(total_spend AS DOUBLE) AS total_spend, pct_rank, cume,
  CAST(third_spend AS DOUBLE) AS third_spend
FROM ranked WHERE rn <= 10
"""


# ---------------------------------------------------------------------------
# q_snapshot_diff: data-versioning audit — row-level diff between two
# CDF-reconstructed snapshots (Delta table_changes summarized). The
# CDC history is built deterministically from orders (wave 1: year <=
# 1996; wave 2: all orders with 1995 prices doubled; wave 3: delete
# 1992), so added/removed/changed per status reduce to plain-year
# predicates the oracle evaluates directly on the base table.
# ---------------------------------------------------------------------------


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..storage.lakehouse import (
        Lakehouse,
        delete_where_with_cdf,
        snapshot_diff,
        upsert_with_cdf,
    )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
    )
    with tempfile.TemporaryDirectory() as d:
        lake = Lakehouse(spark, d)
        upsert_with_cdf(
            lake, "orders_sd", orders.where(F.col("o_year") <= 1996),
            keys=["o_orderkey"], batch_ts="2024-01-01 00:00:00",
        )
        wave2 = orders.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_year") == 1995, F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
        )
        upsert_with_cdf(lake, "orders_sd", wave2, keys=["o_orderkey"],
                        batch_ts="2024-01-02 00:00:00")
        delete_where_with_cdf(lake, "orders_sd", "o_year = 1992",
                              batch_ts="2024-01-03 00:00:00")
        diff = snapshot_diff(
            lake, "orders_sd", ["o_orderkey"],
            "2024-01-01 12:00:00", "2024-01-03 12:00:00",
        )
        out = (
            diff.groupBy("o_orderstatus")
            .pivot("_diff", ["added", "removed", "changed"])
            .count()
            .select(
                "o_orderstatus",
                F.coalesce("added", F.lit(0)).cast("bigint").alias("n_added"),
                F.coalesce("removed", F.lit(0)).cast("bigint").alias("n_removed"),
                F.coalesce("changed", F.lit(0)).cast("bigint").alias("n_changed"),
            )
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    return out


Q_SNAPSHOT_DIFF_SQL = """
SELECT o_orderstatus,
  CAST(COUNT(*) FILTER (
    WHERE EXTRACT(YEAR FROM o_orderdate) > 1996) AS BIGINT) AS n_added,
  CAST(COUNT(*) FILTER (
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1992) AS BIGINT) AS n_removed,
  CAST(COUNT(*) FILTER (
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1995) AS BIGINT) AS n_changed
FROM orders
GROUP BY o_orderstatus
HAVING n_added + n_removed + n_changed > 0
"""


# ---------------------------------------------------------------------------
# q_masked_read: fine-grained access control (row filters + column
# masks, Lakeguard/Unity-style) — an analyst principal reads customer
# with phone masked to its last four digits, name replaced by its
# sha2 pseudonym, and one segment row-filtered away entirely. The
# masks fold into the plan (pushdown-friendly), and the oracle replays
# the governed values exactly.
# ---------------------------------------------------------------------------


def q_masked_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..storage.access import PolicyCatalog, TablePolicy
    from ..storage.lakehouse import Lakehouse

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    with tempfile.TemporaryDirectory() as d:
        lake = Lakehouse(spark, d)
        lake.overwrite("customer_gov", cust)
        cat = PolicyCatalog(lake)
        cat.grant(
            "analyst",
            "customer_gov",
            TablePolicy(
                row_filter="c_mktsegment <> 'AUTOMOBILE'",
                column_masks={
                    # pseudonymize the name; partially reveal the key
                    # (last 3 digits) — the two standard mask shapes
                    "c_name": "sha2(c_name, 256)",
                    "c_custkey": "pmod(c_custkey, 1000)",
                },
            ),
        )
        gov = cat.read_as("analyst", "customer_gov")
        out = gov.groupBy("c_mktsegment").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("c_custkey").cast("bigint").alias("min_masked_key"),
            F.min("c_name").alias("min_pseudonym"),
            # exact DECIMAL sum, one final cast to DOUBLE (plans/common
            # policy — raw-DECIMAL finals are driver-hash-unsafe; this
            # one was green in r5 only because no 4-row value hit a
            # trailing-zero rendering)
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_acctbal"),
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    return out


Q_MASKED_READ_SQL = """
SELECT c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MIN(c_custkey % 1000) AS BIGINT) AS min_masked_key,
  MIN(sha256(c_name)) AS min_pseudonym,
  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2))
    AS DOUBLE) AS sum_acctbal
FROM customer
WHERE c_mktsegment <> 'AUTOMOBILE'
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# q02 min-cost supplier (adapted TPC-H Q02 — this schema has no partsupp,
# so "supply cost" is the observed unit sale price per (part, supplier)
# from lineitem). For every STANDARD part up to size 15 sold by a
# EUROPE-region supplier, pick the cheapest such supplier (row_number
# with a suppkey tiebreak — the classic correlated MIN decorrelated into
# a per-part window). Mirrors reference/warehouse Q02 semantics
# (SURVEY.md §2.3 J2/W1).
#
# Scale: lineitem is the only big table — one groupBy shuffle on
# (partkey, suppkey); part/supplier/nation/region all broadcast (the
# supplier x nation x region chain through ``broadcast_gate``: Catalyst
# multiplies a join chain's input sizes, so its estimate clears the
# threshold although the chain is one region's suppliers); the
# per-part window re-uses the partkey hash partitioning (no extra
# exchange beyond the window sort).
# ---------------------------------------------------------------------------


def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sup_eu = (
        supp.join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(broadcast_gate(spark)(sup_eu), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "p_name", "l_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                / F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
            ).alias("unit_cost")
        )
    )
    w = Window.partitionBy("l_partkey").orderBy(F.asc("unit_cost"), F.asc("l_suppkey"))
    return (
        cost.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("l_partkey").alias("p_partkey"), "p_name", "unit_cost",
        )
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"),
                 F.asc("p_partkey"))
        .limit(100)
    )


Q02_SQL = """
WITH cost AS (
  SELECT l_partkey, p_name, l_suppkey, s_name, s_acctbal, n_name,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS unit_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size <= 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
  GROUP BY l_partkey, p_name, l_suppkey, s_name, s_acctbal, n_name
), best AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY l_partkey ORDER BY unit_cost, l_suppkey) AS rn
  FROM cost
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
FROM (
  SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, p_name, unit_cost,
    ROW_NUMBER() OVER (
      ORDER BY s_acctbal DESC, n_name, s_name, l_partkey) AS rk
  FROM best WHERE rn = 1
)
WHERE rk <= 100
"""


# ---------------------------------------------------------------------------
# q11 important parts (adapted TPC-H Q11 — value held in a region's
# supplier network instead of partsupp stock): per-part revenue through
# ASIA-region suppliers, keeping parts above 0.1% of the regional total.
# The global scalar is a 1-row broadcast cross-join, never a collect.
#
# Scale: the ASIA supplier chain broadcasts through ``broadcast_gate``
# (a join chain's estimate multiplies its inputs, see q02); one
# groupBy(partkey) shuffle over the filtered lineitem; the
# grand total re-aggregates the small per-part result (second shuffle is
# over |parts| rows, not |lineitem|); threshold compare is map-side.
# ---------------------------------------------------------------------------


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sup_asia = (
        supp.join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey")
    )
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    # Carry the per-part sum as exact DECIMAL through BOTH aggregation
    # levels (re-casting the surfaced double back to decimal would hit
    # engine-specific double->decimal rounding); the only double casts
    # are the two surface ones, applied to identical exact rationals.
    # localCheckpoint: the per-part aggregate feeds BOTH the threshold
    # total and the output rows, and Spark's ReuseExchange does NOT
    # canonicalize the two branches (alias exprIds differ), so without
    # it lineitem is scanned+aggregated twice. Materializing |parts|
    # rows once costs one small job and halves the big-table work —
    # the decisive trade at 100 TB where lineitem is the 100 TB.
    per_part_dec = (
        li.join(broadcast_gate(spark)(sup_asia), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(vol).alias("_value_dec"))
        .transform(checkpoint)
    )
    total = per_part_dec.agg(
        F.sum("_value_dec").cast("double").alias("_total")
    )
    per_part = per_part_dec.select(
        "p_partkey", F.col("_value_dec").cast("double").alias("value")
    )
    return (
        per_part.crossJoin(total)
        .filter(F.col("value") > F.lit(0.001) * F.col("_total"))
        .select("p_partkey", "value")
        .orderBy(F.desc("value"), F.asc("p_partkey"))
    )


Q11_SQL = """
WITH per_part_dec AS (
  SELECT l_partkey AS p_partkey,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
      AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY l_partkey
)
SELECT p_partkey, CAST(value_dec AS DOUBLE) AS value
FROM per_part_dec
WHERE CAST(value_dec AS DOUBLE) > CAST(0.001 AS DOUBLE) * (
  SELECT CAST(SUM(value_dec) AS DOUBLE) FROM per_part_dec)
ORDER BY value DESC, p_partkey
"""


# ---------------------------------------------------------------------------
# q16 supplier diversity (adapted TPC-H Q16 — observed suppliers per part
# spec from lineitem instead of partsupp; the "complaints" exclusion is
# suppliers in deficit, s_acctbal < 0): distinct supplier counts per
# (brand, type, size) for selected sizes, excluding Brand#5 and PROMO.
#
# Scale: the part filter and the (tiny) deficit-supplier denylist (a
# left-anti join) broadcast by size; count_distinct runs as the standard
# two-level partial-distinct aggregate — one shuffle on the group key.
# ---------------------------------------------------------------------------

_Q16_SIZES = [1, 4, 9, 16, 25, 36, 49]


def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(_Q16_SIZES)
    )
    deficit = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(deficit, li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# q20 dominant suppliers (adapted TPC-H Q20 — "excess stock" becomes
# market dominance: AMERICA-region suppliers who shipped more than half
# of a red part's total 1997 volume). The classic nested IN-with-
# correlated-agg decorrelates into two aggregates joined on partkey.
#
# Scale: one (partkey, suppkey) groupBy shuffle on the date+name-pruned
# lineitem; the per-part total re-aggregates that small result; the
# region-filtered supplier chain broadcasts through ``broadcast_gate`` (a
# join chain's estimate multiplies its inputs, see q02). DISTINCT output
# is over ≤|suppliers| rows.
# ---------------------------------------------------------------------------


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    part = t(spark, sf_dir, "part").filter(F.col("p_name").startswith("red "))
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    sup_am = (
        supp.join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    # Exact DECIMAL carried through both aggregation levels; doubles
    # only at the surface (see q11's determinism note). The per-part
    # total is an unbounded window sum over the SAME grouped result —
    # one exchange on the grouped keys, no agg-to-agg self-join (the
    # naive decorrelation costs a SortMergeJoin here).
    per_ps_dec = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("_qty_dec"))
    )
    w = Window.partitionBy("l_partkey")
    shares = per_ps_dec.select(
        "l_suppkey",
        F.col("_qty_dec").cast("double").alias("supp_qty"),
        F.sum("_qty_dec").over(w).cast("double").alias("part_qty"),
    )
    return (
        shares.filter(F.col("supp_qty") > F.lit(0.5) * F.col("part_qty"))
        .join(broadcast_gate(spark)(sup_am), shares.l_suppkey == F.col("s_suppkey"))
        .select("s_name", "n_name")
        .distinct()
        .orderBy("s_name")
    )


Q20_SQL = """
WITH per_ps_dec AS (
  SELECT l_partkey, l_suppkey,
    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red %'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
), shares AS (
  SELECT l_suppkey, CAST(qty_dec AS DOUBLE) AS supp_qty,
    CAST(SUM(qty_dec) OVER (PARTITION BY l_partkey) AS DOUBLE) AS part_qty
  FROM per_ps_dec
)
SELECT DISTINCT s_name, n_name
FROM shares
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE supp_qty > CAST(0.5 AS DOUBLE) * part_qty AND r_name = 'AMERICA'
ORDER BY s_name
"""


# ---------------------------------------------------------------------------
# q_triangle_suppliers: triangle counting on the supplier co-supply
# graph (extension — completes the graph-analytics trio with PageRank
# and connected components; mirrors the reference's entity-importance
# use, SURVEY.md §2.3 J2 over a derived relation). Edges connect two
# suppliers whose shared-order count exceeds 1.05x the mean pair
# weight (a scale-free cut: the raw projection of any hub-shaped
# bipartite relation is near-complete, so thresholding on relative
# co-occurrence is what keeps the graph sparse at any SF).
#
# Scale: the per-order supplier fan is bounded (TPC-H orders carry
# <=7 lineitems), so the pair self-join is linear in lineitem; the
# mean-weight cut is a 1-row broadcast; triangle_counts then runs the
# degree-oriented wedge join (see operators/graph.py) — the oriented
# out-degree is O(sqrt(E)) so no hub quadratic blowup.
# ---------------------------------------------------------------------------


def cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded supplier co-supply projection — the shared graph for
    q_triangle_suppliers and q_supplier_reach (edge semantics and the
    1.05x-mean sparsity cut documented at q_triangle_suppliers).

    Public so callers running SEVERAL graph queries materialize the
    edge once and pass it via each query's ``edges=`` parameter (the
    bm25_topk(tf_index=) / ivfpq_build amortization pattern): the
    lineitem self-join dominates every co-supply query's wall, and at
    100 TB rebuilding it per query is the bottleneck, not the graph
    algorithm. Within-session snapshot-immutability contract applies
    as for the tf/IVFPQ artifacts (plans/llm_q.py): a prebuilt edge
    table reflects the source tables at build time."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2")
    )
    # localCheckpoint: the pair-weight aggregate feeds BOTH the mean
    # threshold and the edge filter, and ReuseExchange does not fire
    # across the branches (same failure as q11's per-part aggregate) —
    # without it the lineitem self-join + groupBy runs twice.
    pairs = (
        a.join(b, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("cnt"))
        .transform(checkpoint)
    )
    mean_w = pairs.agg(
        (F.sum("cnt").cast("double") / F.count("*")).alias("_mean")
    )
    return (
        pairs.crossJoin(mean_w)
        .filter(F.col("cnt").cast("double") > F.lit(1.05) * F.col("_mean"))
        .select(F.col("s1").alias("src"), F.col("s2").alias("dst"))
    )


def q_triangle_suppliers(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    from ..operators.graph import triangle_counts

    if edges is None:
        edges = cosupply_edges(spark, sf_dir)
    return (
        triangle_counts(edges)
        .select("node", F.col("triangles").cast("bigint").alias("triangles"))
        .orderBy(F.desc("triangles"), F.asc("node"))
        .limit(50)
    )


Q_TRIANGLE_SUPPLIERS_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
pairs AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, COUNT(*) AS cnt
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY a.l_suppkey, b.l_suppkey
),
edges AS (
  SELECT s1 AS a, s2 AS b FROM pairs
  WHERE CAST(cnt AS DOUBLE) > 1.05 * (
    SELECT CAST(SUM(cnt) AS DOUBLE) / COUNT(*) FROM pairs)
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
FROM corners GROUP BY node
ORDER BY triangles DESC, node
LIMIT 50
"""


# ---------------------------------------------------------------------------
# q_fuzzy_part_match: record linkage / entity resolution (extension —
# the fuzzy-join shape every dedup-adjacent warehouse needs): part
# names blocked on their final token (the "noun" blocking key), then
# verified with edit distance <= 4 — color/adjective variants of the
# same product line ("red widget" ~ "blue widget").
#
# Scale: classic blocking-key design — levenshtein never runs
# all-pairs; the block equi-join bounds candidates to within-block
# pairs, and the verify is a map-side expression. Same architecture
# as the MinHash->verify near-dup path (operators/dedup.py), applied
# to short entity strings instead of documents.
# ---------------------------------------------------------------------------


# One source of truth for the match definition — q_fuzzy_part_match
# and q_entity_clusters (and their SQL twins) must agree on the block
# key and the distance threshold or the capstone silently diverges.
_FUZZY_BLOCK_RE = r"([^ ]+)$"
_FUZZY_MAX_DIST = 4
# Secondary blocking: levenshtein(a, b) >= abs(len(a) - len(b)), so a
# pair within the threshold differs in length by at most _FUZZY_MAX_DIST
# — with band width threshold+1, its two length bands differ by at most
# 1. Joining on (blk, band) with the probe side exploded to its three
# adjacent bands is therefore RECALL-LOSSLESS: the candidate set shrinks
# (hot suffix blocks like "inc"/"llc" split by name length instead of
# going all-pairs) while the verified result is provably identical —
# which is why the SQL twins keep the plain last-token block: the oracle
# match is the equivalence proof. Candidates drop from O(n_blk^2) to
# O(sum n_band * (n_band + n_adjacent)) per block; a same-length
# adversarial block degrades gracefully to the old bound (and a
# same-length hot block that IS one fuzzy cluster has a quadratic true
# result anyway). Measured on a 100k-name hot-suffix synthetic in
# SCALING.md (fuzzy-hot-block row).
_FUZZY_BAND = _FUZZY_MAX_DIST + 1


def _fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(name_a, name_b, dist): verified fuzzy matches over distinct
    part names — DELEGATES to the uncapped
    operators/linkage.fuzzy_block_pairs pipeline ((last-token,
    length-band) block, levenshtein <= threshold inside blocks, never
    all-pairs), so there is exactly ONE implementation of the match
    definition the SQL twins and the capped production path must
    mirror. The operator's defaults ARE this module's constants
    (_LAST_TOKEN_RE == _FUZZY_BLOCK_RE, band width == max_dist + 1)."""
    from ..operators.linkage import fuzzy_block_pairs

    names = t(spark, sf_dir, "part").select("p_name").distinct()
    return fuzzy_block_pairs(
        names,
        name_col="p_name",
        block=F.regexp_extract("p_name", _FUZZY_BLOCK_RE, 1),
        max_dist=_FUZZY_MAX_DIST,
    )


def q_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fuzzy_name_pairs(spark, sf_dir).orderBy("name_a", "name_b")


Q_FUZZY_PART_MATCH_SQL = """
WITH names AS (SELECT DISTINCT p_name FROM part),
keyed AS (
  SELECT p_name, regexp_extract(p_name, '([^ ]+)$', 1) AS blk FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 4
ORDER BY name_a, name_b
"""


# ---------------------------------------------------------------------------
# q_entity_clusters: full entity-resolution pipeline (extension — the
# capstone over q_fuzzy_part_match): blocking-key fuzzy join -> verified
# match pairs -> connected components -> canonical representative per
# cluster. The same block/verify/cluster architecture the near-dup
# pipeline uses on documents (operators/dedup.py), applied to entity
# strings — "red widget" / "blue widget" / "hot widget" collapse to one
# canonical product line.
#
# Scale: the pair list is block-bounded (never all-pairs); CC converges
# at any depth (propagation for shallow entity-variant clusters, the
# star engine past its round budget);
# cluster size + canonical pick are one groupBy + window over |entities|
# rows. Oracle replays the clustering as a recursive reachability CTE.
# ---------------------------------------------------------------------------


def q_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    names = t(spark, sf_dir, "part").select("p_name").distinct()
    pairs = _fuzzy_name_pairs(spark, sf_dir).select(
        F.col("name_a").alias("id_a"), F.col("name_b").alias("id_b")
    )
    cc = connected_components(pairs, names, id_col="p_name")
    w = Window.partitionBy("component")
    return cc.select(
        F.col("p_name").alias("entity"),
        F.col("component").alias("cluster_rep"),
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
        (F.col("p_name") == F.col("component")).alias("is_canonical"),
    ).orderBy("cluster_rep", "entity")


Q_ENTITY_CLUSTERS_SQL = """
WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
keyed AS (
  SELECT p_name, regexp_extract(p_name, '([^ ]+)$', 1) AS blk FROM names
),
pairs AS (
  SELECT a.p_name AS id_a, b.p_name AS id_b
  FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 4
),
sym AS (
  SELECT id_a AS v, id_b AS u FROM pairs
  UNION ALL
  SELECT id_b AS v, id_a AS u FROM pairs
),
reach(v, r) AS (
  SELECT p_name, p_name FROM names
  UNION
  SELECT s.u, reach.r FROM reach JOIN sym s ON s.v = reach.v
),
comp AS (
  SELECT v AS entity, MIN(r) AS cluster_rep FROM reach GROUP BY v
)
SELECT entity, cluster_rep,
  CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size,
  entity = cluster_rep AS is_canonical
FROM comp
ORDER BY cluster_rep, entity
"""


# ---------------------------------------------------------------------------
# q_pareto_parts: 2-D skyline / Pareto frontier (extension — the
# multi-criteria shortlist every procurement/ranking dashboard wants):
# parts not dominated on (minimize retail price, maximize size).
#
# Spark side is the SORT-SCAN skyline: distinct (price, size) points,
# one window ordered by (price asc, size desc) keeping a running max of
# size over the preceding rows — a point is on the frontier iff its
# size beats every cheaper-or-equal point's. O(P log P) on |distinct
# points|, a single window after a groupBy that collapses the base
# table map-side. The DuckDB twin is the NAIVE dominance NOT EXISTS
# (O(P^2)) — an independent formulation, so the oracle proves the
# window algorithm, not just re-runs it.
#
# Scale: the frontier computation runs on the aggregated point set
# (bounded by |price x size| cardinality, not row count). For a
# frontier over billions of DISTINCT points, partition by price range
# and merge per-partition frontiers — same window, two passes.
# ---------------------------------------------------------------------------


def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    pts = part.groupBy(
        F.col("p_retailprice").alias("retail_price"),
        F.col("p_size").alias("size"),
    ).agg(F.count("*").cast("bigint").alias("n_parts"))
    w = (
        Window.orderBy(F.asc("retail_price"), F.desc("size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("_best_prev", F.max("size").over(w))
        .filter(
            F.col("_best_prev").isNull()
            | (F.col("size") > F.col("_best_prev"))
        )
        .select("retail_price", "size", "n_parts")
        .orderBy("retail_price", "size")
    )


Q_PARETO_PARTS_SQL = """
WITH pts AS (
  SELECT p_retailprice AS retail_price, p_size AS size,
    CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1, 2
)
SELECT retail_price, size, n_parts
FROM pts q
WHERE NOT EXISTS (
  SELECT 1 FROM pts p
  WHERE p.retail_price <= q.retail_price AND p.size >= q.size
    AND (p.retail_price < q.retail_price OR p.size > q.size)
)
ORDER BY retail_price, size
"""


# ---------------------------------------------------------------------------
# q_column_profile: per-column data-profile of orders (extension — the
# ANALYZE-style profile behind data-quality dashboards and catalog
# stats): null count, exact distinct count, min/max rendered as text.
# One pass, one aggregate row, inlined to (column, stats) rows — the
# unpivot runs on a 1-row aggregate, not on data. Exact distinct counts
# use Spark's Expand (one shuffle per distinct column merged into one
# agg); at 100 TB swap approx_count_distinct in — the frame is
# identical, the agg expression is the knob.
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]
# DOUBLE columns render via printf-style %.6f in BOTH engines: the
# engines' native double->string casts agree only inside [1e-3, 1e7)
# (Spark switches to Java scientific notation outside it, DuckDB does
# not), while %.6f of the same double is identical everywhere — and
# ties at the 7th decimal are impossible for binary doubles, so the
# formatters' rounding conventions never get a say.
_PROFILE_DOUBLE_COLS = {"o_totalprice"}


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")

    def rendered(expr, c):
        if c in _PROFILE_DOUBLE_COLS:
            # NULL guard: Spark's format_string renders NULL as the
            # string 'null' while DuckDB's printf propagates SQL NULL
            # — an all-NULL column must stay NULL in both.
            return F.when(expr.isNotNull(), F.format_string("%.6f", expr))
        return expr.cast("string")

    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            rendered(F.min(F.col(c)), c).alias(f"{c}__min"),
            rendered(F.max(F.col(c)), c).alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        for c in _PROFILE_COLS
    ]
    return one.select(F.inline(F.array(*structs))).orderBy("column_name")


def _profile_render_sql(agg: str, c: str) -> str:
    if c in _PROFILE_DOUBLE_COLS:
        return f"printf('%.6f', {agg}({c}))"
    return f"CAST({agg}({c}) AS VARCHAR)"


Q_COLUMN_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
  CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
  {_profile_render_sql('MIN', c)} AS min_value,
  {_profile_render_sql('MAX', c)} AS max_value
FROM orders"""
    for c in _PROFILE_COLS
) + "\nORDER BY column_name"


# ---------------------------------------------------------------------------
# q_kanon_risk: k-anonymity audit of the customer quasi-identifier
# combination (nation, market segment) — the governance measure behind
# "can this projection be published": any combination shared by fewer
# than k individuals re-identifies them (Sweeney 2002). Output is the
# per-combination equivalence-class size and the at-risk flag; one
# groupBy, map-side combinable, |nations x segments| output rows.
# Companion to the masking path (storage/access.py q_masked_read).
# ---------------------------------------------------------------------------

_KANON_K = 5


def q_kanon_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("class_size"))
        .withColumn("at_risk", F.col("class_size") < _KANON_K)
        .orderBy("c_nationkey", "c_mktsegment")
    )


Q_KANON_RISK_SQL = f"""
SELECT c_nationkey, c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS class_size,
  COUNT(*) < {_KANON_K} AS at_risk
FROM customer
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


# ---------------------------------------------------------------------------
# q_benford_totals: first-significant-digit profile of order totals vs
# Benford's law (extension — the classic fraud/data-entry anomaly
# screen). Digit extraction is string-based (first char of the casted
# value) so both engines agree bit-for-bit without log10 edge cases;
# the expected Benford mass log10(1 + 1/d) is generated ONCE in Python
# and inlined as the same literal doubles into both plans. One groupBy
# on 9 keys + a scalar total — trivially map-side at any scale.
# The filter is >= 1, not > 0: the string-cast first character is the
# first SIGNIFICANT digit only for values >= 1 (a value in (0,1) would
# contribute a digit-0 row outside the Benford profile). TPC-H
# o_totalprice is always >> 1, so the tightened bound changes nothing
# on this data while keeping the profile well-defined in general.
# ---------------------------------------------------------------------------

_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def q_benford_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    digit = F.substring(F.col("o_totalprice").cast("string"), 1, 1).cast("int")
    counts = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for d, e in _BENFORD.items() for x in (d, e)]
        ),
        F.col("digit"),
    )
    w = Window.partitionBy()
    return (
        counts.withColumn(
            "freq", F.col("n").cast("double") / F.sum("n").over(w)
        )
        .withColumn("expected_freq", expected)
        .orderBy("digit")
    )


Q_BENFORD_TOTALS_SQL = f"""
WITH counts AS (
  SELECT CAST(SUBSTR(CAST(o_totalprice AS VARCHAR), 1, 1) AS INTEGER) AS digit,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
)
SELECT digit, n,
  CAST(n AS DOUBLE) / SUM(n) OVER () AS freq,
  CAST(CASE digit
    {" ".join(f"WHEN {d} THEN {e!r}" for d, e in _BENFORD.items())}
  END AS DOUBLE) AS expected_freq
FROM counts
ORDER BY digit
"""


# ---------------------------------------------------------------------------
# q_copurchase_brands: item-item collaborative filtering over the order
# basket (extension — the "customers who bought X also bought Y" score
# every recommender bootstrap starts from; Linden 2003 item-item CF).
# Grain: distinct (order, brand) incidence from lineitem x part; the
# within-order self-join (brand_a < brand_b) yields co-occurrence
# counts, scored by cosine n_both/sqrt(n_a*n_b) and overlap
# n_both/min(n_a,n_b). Both scores are single IEEE ops over exact
# BIGINT counts — sqrt is correctly rounded per IEEE-754, so the
# doubles are bit-identical across engines (unlike log/exp, which the
# battery deliberately avoids).
#
# Scale: candidate pairs grow with sum_orders(basket_brands^2), NOT
# corpus^2 — the basket is the block, exactly the bounded-block
# discipline of the fuzzy-linkage join. TPC-H baskets are <= 7 items;
# real carts need the same cap-and-salt treatment as
# operators/linkage.fuzzy_block_pairs for pathological mega-baskets.
# The brand-count join is a broadcast (|brands| rows) through
# ``broadcast_gate``: the counts aggregate a checkpoint, which Catalyst
# sizes as the whole basket table.
# ---------------------------------------------------------------------------


def brand_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, brand) incidence — the basket table
    q_copurchase_brands scores over. Public for the same amortization
    reason as cosupply_edges: the lineitem x part join is the dominant
    cost, so callers scoring several CF variants build it once and pass
    it via ``baskets=``. localCheckpoint: the frame feeds the brand
    counts AND both legs of the self-join — four plan branches that
    would each recompute the join (ReuseExchange does not fire across
    them, the q11/triangle lesson)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .transform(checkpoint)
    )


def q_copurchase_brands(
    spark: SparkSession, sf_dir: str, baskets: DataFrame | None = None
) -> DataFrame:
    ob = baskets if baskets is not None else brand_baskets(spark, sf_dir)
    bc = ob.groupBy("brand").agg(F.count("*").cast("bigint").alias("n_orders"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey"))
               & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("n_orders").alias("n_a"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("n_orders").alias("n_b"))
    brd = broadcast_gate(spark)
    return (
        pairs.join(brd(ca), "brand_a")
        .join(brd(cb), "brand_b")
        .select(
            "brand_a", "brand_b", "n_both",
            (F.col("n_both").cast("double")
             / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
             ).alias("cosine_sim"),
            (F.col("n_both").cast("double")
             / F.least(F.col("n_a"), F.col("n_b"))).alias("overlap_coef"),
        )
        .orderBy("brand_a", "brand_b")
    )


Q_COPURCHASE_BRANDS_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
bc AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_orders FROM ob GROUP BY 1
),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
    CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_both,
  CAST(n_both AS DOUBLE)
    / SQRT(CAST(ca.n_orders * cb.n_orders AS DOUBLE)) AS cosine_sim,
  CAST(n_both AS DOUBLE) / LEAST(ca.n_orders, cb.n_orders) AS overlap_coef
FROM pairs
JOIN bc ca ON brand_a = ca.brand
JOIN bc cb ON brand_b = cb.brand
ORDER BY brand_a, brand_b
"""


# ---------------------------------------------------------------------------
# q_gini_revenue: Gini concentration of customer revenue within each
# market segment (extension — the inequality/concentration KPI behind
# "top 1% of customers drive X%" dashboards; also the standard
# label-imbalance screen on training-data source mixes).
#
# G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x)) over the
# revenue-ascending ranking i = 1..n. Everything up to the final
# division is INTEGER arithmetic: revenue folds to exact BIGINT cents
# (decimal sum * 100), ranks come from row_number with a custkey
# tiebreak (ties share equal x so the rank permutation cannot change
# the sum), and the two BIGINT aggregates convert exactly to double
# (magnitudes << 2^53 at any plausible segment size) for ONE final
# division — bit-identical across engines, no decimal-promotion rules
# in play.
#
# Scale: one orders groupBy to |customers| rows, a per-segment window
# rank (the segment is the parallelism unit — no global sort), one
# groupBy to |segments| rows. At extreme per-segment cardinality the
# rank becomes the scan-sort bottleneck; the fix is the standard
# two-pass histogram Gini on binned revenue, same downstream formula.
# ---------------------------------------------------------------------------


def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    g = ranked.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("s1"),
    )
    return g.select(
        F.col("c_mktsegment").alias("segment"),
        "n_customers",
        (F.col("s").cast("double") / 100).alias("total_revenue"),
        (
            (2 * F.col("s1") - (F.col("n_customers") + 1) * F.col("s"))
            .cast("double")
            / (F.col("n_customers") * F.col("s")).cast("double")
        ).alias("gini"),
    ).orderBy("segment")


Q_GINI_REVENUE_SQL = """
WITH rev AS (
  SELECT c_mktsegment, c_custkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c_mktsegment, cents,
    ROW_NUMBER() OVER (
      PARTITION BY c_mktsegment ORDER BY cents, c_custkey
    ) AS i
  FROM rev
),
g AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
    CAST(SUM(cents) AS BIGINT) AS s,
    CAST(SUM(i * cents) AS BIGINT) AS s1
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment AS segment, n_customers,
  CAST(s AS DOUBLE) / 100 AS total_revenue,
  CAST(2 * s1 - (n_customers + 1) * s AS DOUBLE)
    / CAST(n_customers * s AS DOUBLE) AS gini
FROM g
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# q_supplier_reach: bounded-hop BFS over the supplier co-supply graph —
# how many suppliers sit 0/1/2/3 hops from the smallest supplier in the
# graph (extension — the reachability leg of the graph trio: CC answers
# "same component", PageRank "how central", BFS "how far"; the
# neighborhood-expansion primitive behind supply-chain blast-radius and
# fraud-ring queries). Graph and sparsity cut are shared with
# q_triangle_suppliers via cosupply_edges.
#
# All arithmetic is integer (node ids, hop counters, counts, id sums) —
# oracle-exact by construction. The SQL twin unrolls the 3 bounded
# frontiers as CTE set-differences; Spark runs the same frontier
# algebra through operators/graph.bfs_hops (equi-join + anti-join per
# round, visited set checkpointed — no driver state).
#
# Scale: each hop is one shuffle join keyed on node ids; frontier and
# visited are (node, dist) tables bounded by |V|. The co-supply edge
# build dominates (same cost envelope as the triangle query).
# ---------------------------------------------------------------------------


def q_supplier_reach(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    from ..operators.graph import bfs_hops

    if edges is None:
        edges = cosupply_edges(spark, sf_dir)
    dists = bfs_hops(edges, max_hops=3)
    return (
        dists.groupBy("dist")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.sum("node").cast("bigint").alias("node_sum"),
        )
        .orderBy("dist")
    )


Q_SUPPLIER_REACH_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
pairs AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, COUNT(*) AS cnt
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY a.l_suppkey, b.l_suppkey
),
edges AS (
  SELECT s1 AS a, s2 AS b FROM pairs
  WHERE CAST(cnt AS DOUBLE) > 1.05 * (
    SELECT CAST(SUM(cnt) AS DOUBLE) / COUNT(*) FROM pairs)
),
und AS (
  SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges
),
d0 AS (
  SELECT node FROM (SELECT MIN(u) AS node FROM und) s
  WHERE node IS NOT NULL
),
d1 AS (
  SELECT DISTINCT v AS node FROM und JOIN d0 ON und.u = d0.node
  WHERE v NOT IN (SELECT node FROM d0)
),
d2 AS (
  SELECT DISTINCT v AS node FROM und JOIN d1 ON und.u = d1.node
  WHERE v NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1)
),
d3 AS (
  SELECT DISTINCT v AS node FROM und JOIN d2 ON und.u = d2.node
  WHERE v NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1
                  UNION ALL SELECT node FROM d2)
),
dists AS (
  SELECT node, 0 AS dist FROM d0
  UNION ALL SELECT node, 1 FROM d1
  UNION ALL SELECT node, 2 FROM d2
  UNION ALL SELECT node, 3 FROM d3
)
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
  CAST(SUM(node) AS BIGINT) AS node_sum
FROM dists
GROUP BY dist
ORDER BY dist
"""


# ---------------------------------------------------------------------------
# q_fk_integrity: referential-integrity audit across every foreign-key
# edge of the star schema in one report (extension — the data-quality
# sweep run before any warehouse is trusted; the relational sibling of
# q_column_profile). One row per FK edge: child rowcount, orphan count
# (child keys with no parent — NULL child keys count as orphans, the
# strict reading), orphan rate.
#
# Counts are exact integers; the rate is one double division —
# oracle-exact by construction.
#
# Scale: every child table is scanned ONCE — a child with several FK
# columns (lineitem has three) audits them all in a single pass of
# chained left joins against DISTINCT parent keys, then one agg row
# whose null-counters unpivot into the per-edge report (stack is
# map-only on a 1-row frame). The dimension parents (nation, region,
# customer, supplier, part) broadcast by size; the one big-parent edge
# (lineitem->orders) is a plain shuffled equi-join AQE can re-plan.
# ---------------------------------------------------------------------------

# child -> [(child_key, parent, parent_key)], one audit pass per child
_FK_EDGES = {
    "lineitem": [
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ],
    "orders": [("o_custkey", "customer", "c_custkey")],
    "customer": [("c_nationkey", "nation", "n_nationkey")],
    "supplier": [("s_nationkey", "nation", "n_nationkey")],
    "nation": [("n_regionkey", "region", "r_regionkey")],
}


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    reports = []
    for child, edges in _FK_EDGES.items():
        j = t(spark, sf_dir, child).select(
            *[F.col(ckey) for ckey, _, _ in edges]
        )
        for i, (ckey, parent, pkey) in enumerate(edges):
            pk = (
                t(spark, sf_dir, parent)
                .select(F.col(pkey).alias(f"_pk{i}"))
                .distinct()
            )
            j = j.join(pk, F.col(ckey) == F.col(f"_pk{i}"), "left")
        agg = j.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            *[
                F.sum(F.col(f"_pk{i}").isNull().cast("int"))
                .cast("bigint")
                .alias(f"_orph{i}")
                for i in range(len(edges))
            ],
        )
        arms = ", ".join(
            f"'{child}.{ckey}->{parent}.{pkey}', _orph{i}"
            for i, (ckey, parent, pkey) in enumerate(edges)
        )
        rep = agg.select(
            F.expr(
                f"stack({len(edges)}, {arms}) AS (fk_edge, n_orphans)"
            ),
            "n_rows",
        ).select(
            "fk_edge",
            "n_rows",
            "n_orphans",
            (
                F.col("n_orphans").cast("double")
                / F.col("n_rows").cast("double")
            ).alias("orphan_rate"),
        )
        reports.append(rep)
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.orderBy("fk_edge")


Q_FK_INTEGRITY_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{child}.{ckey}->{parent}.{pkey}' AS fk_edge,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_orphans,
  CAST(SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS orphan_rate
FROM {child}
LEFT JOIN (SELECT DISTINCT {pkey} AS _pk FROM {parent}) p
  ON {ckey} = p._pk"""
    for child, edges in _FK_EDGES.items()
    for ckey, parent, pkey in edges
) + "\nORDER BY fk_edge"


# ---------------------------------------------------------------------------
# q_revenue_concentration: Lorenz-curve head statistics per market
# segment — the "how many whales cover half the revenue" companion to
# q_gini_revenue's single scalar (extension — contribution analysis /
# ABC classification; on training corpora the same query sizes how few
# sources dominate a mixture). Per segment: customer count, the
# minimum number of top customers covering >=50% and >=90% of revenue,
# and the share held by the top decile (ceil(n/10) customers).
#
# Revenue folds to exact BIGINT cents (the q_gini_revenue policy); the
# coverage thresholds compare 2*cum >= total and 10*cum >= 9*total in
# INTEGER arithmetic (no 0.5*total double); the only doubles are the
# two final share divisions — oracle-exact by construction.
#
# Scale: one orders groupBy to |customers| rows, one per-segment
# window pass (rank + running sum share a single sort, the segment is
# the parallelism unit), one groupBy to |segments| rows. At extreme
# per-segment cardinality the same statistics come from a binned
# histogram (the q_gini_revenue escape hatch).
# ---------------------------------------------------------------------------


def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("cents"), F.asc("c_custkey")
    )
    part = Window.partitionBy("c_mktsegment")
    ranked = rev.select(
        "c_mktsegment",
        "cents",
        F.row_number().over(w).alias("rk"),
        F.sum("cents")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cents").over(part).alias("tot"),
        F.count("*").over(part).alias("n"),
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("rk")))
            .cast("bigint")
            .alias("k50"),
            F.min(F.when(10 * F.col("cum") >= 9 * F.col("tot"), F.col("rk")))
            .cast("bigint")
            .alias("k90"),
            (
                F.sum(
                    F.when(
                        F.col("rk") <= F.expr("(n + 9) div 10"),
                        F.col("cents"),
                    )
                ).cast("double")
                / F.max("tot").cast("double")
            ).alias("top_decile_share"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            "n_customers",
            "k50",
            "k90",
            "top_decile_share",
        )
        .orderBy("segment")
    )


Q_REVENUE_CONCENTRATION_SQL = """
WITH rev AS (
  SELECT c_mktsegment, c_custkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c_mktsegment, cents,
    ROW_NUMBER() OVER (
      PARTITION BY c_mktsegment ORDER BY cents DESC, c_custkey
    ) AS rk,
    SUM(cents) OVER (
      PARTITION BY c_mktsegment ORDER BY cents DESC, c_custkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum,
    SUM(cents) OVER (PARTITION BY c_mktsegment) AS tot,
    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM rev
)
SELECT c_mktsegment AS segment,
  CAST(MAX(n) AS BIGINT) AS n_customers,
  CAST(MIN(CASE WHEN 2 * cum >= tot THEN rk END) AS BIGINT) AS k50,
  CAST(MIN(CASE WHEN 10 * cum >= 9 * tot THEN rk END) AS BIGINT) AS k90,
  CAST(SUM(CASE WHEN rk <= (n + 9) // 10 THEN cents END) AS DOUBLE)
    / CAST(MAX(tot) AS DOUBLE) AS top_decile_share
FROM ranked
GROUP BY c_mktsegment
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# q_corr_profile: Pearson correlation matrix over lineitem's numeric
# triple (quantity, extendedprice, discount) per return flag
# (extension — the feature-correlation screen run before any modeling
# or mixture design; the bivariate companion to q_column_profile's
# univariate stats). NOT Spark's corr()/DuckDB's CORR(): both are
# order-sensitive streaming doubles that can disagree in the last
# bits. Instead the five sufficient statistics (sum x, sum y, sum xy,
# sum x^2, sum y^2) accumulate EXACTLY — values fold to integer cents,
# per-row products stay within BIGINT, and the sums carry
# DECIMAL(38,0) so a 100 TB rowcount cannot overflow — then each
# correlation is one identical double expression on the exact sums:
# r = (n*sxy - sx*sy) / sqrt((n*sxx - sx^2) * (n*syy - sy^2)).
# Cross-engine cast envelope (probed, see q_lag1_autocorr): DuckDB's
# int128 -> DOUBLE double-rounds via 64-bit limbs above 2^64 ~ 1.8e19,
# so bit-equal casts need sums under it — cents products (<= 1e14/row)
# hold through ~1e5x the bench scale; past that, coarsen the unit or
# center per-partition first.
#
# Scale: ONE scan, one partial-aggregating groupBy to |flags| rows.
# The entire correlation matrix costs exactly one shuffle of 5 numbers
# per (group, pair) — the sufficient-statistics trick is what makes
# feature screens affordable at corpus scale.
# ---------------------------------------------------------------------------


def _pearson_from_sums(n, sx, sy, sxy, sxx, syy):
    # zero-variance guard: a constant column makes its n*sxx - sx^2
    # term 0 and r undefined (0/0). Emit NULL — in BOTH engines (the
    # SQL twin mirrors the CASE) — rather than engine-dependent NaN.
    nd = n.cast("double")
    vx = nd * sxx.cast("double") - sx.cast("double") * sx.cast("double")
    vy = nd * syy.cast("double") - sy.cast("double") * sy.cast("double")
    num = nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")
    return F.when((vx > 0) & (vy > 0), num / F.sqrt(vx * vy))


def q_corr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("q"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("p"),
        (F.col("l_discount").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("d"),
    )

    def s(colexpr, alias):
        return F.sum(colexpr.cast("decimal(38,0)")).alias(alias)

    sums = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        s(F.col("q"), "sq"), s(F.col("p"), "sp"), s(F.col("d"), "sd"),
        s(F.col("q") * F.col("p"), "sqp"),
        s(F.col("p") * F.col("d"), "spd"),
        s(F.col("q") * F.col("d"), "sqd"),
        s(F.col("q") * F.col("q"), "sqq"),
        s(F.col("p") * F.col("p"), "spp"),
        s(F.col("d") * F.col("d"), "sdd"),
    )
    c = F.col
    return sums.select(
        "l_returnflag",
        "n",
        _pearson_from_sums(
            c("n"), c("sq"), c("sp"), c("sqp"), c("sqq"), c("spp")
        ).alias("corr_qty_price"),
        _pearson_from_sums(
            c("n"), c("sp"), c("sd"), c("spd"), c("spp"), c("sdd")
        ).alias("corr_price_disc"),
        _pearson_from_sums(
            c("n"), c("sq"), c("sd"), c("sqd"), c("sqq"), c("sdd")
        ).alias("corr_qty_disc"),
    ).orderBy("l_returnflag")


def _sql_pearson(sx: str, sy: str, sxy: str, sxx: str, syy: str) -> str:
    n = "CAST(n AS DOUBLE)"
    vx = f"({n} * CAST({sxx} AS DOUBLE) - CAST({sx} AS DOUBLE) * CAST({sx} AS DOUBLE))"
    vy = f"({n} * CAST({syy} AS DOUBLE) - CAST({sy} AS DOUBLE) * CAST({sy} AS DOUBLE))"
    num = f"({n} * CAST({sxy} AS DOUBLE) - CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE))"
    return (
        f"CASE WHEN {vx} > 0 AND {vy} > 0 "
        f"THEN {num} / SQRT({vx} * {vy}) END"
    )


Q_CORR_PROFILE_SQL = f"""
WITH ints AS (
  SELECT l_returnflag,
    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q,
    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p,
    CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS d
  FROM lineitem
),
sums AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(q AS DECIMAL(38,0))) AS sq,
    SUM(CAST(p AS DECIMAL(38,0))) AS sp,
    SUM(CAST(d AS DECIMAL(38,0))) AS sd,
    SUM(CAST(q * p AS DECIMAL(38,0))) AS sqp,
    SUM(CAST(p * d AS DECIMAL(38,0))) AS spd,
    SUM(CAST(q * d AS DECIMAL(38,0))) AS sqd,
    SUM(CAST(q * q AS DECIMAL(38,0))) AS sqq,
    SUM(CAST(p * p AS DECIMAL(38,0))) AS spp,
    SUM(CAST(d * d AS DECIMAL(38,0))) AS sdd
  FROM ints GROUP BY 1
)
SELECT l_returnflag, n,
  {_sql_pearson('sq', 'sp', 'sqp', 'sqq', 'spp')} AS corr_qty_price,
  {_sql_pearson('sp', 'sd', 'spd', 'spp', 'sdd')} AS corr_price_disc,
  {_sql_pearson('sq', 'sd', 'sqd', 'sqq', 'sdd')} AS corr_qty_disc
FROM sums
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q_geo_radius_join: spatial radius join via grid-cell blocking
# (extension — the one join class the battery lacked: proximity. The
# standard distributed form: hash each point to a grid cell of side =
# radius, probe the 3x3 cell neighborhood, verify exact distance —
# candidates are O(N * local density), NEVER all pairs, the same
# bounded-block discipline as the LSH and fuzzy-linkage joins).
#
# The tables carry no coordinates, so both engines derive synthetic
# uniform positions in [0,1)^2 from the md5 fraction of the entity key
# (the KMV/MinHash cross-engine hash idiom: Spark
# conv(substr(md5(s),1,15),16,10) == DuckDB
# CAST('0x' || substr(md5(s),1,15) AS BIGINT)); the exact division by
# 16^15 and the squared-distance comparison are identical IEEE ops —
# bit-equal coordinates, bit-equal verdicts. Report: per customer
# nation, customers with >= 1 supplier within r, and total pairs.
#
# Scale: cell ids are integer FLOOR(p/r); the 9-offset probe explodes
# the SMALLER side only (suppliers), the join is a plain equi-join on
# (cx, cy), and the verify is row-local arithmetic. At 100 TB the cell
# histogram is the skew knob (dense cities -> salt hot cells, exactly
# the fuzzy-linkage cap) — uniform synthetic coordinates keep the demo
# honest while the operator shape is the production one.
# ---------------------------------------------------------------------------

_GEO_R = 0.02


def _md5_frac(col, salt: str):
    from ..operators.sketches import md5_fraction

    return md5_fraction(col, salt)


def q_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        _md5_frac(F.col("c_custkey"), "cx:").alias("px"),
        _md5_frac(F.col("c_custkey"), "cy:").alias("py"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _md5_frac(F.col("s_suppkey"), "sx:").alias("qx"),
        _md5_frac(F.col("s_suppkey"), "sy:").alias("qy"),
    )
    r = F.lit(_GEO_R)
    c = cust.withColumn("cx", F.floor(F.col("px") / r)).withColumn(
        "cy", F.floor(F.col("py") / r)
    )
    offs = F.array(F.lit(-1), F.lit(0), F.lit(1))
    s = (
        supp.withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            "s_suppkey",
            "qx",
            "qy",
            (F.floor(F.col("qx") / r) + F.col("dx")).alias("cx"),
            (F.floor(F.col("qy") / r) + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx")) + (
        F.col("py") - F.col("qy")
    ) * (F.col("py") - F.col("qy"))
    pairs = c.join(s, ["cx", "cy"]).where(d2 < r * r)
    return (
        pairs.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.countDistinct("c_custkey")
            .cast("bigint")
            .alias("n_customers_covered"),
        )
        .orderBy("c_nationkey")
    )


Q_GEO_RADIUS_JOIN_SQL = f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey,
    CAST(CAST('0x' || substr(md5('cx:' || CAST(c_custkey AS VARCHAR)), 1, 15)
         AS BIGINT) AS DOUBLE) / {float(16**15)!r} AS px,
    CAST(CAST('0x' || substr(md5('cy:' || CAST(c_custkey AS VARCHAR)), 1, 15)
         AS BIGINT) AS DOUBLE) / {float(16**15)!r} AS py
  FROM customer
),
supp AS (
  SELECT s_suppkey,
    CAST(CAST('0x' || substr(md5('sx:' || CAST(s_suppkey AS VARCHAR)), 1, 15)
         AS BIGINT) AS DOUBLE) / {float(16**15)!r} AS qx,
    CAST(CAST('0x' || substr(md5('sy:' || CAST(s_suppkey AS VARCHAR)), 1, 15)
         AS BIGINT) AS DOUBLE) / {float(16**15)!r} AS qy
  FROM supplier
),
c AS (
  SELECT *, CAST(FLOOR(px / {_GEO_R!r}) AS BIGINT) AS cx,
            CAST(FLOOR(py / {_GEO_R!r}) AS BIGINT) AS cy
  FROM cust
),
s AS (
  SELECT s_suppkey, qx, qy,
    CAST(FLOOR(qx / {_GEO_R!r}) AS BIGINT) + dx.o AS cx,
    CAST(FLOOR(qy / {_GEO_R!r}) AS BIGINT) + dy.o AS cy
  FROM supp
  CROSS JOIN (VALUES (-1), (0), (1)) dx(o)
  CROSS JOIN (VALUES (-1), (0), (1)) dy(o)
),
pairs AS (
  SELECT c.c_nationkey, c.c_custkey
  FROM c JOIN s ON c.cx = s.cx AND c.cy = s.cy
  WHERE (px - qx) * (px - qx) + (py - qy) * (py - qy)
        < {_GEO_R!r} * {_GEO_R!r}
)
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers_covered
FROM pairs
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# q_weighted_median: quantity-weighted median unit price per return
# flag (extension — weighted quantiles, the missing sibling of the
# exact/winsorized percentile family: "the price at which half the
# VOLUME trades", not half the rows). Definition: the smallest price
# whose cumulative weight reaches half the total — the left weighted
# median, decided by the INTEGER comparison 2*cumw >= totw (no 0.5
# double), with (price, linenumber-free) total order via the
# (cents, l_orderkey, l_linenumber) tiebreak.
#
# Prices fold to exact BIGINT cents and quantities to exact BIGINT
# centiquantities; cumulative and total weights are integer sums; the
# only double is the final cents/100 rescale — oracle-exact by
# construction.
#
# Scale: one scan, one per-flag window pass (rank and running sum
# share the single per-group sort; the flag is the parallelism unit),
# one groupBy to |flags| rows. At extreme per-group cardinality the
# same statistic comes from a two-pass binned histogram (the
# q_gini_revenue escape hatch).
# ---------------------------------------------------------------------------


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    part = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "cents",
        F.sum("wt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cumw"),
        F.sum("wt").over(part).alias("totw"),
    )
    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.max("totw").cast("double") / 100).alias("total_qty"),
            (
                F.min(
                    F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents"))
                ).cast("double")
                / 100
            ).alias("weighted_median_price"),
        )
        .orderBy("l_returnflag")
    )


Q_WEIGHTED_MEDIAN_SQL = """
WITH li AS (
  SELECT l_returnflag,
    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS wt,
    l_orderkey, l_linenumber
  FROM lineitem
),
cum AS (
  SELECT l_returnflag, cents,
    SUM(wt) OVER (
      PARTITION BY l_returnflag
      ORDER BY cents, l_orderkey, l_linenumber
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cumw,
    SUM(wt) OVER (PARTITION BY l_returnflag) AS totw
  FROM li
)
SELECT l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MAX(totw) AS DOUBLE) / 100 AS total_qty,
  CAST(MIN(CASE WHEN 2 * cumw >= totw THEN cents END) AS DOUBLE) / 100
    AS weighted_median_price
FROM cum
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q_ols_trend: least-squares revenue trend per market segment
# (extension — the regression class: slope, fit quality, and direction
# of daily revenue over the order history; the predictive sibling of
# q_corr_profile, on the SAME exact-sufficient-statistics machinery).
# Grain collapses to (segment, day ordinal, exact cents) first; the
# OLS runs over |segments| x |days| points: slope = (n*sxy - sx*sy) /
# (n*sxx - sx^2), R^2 = num^2 / (vx*vy) — every sum an exact integer
# (day ordinals x cents products through DECIMAL(38,0)), the finals
# identical double expressions, zero-variance guarded to NULL.
# Envelope: per-row x*y <= ~2.5e12, summed ~1e15 at sf0.1 — inside the
# probed 2^64 cast bound through ~100x; past it, coarsen y to dollars.
#
# Scale: one join (customer broadcast by size), two partial-aggregating
# groupBys (to
# |segments| x |days|, then |segments|). No windows at all.
# ---------------------------------------------------------------------------


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    daily = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_mktsegment",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")
            ).alias("x"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("y")
        )
    )
    big = "decimal(38,0)"
    sums = daily.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast(big)).alias("sx"),
        F.sum(F.col("y").cast(big)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(big)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(big)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(big)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sx * sy
    vx = nd * F.col("sxx").cast("double") - sx * sx
    vy = nd * F.col("syy").cast("double") - sy * sy
    return sums.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n").alias("n_days"),
        F.when(vx > 0, num / vx / F.lit(100.0)).alias("slope_per_day"),
        F.when((vx > 0) & (vy > 0), num * num / (vx * vy)).alias("r2"),
    ).orderBy("segment")


Q_OLS_TREND_SQL = """
WITH daily AS (
  SELECT c_mktsegment,
    CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS x,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
sums AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
  FROM daily GROUP BY 1
)
SELECT c_mktsegment AS segment, n AS n_days,
  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0
  END AS slope_per_day,
  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
  END AS r2
FROM sums
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# q_lpa_communities (r10 — the community-detection class): synchronous
# label propagation on the part co-order graph (parts that appear in
# the same order are neighbors; lineitem self-join on l_orderkey).
# Distinct from connected components (same-entity transitive closure,
# operators/dedup) — LPA spreads the MODE of neighbor labels, so it
# finds dense "frequently bought together" pockets, the clustering
# primitive a curation pipeline uses for topic/product grouping.
# All-integer logic (counts + min-tie-break over bigint part keys) with
# synchronous rounds and a FIXED iteration count, so DuckDB replays the
# whole iteration exactly as three chained CTE rounds — fully
# oracle-paired, which published LPA implementations (async, random
# tie-break) never are.
# ---------------------------------------------------------------------------


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import community_lpa

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    e0 = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    labels = community_lpa(e0, n_iter=3)
    return labels.select(
        F.col("node").alias("part"), "community"
    ).orderBy("part")


Q_LPA_COMMUNITIES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
l0 AS (SELECT DISTINCT u AS node, u AS community FROM edges),
c1 AS (
  SELECT e.u AS node, l.community, COUNT(*) AS cnt
  FROM edges e JOIN l0 l ON e.v = l.node GROUP BY e.u, l.community
),
l1 AS (
  SELECT node, community FROM c1
  QUALIFY row_number() OVER (PARTITION BY node
                             ORDER BY cnt DESC, community ASC) = 1
),
c2 AS (
  SELECT e.u AS node, l.community, COUNT(*) AS cnt
  FROM edges e JOIN l1 l ON e.v = l.node GROUP BY e.u, l.community
),
l2 AS (
  SELECT node, community FROM c2
  QUALIFY row_number() OVER (PARTITION BY node
                             ORDER BY cnt DESC, community ASC) = 1
),
c3 AS (
  SELECT e.u AS node, l.community, COUNT(*) AS cnt
  FROM edges e JOIN l2 l ON e.v = l.node GROUP BY e.u, l.community
),
l3 AS (
  SELECT node, community FROM c3
  QUALIFY row_number() OVER (PARTITION BY node
                             ORDER BY cnt DESC, community ASC) = 1
)
SELECT node AS part, community FROM l3 ORDER BY part
"""


# ---------------------------------------------------------------------------
# q_kcore_parts (r11 — the density-based graph FILTERING class): k-core
# by synchronous degree peeling on the repeat-co-purchase backbone
# (part pairs co-ordered in >= 2 distinct orders). The graph family
# had connectivity (CC), centrality (PageRank), reachability (BFS),
# local density (triangles) and clustering (LPA) — nothing FILTERED by
# density; the k-core is the standard spam/link-farm detector in a
# web-scale curation pipeline. Oracle pairing is one property STRONGER
# than LPA's: the peel state is the edge set and peeling a fixpoint is
# a no-op, so a DuckDB replay of exactly R chained CTE rounds equals
# the Spark result whether Spark converged early (its fixpoint absorbs
# the surplus rounds) or hit the cap (both hold the round-R state) —
# exact at ANY R, all-integer, no tie-breaks (peeling is order-free
# within a round by construction).
# ---------------------------------------------------------------------------


def q_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    lp = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").alias("m"))
        .where(F.col("m") >= 2)
        .select("src", "dst")
    )
    core = kcore(e0, k=3, n_iter=4)
    return core.select(
        F.col("node").alias("part"), "core_degree"
    ).orderBy("part")


Q_KCORE_PARTS_SQL = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2
),
edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
a1 AS (SELECT u FROM edges GROUP BY u HAVING COUNT(*) >= 3),
e1 AS (SELECT e.u, e.v FROM edges e
       JOIN a1 x ON e.u = x.u JOIN a1 y ON e.v = y.u),
a2 AS (SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 3),
e2 AS (SELECT e.u, e.v FROM e1 e
       JOIN a2 x ON e.u = x.u JOIN a2 y ON e.v = y.u),
a3 AS (SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= 3),
e3 AS (SELECT e.u, e.v FROM e2 e
       JOIN a3 x ON e.u = x.u JOIN a3 y ON e.v = y.u),
a4 AS (SELECT u FROM e3 GROUP BY u HAVING COUNT(*) >= 3),
e4 AS (SELECT e.u, e.v FROM e3 e
       JOIN a4 x ON e.u = x.u JOIN a4 y ON e.v = y.u)
SELECT u AS part, COUNT(*) AS core_degree FROM e4 GROUP BY u ORDER BY part
"""
