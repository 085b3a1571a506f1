"""TPC-H sweep & OLAP-shape query family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_data_lakehouse_spark.functions import dround, dround_sql
from healthcare_data_lakehouse_spark.queries.catalog import register
from healthcare_data_lakehouse_spark.tables import table



# --------------------------------------------------------------- flagship
@register(
    "gold_revenue_by_mktsegment",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(DISTINCT o.o_orderkey) AS order_count,
           COUNT(*) AS lineitem_count
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_mktsegment
    """,
    description="Flagship Gold mart: revenue per market segment "
    "(customer ⋈ orders ⋈ lineitem → hash agg).",
)
def gold_revenue_by_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("order_count"),
            F.count(F.lit(1)).alias("lineitem_count"),
        )
    )


# ------------------------------------------------------------- TPC-H Q1
@register(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 pricing summary: filtered scan → 8-way hash agg; "
    "filter and column pruning push into the parquet reader.",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ------------------------------------------------------------- TPC-H Q3
@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    description="TPC-H Q3 shipping priority: selective dim filter, "
    "3-way join, top-10 with deterministic tiebreak.",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    lineitem = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
    )


# ------------------------------------------------------------- TPC-H Q5
@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    description="TPC-H Q5-style local-supplier volume: 6-table star join; "
    "region/nation/supplier broadcast, facts shuffle once on the join key.",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supplier),
            (supplier.s_suppkey == lineitem.l_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
        .join(F.broadcast(nation), nation.n_nationkey == customer.c_nationkey)
        .join(F.broadcast(region), region.r_regionkey == nation.n_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ----------------------------------------------------------------- top-k
@register(
    "gold_top10_customers_by_revenue",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, custkey
    LIMIT 10
    """,
    description="Top-10 customers by revenue (TakeOrdered — no full sort).",
)
def gold_top10_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("custkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------- window
@register(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT custkey, orderkey, totalprice, rn
    FROM (
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               o_totalprice AS totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    description="Window ranking: top-3 orders per customer "
    "(one shuffle on the partition key; deterministic tiebreak).",
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------- rollup
@register(
    "rollup_lineitem_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="ROLLUP aggregate over (returnflag, linestatus) — "
    "subtotal + grand-total rows in one pass.",
)
def rollup_lineitem_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ------------------------------------------------------------- TPC-H Q6
@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    description="TPC-H Q6 forecast revenue: pure scan-filter-aggregate; all "
    "four predicates push into the parquet reader (PushedFilters), zero "
    "shuffle beyond the final partial-agg merge.",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ------------------------------------------------------- TPC-H Q4 (semi)
@register(
    "tpch_q4_priority_with_returns",
    oracle="""
    SELECT o.o_orderpriority AS orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_returnflag = 'R'
          AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o.o_orderpriority
    """,
    description="TPC-H Q4 shape: EXISTS as a LEFT SEMI join with a non-equi "
    "correlated predicate (returned item shipped after order date); semi "
    "join emits each order at most once — no fact-side row explosion.",
)
def tpch_q4_priority_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(
            li,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("orderpriority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ------------------------------------------------------ TPC-H Q13 (outer)
@register(
    "tpch_q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    description="TPC-H Q13 customer-order distribution: LEFT OUTER join "
    "preserving order-less customers, two-level re-aggregation (per-customer "
    "count, then histogram).",
)
def tpch_q13_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ------------------------------------------------------------ TPC-H Q14
@register(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
               / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    """,
    description="TPC-H Q14 promo revenue share: broadcast-joined part dim + "
    "conditional aggregate (CASE inside SUM) — one fact scan, no shuffle on "
    "the fact side.",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return li.join(F.broadcast(part), part.p_partkey == li.l_partkey).agg(
        F.round(100.0 * F.sum(promo_rev) / F.sum(rev), 4).alias("promo_pct"),
        F.round(F.sum(rev), 2).alias("total_revenue"),
    )


# ------------------------------------------------------------ TPC-H Q17
@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
    )
    """,
    description="TPC-H Q17 shape: correlated scalar subquery decorrelated "
    "into a per-part aggregate + self-join (Spark plans it as one "
    "re-aggregation and one equi-join, never a per-row subquery loop).",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .join(per_part, per_part.pk == li.l_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# ------------------------------------------------------------ TPC-H Q18
@register(
    "tpch_q18_large_volume_orders",
    oracle="""
    SELECT c.c_name AS name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey, o.o_orderdate AS orderdate,
           o.o_totalprice AS totalprice,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    description="TPC-H Q18: HAVING-filtered aggregate feeding an IN as a "
    "LEFT SEMI join — the big-order probe side is reduced before the "
    "3-table join, top-20 with deterministic tiebreak.",
)
def tpch_q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(customer), customer.c_custkey == F.col("o_custkey"))
        .join(li, li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("totalprice").desc(), F.col("orderkey").asc())
        .limit(20)
    )


# ------------------------------------------------------------ TPC-H Q15
@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS supplier_name,
           ROUND(r.total_revenue, 2) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    description="TPC-H Q15 top supplier: quarterly revenue CTE reused for "
    "both the ranking and the global-max scalar subquery (Spark reuses the "
    "shuffle exchange rather than rescanning the fact).",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    supplier = table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == max_rev.m)
        .join(F.broadcast(supplier), supplier.s_suppkey == F.col("supplier_no"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.round(F.col("total_revenue"), 2).alias("total_revenue"),
        )
    )


# ------------------------------------------------------------ TPC-H Q10
@register(
    "tpch_q10_returned_item_losses",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS lost_revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_revenue DESC, custkey
    LIMIT 20
    """,
    description="TPC-H Q10 returned-item losses: selective fact filter "
    "('R' flag pushed to the scan), star join with broadcast dims, top-20.",
)
def tpch_q10_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), nation.n_nationkey == customer.c_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("lost_revenue")
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("custkey").asc())
        .limit(20)
    )


# ------------------------------------------------------------ percentiles
@register(
    "percentile_order_value_by_segment",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           CAST(ROUND(CAST(quantile_cont(o.o_totalprice, 0.5)
                AS DECIMAL(38,8)), 2) AS DOUBLE) AS median_price,
           CAST(ROUND(CAST(quantile_cont(o.o_totalprice, 0.9)
                AS DECIMAL(38,8)), 2) AS DOUBLE) AS p90_price,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    description="Exact interpolated percentiles (median/p90 order value per "
    "segment): sort-based aggregate; at scale swap to approx_percentile "
    "(t-digest sketch, mergeable, one pass) — exact kept here for the "
    "oracle hash-match.",
)
def percentile_order_value_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), customer.c_custkey == orders.o_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            dround(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
            dround(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ------------------------------------------------------------------ cube
@register(
    "cube_lineitem_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n_rows,
           ROUND(AVG(l_quantity), 4) AS avg_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="CUBE over (returnflag, linestatus): all 4 grouping sets "
    "in one pass (expand + single hash agg); GROUPING() markers "
    "disambiguate subtotal rows from genuine NULL keys.",
)
def cube_lineitem_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    ).select(
        "l_returnflag", "l_linestatus", "g_flag", "g_status", "n_rows", "avg_qty"
    )


# ----------------------------------------------------- TPC-H Q2 (join-back)
@register(
    "tpch_q2_cheapest_supplier_per_part",
    oracle="""
    WITH cost AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               ROUND(AVG(l_extendedprice / l_quantity), 6) AS unit_cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    best AS (
        SELECT partkey, MIN(unit_cost) AS min_cost
        FROM cost GROUP BY partkey
    )
    SELECT c.partkey, MIN(c.suppkey) AS suppkey, c.unit_cost AS min_unit_cost
    FROM cost c JOIN best b
      ON b.partkey = c.partkey AND c.unit_cost = b.min_cost
    GROUP BY c.partkey, c.unit_cost
    """,
    description="TPC-H Q2 shape: per-group minimum joined back to select "
    "the argmin row (cheapest supplier per part by observed unit cost); "
    "both aggregates and the join share the partkey shuffle, lowest "
    "suppkey breaks cost ties deterministically.",
)
def tpch_q2_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    cost = (
        li.groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.round(
                F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 6
            ).alias("unit_cost")
        )
    )
    best = cost.groupBy("partkey").agg(F.min("unit_cost").alias("min_cost"))
    c, b = cost.alias("c"), best.alias("b")
    return (
        c.join(
            b,
            (F.col("c.partkey") == F.col("b.partkey"))
            & (F.col("c.unit_cost") == F.col("b.min_cost")),
        )
        .groupBy(
            F.col("c.partkey").alias("partkey"),
            F.col("c.unit_cost").alias("min_unit_cost"),
        )
        .agg(F.min(F.col("c.suppkey")).alias("suppkey"))
        .select("partkey", "suppkey", "min_unit_cost")
    )


# ----------------------------------------------------------------- pivot
@register(
    "pivot_returnflag_by_linestatus",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS F_count,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS O_count,
           CAST(ROUND(CAST(SUM(CASE WHEN l_linestatus = 'F'
                     THEN l_extendedprice ELSE 0 END) AS DECIMAL(38,8)), 2)
                AS DOUBLE) AS F_price,
           CAST(ROUND(CAST(SUM(CASE WHEN l_linestatus = 'O'
                     THEN l_extendedprice ELSE 0 END) AS DECIMAL(38,8)), 2)
                AS DOUBLE) AS O_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="PIVOT: linestatus spread into columns with explicit value "
    "list (no extra distinct-discovery job), compiling to conditional "
    "aggregates in one pass — the oracle states that compilation.",
)
def pivot_returnflag_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("count"),
            dround(F.sum("l_extendedprice"), 2).alias("price"),
        )
    )
    return p.select(
        "l_returnflag",
        F.col("F_count"),
        F.col("O_count"),
        F.col("F_price"),
        F.col("O_price"),
    )


# ------------------------------------------------- TPC-H Q7 (nation trade)
@register(
    "tpch_q7_nation_trade_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
    description="TPC-H Q7 shape: bilateral trade volume between two "
    "nations by ship year. Both nation dims broadcast; the OR-pair "
    "predicate prunes the fact rows after two broadcast joins, so only "
    "one shuffle (the final agg) touches the lineitem stream.",
)
def tpch_q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    supplier = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ------------------------------------------------ TPC-H Q8 (market share)
@register(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE 0 END) / SUM(volume), 4) AS mkt_share
    FROM (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = cn.n_regionkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
    description="TPC-H Q8 shape: one nation's supplier market share of "
    "ECONOMY-part revenue sold into ASIA, per order year. All five dims "
    "broadcast; the conditional-sum/total-sum division happens in the "
    "single post-join aggregation — no second pass over the fact.",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supplier = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
            li.l_partkey == part.p_partkey,
        )
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
    )


# ------------------------------------------------- TPC-H Q9 (profit) ----
@register(
    "tpch_q9_profit_by_nation_year",
    oracle="""
    SELECT sn.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.1 * p.p_retailprice * l.l_quantity), 2) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY nation, o_year
    """,
    description="TPC-H Q9 shape: profit by supplier nation and order "
    "year over parts matching a name pattern (cost proxy: 10% of retail "
    "price per unit — the fixtures carry no partsupp.supplycost; "
    "reference schema has no cost column at all). LIKE-filtered part dim "
    "broadcasts; profit expression folds into one projected column "
    "before the aggregate shuffle.",
)
def tpch_q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supplier = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("%bolt%"))),
            li.l_partkey == part.p_partkey,
        )
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
                ),
                2,
            ).alias("profit")
        )
    )


# ---------------------------------------------- TPC-H Q12 (ship lateness)
@register(
    "tpch_q12_lateness_priority",
    oracle="""
    SELECT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY ship_bucket
    """,
    description="TPC-H Q12 shape: order-priority mix by shipping "
    "lateness bucket (fixtures carry no l_shipmode/commitdate; lateness "
    "= shipped >90 days after order). One fact-fact equi-join shuffled "
    "on orderkey, then a 2-group conditional-count aggregate.",
)
def tpch_q12_lateness_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn(
            "ship_bucket",
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                F.lit("LATE"),
            ).otherwise(F.lit("ONTIME")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ------------------------------------- TPC-H Q19 (disjunctive predicates)
@register(
    "tpch_q19_disjunctive_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 5 AND 20
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 15 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    description="TPC-H Q19 shape: revenue under a 3-way disjunction of "
    "(brand, size-range, quantity-range) conjunctions. The part side of "
    "each disjunct (brand+size) is pushed below the broadcast join as "
    "one OR-of-conjunctions scan filter; the mixed part+lineitem "
    "residual evaluates post-join — Catalyst splits the predicate by "
    "referenced side automatically (CNF extraction).",
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b = F.col("p_brand")
    s = F.col("p_size")
    q = F.col("l_quantity")
    pred = (
        ((b == "Brand#13") & s.between(1, 10) & (q >= 1) & (q <= 20))
        | ((b == "Brand#19") & s.between(5, 20) & (q >= 10) & (q <= 30))
        | ((b == "Brand#5") & s.between(15, 35) & (q >= 20) & (q <= 40))
    )
    return joined.filter(pred).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


# ------------------------------------------ TPC-H Q22 (dormant customers)
@register(
    "tpch_q22_dormant_high_balance",
    oracle="""
    WITH avg_bal AS (
        SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-06-01')
    GROUP BY mktsegment
    """,
    description="TPC-H Q22 shape: dormant high-balance customers "
    "(above-average positive balance, no orders since 2000-06) per segment "
    "(fixtures carry no c_phone for country codes). Scalar-subquery "
    "average broadcasts as a literal-like single-row cross join; the "
    "NOT EXISTS compiles to a LEFT ANTI hash join on custkey against "
    "the orders key projection.",
)
def tpch_q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp")
            ).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ------------------------------------------------- window: moving average
@register(
    "window_moving_avg_daily_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               ROUND(SUM(o_totalprice), 2) AS daily_rev
        FROM orders GROUP BY day
    )
    SELECT day, daily_rev,
           ROUND(AVG(daily_rev) OVER (
               ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
               AS ma7,
           ROUND(SUM(daily_rev) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               2) AS cum_rev
    FROM daily
    """,
    description="Time-series windows: daily order revenue with 7-day "
    "moving average and running total. One agg shuffle to day grain, "
    "then ONE window over a single global sort — at 100 TB the day-grain "
    "series is ~thousands of rows regardless of input size, so the "
    "unpartitioned window is safe (cardinality collapses before it).",
)
def window_moving_avg_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("daily_rev"))
    w = Window.orderBy("day")
    return daily.select(
        "day",
        "daily_rev",
        F.round(F.avg("daily_rev").over(w.rowsBetween(-6, 0)), 2).alias("ma7"),
        F.round(
            F.sum("daily_rev").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            2,
        ).alias("cum_rev"),
    )


# --------------------------------------------- window: MoM revenue growth
@register(
    "window_mom_revenue_growth",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders GROUP BY month
    )
    SELECT month, rev,
           ROUND(rev / LAG(rev) OVER (ORDER BY month) - 1, 4) AS growth
    FROM monthly
    """,
    description="LAG window: month-over-month revenue growth rate. "
    "Month-grain series is tiny after the aggregate shuffle; the lag "
    "window needs no partition column because cardinality has already "
    "collapsed to #months.",
)
def window_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "rev",
        F.round(F.col("rev") / F.lag("rev").over(w) - 1, 4).alias("growth"),
    )


# ------------------------------------------------ window: customer deciles
@register(
    "window_customer_value_deciles",
    oracle="""
    WITH cust AS (
        SELECT c.c_custkey AS custkey,
               ROUND(SUM(o.o_totalprice), 2) AS spend
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY custkey
    )
    SELECT decile,
           COUNT(*) AS numcust,
           ROUND(SUM(spend), 2) AS decile_spend
    FROM (
        SELECT custkey, spend,
               NTILE(10) OVER (ORDER BY spend DESC, custkey) AS decile
        FROM cust
    ) GROUP BY decile
    """,
    description="NTILE deciles of customer lifetime spend, re-aggregated "
    "to decile totals. The (spend, custkey) compound sort key makes tile "
    "assignment total-ordered and deterministic under any partitioning. "
    "At 100 TB: NTILE needs a global sort; computing it over the "
    "customer-grain aggregate (not the raw fact) keeps the sorted set "
    "to #customers rows.",
)
def window_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    cust = (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("custkey"))
    return (
        cust.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("spend"), 2).alias("decile_spend"),
        )
    )


# --------------------------------------------- calendar densification ---
@register(
    "calendar_daily_event_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
        FROM events
    ),
    calendar AS (
        SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY day
    )
    SELECT c.day, COALESCE(d.n, 0) AS n_events
    FROM calendar c LEFT JOIN daily d ON d.day = c.day
    """,
    description="Calendar densification (gap fill): generate the full "
    "min..max day spine with sequence()+explode and left-join the "
    "daily counts, zero-filling missing days — the standard time-series "
    "preparation step Spark has no built-in for. The spine is tiny "
    "(#days rows) so it broadcasts; the fact side aggregates to day "
    "grain BEFORE the join, so the spine join never touches raw events.",
)
def calendar_daily_event_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = events.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    calendar = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    return calendar.join(F.broadcast(daily), "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n_events")
    )


# ------------------------------------------------- explicit GROUPING SETS
@register(
    "groupingsets_lineitem_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    description="Explicit GROUPING SETS (the general form behind "
    "ROLLUP/CUBE, already covered separately) with GROUPING() null "
    "markers. Spark expands the sets into one Expand node feeding a "
    "single hash aggregate — one pass over the fact, not one scan per "
    "set.",
)
def groupingsets_lineitem_flag_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )


# ---------------------------------------- TPC-H Q16 (NOT IN supplier cnt)
@register(
    "tpch_q16_part_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    description="TPC-H Q16 shape: distinct-supplier counts per part "
    "attribute triple, excluding deficit suppliers via NOT IN "
    "(fixtures carry no partsupp/comment; the exclusion predicate is "
    "s_acctbal < 0). s_suppkey is non-null so the null-aware NOT IN "
    "safely compiles to a broadcast LEFT ANTI join; brand/size "
    "predicates push into the part scan.",
)
def tpch_q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supplier = table(spark, sf_dir, "supplier")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = part.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ------------------------------------- TPC-H Q21 (sole late supplier) ---
@register(
    "tpch_q21_sole_late_supplier",
    oracle="""
    SELECT s.s_name AS s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    """,
    description="TPC-H Q21 shape: suppliers solely responsible for late "
    "multi-supplier orders (late = shipped >60 days after order date; "
    "fixtures carry no commit/receipt dates). EXISTS compiles to LEFT "
    "SEMI and NOT EXISTS to LEFT ANTI, both with the non-equal-supplier "
    "condition folded into the join predicate — three shuffles on "
    "orderkey, reusing the same partitioning, never a correlated "
    "per-row subquery.",
)
def tpch_q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supplier = table(spark, sf_dir, "supplier")
    late = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            li.l_orderkey == orders.o_orderkey,
        )
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l1 = late.join(
        l2,
        (late.l_orderkey == l2.o2) & (late.l_suppkey != l2.s2),
        "left_semi",
    )
    l3 = late.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    sole = l1.join(
        l3,
        (l1.l_orderkey == l3.o3) & (l1.l_suppkey != l3.s3),
        "left_anti",
    )
    return (
        sole.join(F.broadcast(supplier), sole.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("s_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ----------------------------------------- TPC-H Q20 (nested agg semi) --
@register(
    "tpch_q20_heavy_widget_shippers",
    oracle="""
    WITH shipped AS (
        SELECT l.l_suppkey, SUM(l.l_quantity) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE '%widget%'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey
    )
    SELECT s.s_name AS s_name, ROUND(s.s_acctbal, 2) AS acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l_suppkey FROM shipped
        WHERE qty > (SELECT 1.2 * AVG(qty) FROM shipped)
    )
    """,
    description="TPC-H Q20 shape: suppliers who shipped an "
    "above-average volume of widget parts in 1997 (fixtures carry no "
    "partsupp.availqty; threshold is 1.2x the mean shipped quantity, "
    "scale-free). The nested aggregate materializes once and feeds "
    "both the scalar threshold and the IN-list; IN compiles to LEFT "
    "SEMI against the tiny filtered key set — broadcast, no "
    "re-aggregation.",
)
def tpch_q20_heavy_widget_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supplier = table(spark, sf_dir, "supplier")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(part.filter(F.col("p_name").like("%widget%"))),
            li.l_partkey == part.p_partkey,
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    threshold = shipped.agg((1.2 * F.avg("qty")).alias("thr"))
    heavy = (
        shipped.join(F.broadcast(threshold))
        .filter(F.col("qty") > F.col("thr"))
        .select("l_suppkey")
    )
    return (
        supplier.join(
            F.broadcast(heavy), supplier.s_suppkey == heavy.l_suppkey, "left_semi"
        )
        .select(
            F.col("s_name"), F.round(F.col("s_acctbal"), 2).alias("acctbal")
        )
    )


# --------------------------------------------------------------- histogram
@register(
    "histogram_order_totalprice",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 20000.0) AS BIGINT) AS bin,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY bin
    """,
    description="Fixed-width histogram of order value: one map-side "
    "combinable aggregate keyed by the bin expression — the "
    "distributed histogram primitive (#bins cardinality out, "
    "regardless of input scale).",
)
def histogram_order_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 20000.0).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "histogram_equal_frequency_totalprice",
    oracle="""
    WITH buckets AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM buckets GROUP BY decile
    """,
    description="Equal-frequency (decile) histogram: NTILE with a "
    "total-order tiebreak, then per-bucket bounds — the optimizer-"
    "statistics histogram form, complementing the fixed-width one. At "
    "1e9+ rows the same cuts come from approx_percentile boundaries "
    "instead of a global NTILE sort.",
)
def histogram_equal_frequency_totalprice(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# ------------------------------------------------------------ TPC-H Q11
@register(
    "tpch_q11_important_part_value",
    oracle="""
    WITH pv AS (
        SELECT l.l_partkey AS partkey,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS v
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_3', 'NATION_7')
        GROUP BY l.l_partkey
    )
    SELECT partkey, ROUND(v, 2) AS part_value
    FROM pv
    WHERE v > (SELECT SUM(v) * 0.001 FROM pv)
    """,
    description="TPC-H Q11 shape (partsupp value share adapted to the "
    "fixture star): per-part revenue within a nation slice, kept only "
    "above a scalar-subquery fraction of the slice total. The dims are "
    "broadcast; the threshold is a one-row aggregate joined back via "
    "broadcast cross join, NOT a window over a single partition — the "
    "per-part aggregate stays fully parallel. Reference parity: the "
    "reference has no joins at all (SURVEY §2.7, lineage 'JOINING' "
    "label only, src/lineage/lineage_tracker.py:46).",
)
def tpch_q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    pv = (
        li.join(F.broadcast(supp), supp.s_suppkey == li.l_suppkey)
        .join(F.broadcast(nat), nat.n_nationkey == supp.s_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("v"))
    )
    threshold = pv.agg((F.sum("v") * 0.001).alias("cut"))
    return (
        pv.join(F.broadcast(threshold))
        .filter(F.col("v") > F.col("cut"))
        .select("partkey", F.round("v", 2).alias("part_value"))
    )


# --------------------------------------------------- SQL front end
@register(
    "sql_flagship_revenue",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(DISTINCT o.o_orderkey) AS order_count,
           COUNT(*) AS lineitem_count
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_mktsegment
    """,
    description="The flagship mart expressed through the engine's SQL "
    "front end (temp views + spark.sql) rather than the DataFrame "
    "builder: identical ANSI text runs on Spark and the DuckDB oracle, "
    "proving the catalog/view surface — a user can address every zone "
    "table in pure SQL. Catalyst produces the same physical plan as "
    "the DataFrame twin (same pushdown, same broadcast), because both "
    "lower to the same logical plan.",
)
def sql_flagship_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    suffix = _uuid.uuid4().hex[:8]
    views = {}
    for t in ("customer", "orders", "lineitem"):
        views[t] = f"{t}_{suffix}"
        table(spark, sf_dir, t).createOrReplaceTempView(views[t])
    return spark.sql(f"""
        SELECT c.c_mktsegment AS mktsegment,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(DISTINCT o.o_orderkey) AS order_count,
               COUNT(*) AS lineitem_count
        FROM {views['customer']} c
        JOIN {views['orders']} o ON o.o_custkey = c.c_custkey
        JOIN {views['lineitem']} l ON l.l_orderkey = o.o_orderkey
        GROUP BY c.c_mktsegment
    """)


# --------------------------------------------- relational division
@register(
    "suppliers_covering_all_top_parts",
    oracle="""
    WITH top_parts AS (
        SELECT l_partkey FROM lineitem
        GROUP BY l_partkey
        ORDER BY SUM(l_quantity) DESC, l_partkey
        LIMIT 5
    ),
    cover AS (
        SELECT DISTINCT l.l_suppkey, l.l_partkey
        FROM lineitem l JOIN top_parts t ON t.l_partkey = l.l_partkey
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name
    FROM supplier s
    JOIN (
        SELECT l_suppkey FROM cover GROUP BY l_suppkey HAVING COUNT(*) = 5
    ) c ON c.l_suppkey = s.s_suppkey
    """,
    description="Relational division (the FOR ALL quantifier): suppliers "
    "who ship EVERY one of the top-5 parts by volume. Division "
    "rewrites to counting: semi-join the fact against the broadcast "
    "divisor set, distinct per (supplier, part), then HAVING count = "
    "|divisor| — no double-NOT-EXISTS nesting, no cartesian check; "
    "two keyed aggs and two broadcasts regardless of fact size.",
)
def suppliers_covering_all_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    top_parts = (
        li.groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .orderBy(F.col("qty").desc(), F.col("l_partkey"))
        .limit(5)
        .select("l_partkey")
    )
    cover = (
        li.join(F.broadcast(top_parts), "l_partkey")
        .select("l_suppkey", "l_partkey")
        .distinct()
    )
    full = (
        cover.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == 5)
    )
    return supp.join(F.broadcast(full), supp.s_suppkey == full.l_suppkey).select(
        F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("name")
    )


# --------------------------------------------- calendar hierarchy
@register(
    "rollup_revenue_calendar",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS quarter,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS month,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ROLLUP (
        EXTRACT(year FROM o_orderdate),
        EXTRACT(quarter FROM o_orderdate),
        EXTRACT(month FROM o_orderdate)
    )
    """,
    description="Calendar-hierarchy ROLLUP (month -> quarter -> year -> "
    "grand total): the OLAP drill-down axis every revenue dashboard "
    "needs, computed as ONE Expand + one hash agg (4 grouping levels "
    "share the scan; a UNION ALL of four GROUP BYs would scan 4x). "
    "NULL level markers distinguish subtotal rows exactly as in the "
    "flag/status rollup twin.",
)
def rollup_revenue_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("year"),
            F.quarter("o_orderdate").alias("quarter"),
            F.month("o_orderdate").alias("month"),
            "o_totalprice",
        )
        .rollup("year", "quarter", "month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
