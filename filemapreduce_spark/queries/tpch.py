"""TPC-H: the 22 benchmark queries over the sf tables.

Each query keeps the TPC-H number in its name (``q1_pricing_summary``
.. ``q22_idle_customers``); money columns use the exact integer-cents
arithmetic of ``operators.money`` so both engines agree bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import (
    as_money,
    cents,
    charge_e6,
    disc_price_e4,
    dsum,
)
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# Grouped aggregation (TPC-H Q1 shape): 8 aggregates over 2 keys.
# --------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) / 1000000.0 AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / (100.0 * COUNT(*)) AS avg_price,
           CAST(SUM(CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE) / (100.0 * COUNT(*)) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "tpch"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: multi-aggregate groupBy with partial (map-side)
    aggregation; filter pushed to the parquet scan."""
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    n = F.count(F.lit(1))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            as_money(F.sum(cents("l_extendedprice"))).alias("sum_base_price"),
            (F.sum(disc_price_e4("l_extendedprice", "l_discount")) / 10000.0)
            .cast("double")
            .alias("sum_disc_price"),
            (
                F.sum(charge_e6("l_extendedprice", "l_discount", "l_tax"))
                / 1000000.0
            )
            .cast("double")
            .alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("long")).cast("double") / n).alias(
                "avg_qty"
            ),
            (F.sum(cents("l_extendedprice")).cast("double") / (100.0 * n)).alias(
                "avg_price"
            ),
            (F.sum(cents("l_discount")).cast("double") / (100.0 * n)).alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------
# Selective scan + single aggregate (TPC-H Q6): pushdown showcase.
# --------------------------------------------------------------------
@register(
    "q6_revenue_delta",
    """
    SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT)) / 10000.0 AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "tpch", "pushdown"),
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highly-selective filters — all pushed to the parquet reader —
    then one exact sum."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        (F.sum(cents("l_extendedprice") * cents("l_discount")) / 10000.0)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


# --------------------------------------------------------------------
# 3-way join + agg + top-k (TPC-H Q3 shape).
# --------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast the small dimension (customer), shuffle-join the fact,
    aggregate, TakeOrdered top-10."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (F.sum(disc_price_e4("l_extendedprice", "l_discount")) / 10000.0)
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------
# EXISTS semi-join + agg (TPC-H Q4 shape).
# --------------------------------------------------------------------
@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "semi", "agg", "tpch"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join with a non-equi residual condition."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --------------------------------------------------------------------
# 6-way join (TPC-H Q5 shape).
# --------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("join", "agg", "tpch"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: every dimension broadcast, single shuffle for the
    final groupBy."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.sum(disc_price_e4("l_extendedprice", "l_discount")) / 10000.0)
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------
# Join + conditional aggregation (TPC-H Q14 shape).
# --------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    """
    -- VARCHAR->DOUBLE on the wide sums: DuckDB's HUGEINT->DOUBLE
    -- conversion truncates instead of rounding (r10 extreme axis)
    SELECT 100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))
                 ELSE 0 END) AS VARCHAR) AS DOUBLE)
           / CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS VARCHAR) AS DOUBLE) AS promo_pct,
           CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS VARCHAR) AS DOUBLE) / 10000.0 AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
    tags=("join", "agg", "tpch"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part")
    rev = disc_price_e4("l_extendedprice", "l_discount")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).cast(
                    "double"
                )
                / F.sum(rev)
            ).alias("promo_pct"),
            (F.sum(rev) / 10000.0).cast("double").alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------
# Group-having-join + top-k (TPC-H Q18 shape).
# --------------------------------------------------------------------
@register(
    "q18_large_orders",
    """
    SELECT c_name, o_orderkey, o_totalprice,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_name, o_orderkey, o_totalprice
    HAVING SUM(CAST(l_quantity AS BIGINT)) > 120
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    tags=("join", "agg", "having", "topk", "tpch"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: aggregate-below-join formulation. l_orderkey
    functionally determines (c_name, o_totalprice), so the per-order
    quantity sum is computed FIRST — one narrow map-side-combinable
    shuffle on the fact table — and only the HAVING survivors (a tiny
    set at any scale: orders with >120 units) join orders/customer,
    both as broadcasts. The textbook join-then-group plan shuffles
    every joined fact row with a 3-column key instead."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    l = t(spark, sf_dir, "lineitem")
    sums = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 120)
    )
    return (
        sums.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


_SQL_DISC_E4 = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


# --------------------------------------------------------------------
# q7 — volume shipping between two nations (dimension joined twice).
# --------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(SUM({_SQL_DISC_E4}) / 10000.0 AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY 1, 2, 3
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join", "agg"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between two nations by year.

    Scale shape: the two nation joins are broadcast (25 rows); the
    nation filters reach the scan before the big lineitem⋈orders
    shuffle; fact-fact join shuffles on orderkey only.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = F.broadcast(
        t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(od, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cu, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(su), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n1, F.col("s_nk") == F.col("s_nationkey"))
        .join(n2, F.col("c_nk") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            (F.sum(disc_price_e4("l_extendedprice", "l_discount")) / 10000.0)
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------
# q10 — returned-item top customers (4-table join + top-k).
# --------------------------------------------------------------------
@register(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_SQL_DISC_E4}) / 10000.0 AS DOUBLE) AS revenue,
           CAST(round(c_acctbal * 100) AS BIGINT) / 100.0 AS c_acctbal,
           n_name
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY SUM({_SQL_DISC_E4}) DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
    order=("revenue DESC", "c_custkey"),
    sort="body",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter.

    Scale shape: the order-date and returnflag filters push to the
    scans; customer/nation join broadcast; the top-20 is a
    TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    od = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    cu = t(spark, sf_dir, "customer")
    na = F.broadcast(t(spark, sf_dir, "nation"))
    rev_e4 = F.sum(disc_price_e4("l_extendedprice", "l_discount"))
    return (
        cu.join(od, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(na, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(rev_e4.alias("rev_e4"))
        .orderBy(F.col("rev_e4").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_e4") / 10000.0).cast("double").alias("revenue"),
            as_money(cents("c_acctbal")).alias("c_acctbal"),
            "n_name",
        )
    )


# --------------------------------------------------------------------
# q13 — customer order-count distribution (outer join + re-agg).
# --------------------------------------------------------------------
@register(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("tpch", "join", "agg"),
    # a histogram over the count domain
    sort="tiny_sorted",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of per-customer order counts
    (left outer join keeps 0-order customers; COUNT(col) skips nulls).

    Scale shape: first agg shuffles on c_custkey; the second agg input
    is one row per customer — tiny; both get map-side partials.
    """
    cu = t(spark, sf_dir, "customer").select("c_custkey")
    od = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cu.join(od, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --------------------------------------------------------------------
# q15 — top supplier by 3-month revenue (scalar subquery on an agg).
# --------------------------------------------------------------------
@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_SQL_DISC_E4}) AS total_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_e4 / 10000.0 AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_e4 = (SELECT MAX(total_e4) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("tpch", "subquery", "agg"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue
    — scalar subquery over an aggregated view, compared in exact e4
    integers (no float ties).

    Scale shape: revenue is one shuffle on l_suppkey; the MAX is a
    single-value reduction broadcast back into the filter; supplier
    join is broadcast.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(disc_price_e4("l_extendedprice", "l_discount")).alias("total_e4")
    )
    max_e4 = revenue.agg(F.max("total_e4").alias("m"))
    su = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        revenue.join(F.broadcast(max_e4), F.col("total_e4") == F.col("m"))
        .join(su, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_e4") / 10000.0).cast("double").alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------
# q17 — small-quantity revenue (correlated scalar subquery per part).
# --------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0
                AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity * 5 * (
        SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      ) < (
        SELECT SUM(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
    tags=("tpch", "subquery", "correlated"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of the part's average quantity — the correlated scalar
    subquery decorrelated as groupBy + join-back. The threshold
    ``qty < 0.2 * sum/cnt`` is compared as ``qty * 5 * cnt < sum``
    in exact integers (quantities are whole numbers).

    Scale shape: per-part stats are one shuffle on l_partkey (2k
    parts) and broadcast back; no correlated re-scan per row.
    """
    li = t(spark, sf_dir, "lineitem")
    pa = F.broadcast(
        t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    stats = F.broadcast(
        li.groupBy(F.col("l_partkey").alias("sk")).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
        )
    )
    return (
        li.join(pa, F.col("p_partkey") == F.col("l_partkey"))
        .join(stats, F.col("sk") == F.col("l_partkey"))
        .filter(
            F.col("l_quantity").cast("long") * 5 * F.col("cnt") < F.col("qty_sum")
        )
        .agg(
            (as_money(F.sum(cents("l_extendedprice"))) / 7.0)
            .cast("double")
            .alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------
# q19 — disjunctive predicate revenue (OR-of-ANDs pushdown).
# --------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    f"""
    SELECT CAST(SUM({_SQL_DISC_E4}) / 10000.0 AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
    tags=("tpch", "filter", "join"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    conjunctions.

    Scale shape: part side is broadcast; the disjunction referencing
    both sides evaluates post-join, but single-side conjuncts
    (brand/size sets, quantity range 1..50) are derivable and the
    broadcast keeps the fact table un-shuffled.
    """
    li = t(spark, sf_dir, "lineitem")
    pa = F.broadcast(
        t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    )
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 30))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & (q >= 10) & (q <= 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & (q >= 20) & (q <= 50))
    )
    return (
        li.join(pa, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            (F.sum(disc_price_e4("l_extendedprice", "l_discount")) / 10000.0)
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------
# q22 — idle rich customers (scalar-subquery bound + anti join).
# --------------------------------------------------------------------
@register(
    "q22_idle_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS a_cents
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS DOUBLE)
             AS totacctbal
    FROM customer
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) > (SELECT a_cents FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("tpch", "subquery", "anti"),
    # bounded by the market-segment domain
    sort="tiny_sorted",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers richer than the positive-balance
    average with no urgent orders, grouped by segment — uncorrelated
    scalar subquery bound + anti join. The average is computed from exact
    integer cents so both engines derive the identical double.

    Scale shape: the average is a single-value reduction; the anti
    join shuffles on custkey (or broadcasts the distinct buyer set);
    no correlated per-row scan.
    """
    cu = t(spark, sf_dir, "customer")
    od = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = cu.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(cents("c_acctbal")).cast("double") / F.count("*")).alias("a_cents")
    )
    return (
        cu.join(F.broadcast(avg_bal), cents("c_acctbal") > F.col("a_cents"))
        .join(od, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            as_money(F.sum(cents("c_acctbal"))).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------
# q11-style — value concentration (scalar subquery share-of-total).
# --------------------------------------------------------------------
@register(
    "q11_value_concentration",
    f"""
    WITH value AS (
      SELECT l_partkey, SUM({_SQL_DISC_E4}) AS v_e4
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey,
           CAST(v_e4 / 10000.0 AS DOUBLE) AS part_value
    FROM value
    WHERE v_e4 * 20000 > (SELECT SUM(v_e4) FROM value) * 11
    ORDER BY v_e4 DESC, p_partkey
    """,
    tags=("tpch", "subquery", "agg"),
    order=("part_value DESC", "p_partkey"),
    sort="body",
)
def q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: no partsupp table): parts whose
    revenue share exceeds 0.055% of total (1.1× the uniform mean over
    2k parts). The share threshold is the exact integer comparison
    ``v_e4 * 20000 > total_e4 * 11`` — no float.

    Scale shape: one shuffle on l_partkey; the grand total re-uses the
    per-part aggregate (tiny input) and broadcasts back.
    """
    li = t(spark, sf_dir, "lineitem")
    # dsum: the grand total and the share comparison (v*20000) exceed
    # int64 at scale — DECIMAL(38,0) mirrors the oracle's HUGEINT
    value = li.groupBy("l_partkey").agg(
        dsum(disc_price_e4("l_extendedprice", "l_discount")).alias("v_e4")
    )
    total = value.agg(F.sum("v_e4").alias("t_e4"))
    return (
        value.join(F.broadcast(total), F.col("v_e4") * 20000 > F.col("t_e4") * 11)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("v_e4") / 10000.0).cast("double").alias("part_value"),
            F.col("v_e4"),
        )
        .orderBy(F.col("v_e4").desc(), "p_partkey")
        .drop("v_e4")
    )


# --------------------------------------------------------------------
# q2-style — min-cost supplier per part (correlated min + join-back).
# --------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey, SUM({_SQL_DISC_E4}) AS c_e4
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p_partkey, p_name, s_name,
           CAST(c_e4 / 10000.0 AS DOUBLE) AS supply_value
    FROM part
    JOIN cost ON l_partkey = p_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size = 5
      AND c_e4 = (SELECT MIN(c2.c_e4) FROM cost c2
                  WHERE c2.l_partkey = p_partkey)
    ORDER BY p_partkey, s_name
    """,
    tags=("tpch", "subquery", "correlated"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: supply cost = the supplier's summed
    discounted revenue for the part): for size-5 parts, the supplier(s)
    with the minimum cost — correlated MIN decorrelated as a per-part
    aggregate joined back, compared in exact e4 integers.

    Scale shape: cost is one shuffle on (partkey, suppkey); the
    per-part MIN re-aggregates that output (no second fact scan);
    part/supplier dims broadcast.
    """
    li = t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(disc_price_e4("l_extendedprice", "l_discount")).alias("c_e4")
    )
    min_cost = cost.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("c_e4").alias("min_e4")
    )
    pa = F.broadcast(
        t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 5)
        .select("p_partkey", "p_name")
    )
    su = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        cost.join(pa, F.col("p_partkey") == F.col("l_partkey"))
        .join(
            min_cost,
            (F.col("mk") == F.col("l_partkey")) & (F.col("c_e4") == F.col("min_e4")),
        )
        .join(su, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            (F.col("c_e4") / 10000.0).cast("double").alias("supply_value"),
        )
    )


# --------------------------------------------------------------------
# q8 — market share (conditional aggregation over a 6-table join).
# --------------------------------------------------------------------
@register(
    "q8_market_share",
    f"""
    WITH all_sales AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             {_SQL_DISC_E4} AS vol_e4,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n2.n_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1997-12-31'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_e4 ELSE 0 END)
                AS DOUBLE) / CAST(SUM(vol_e4) AS DOUBLE) AS mkt_share
    FROM all_sales GROUP BY o_year ORDER BY o_year
    """,
    tags=("tpch", "join", "agg"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's order volume
    by year — conditional aggregation over a six-table join. The
    share is a ratio of exact e4 integer sums (one deterministic
    double division per group).

    Scale shape: all five dimension joins broadcast; the only big
    shuffle is lineitem⋈orders on orderkey; the region filter prunes
    customers before the fact join via the broadcast. (r11 note: an
    ASIA-customer semi-filter applied to the ORDERS side before the
    big join was built and MEASURED — 0.79 → 0.95 s at sf0.1, the
    extra broadcast build outweighing the small local shuffle saving,
    with the paired worker control agreeing — and reverted; at real
    scale the same effect is available for free by raising the
    runtime Bloom-filter creation threshold, guide §3.2, without a
    second plan shape to maintain.)
    """
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    cu = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    n1 = F.broadcast(
        t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
        )
    )
    re = F.broadcast(
        t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    vol = disc_price_e4("l_extendedprice", "l_discount")
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0))
    return (
        li.join(od, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cu, F.col("c_custkey") == F.col("o_custkey"))
        .join(su, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n1, F.col("s_nk") == F.col("s_nationkey"))
        .join(n2, F.col("c_nk") == F.col("c_nationkey"))
        .join(re, F.col("r_regionkey") == F.col("c_rk"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(nat_vol).cast("double") / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------
# q9 — product-line profit by nation and year.
# --------------------------------------------------------------------
@register(
    "q9_profit_by_nation",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           -- HUGEINT cost product (cents x qty x 20 overflows int64
           -- for large money/quantity) and VARCHAR->DOUBLE (DuckDB's
           -- HUGEINT->DOUBLE truncates; r10 extreme axis)
           CAST(CAST(SUM(
             CAST(round(l_extendedprice * 100) AS HUGEINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))
             - CAST(round(p_retailprice * 100) AS HUGEINT)
               * CAST(l_quantity AS BIGINT) * 20
           ) AS VARCHAR) AS DOUBLE) / 10000.0 AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
    """,
    tags=("tpch", "join", "agg"),
)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp, so supply cost is
    0.2 × p_retailprice × quantity): profit on bolt parts by supplier
    nation and order year. Profit is exact e4 integers end to end
    (the 0.2 factor becomes ×20 at cents×100 scale).

    Scale shape: part (LIKE-filtered), supplier, nation broadcast;
    lineitem⋈orders is the one big shuffle; the LIKE filter prunes
    the fact rows through the broadcast join before it.
    """
    li = t(spark, sf_dir, "lineitem")
    pa = F.broadcast(
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    su = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    na = F.broadcast(t(spark, sf_dir, "nation"))
    # DECIMAL(38,0) per-row terms: the cost product overflows int64
    # for large money x quantity (r10 extreme axis)
    profit_e4 = disc_price_e4("l_extendedprice", "l_discount").cast(
        "decimal(38,0)"
    ) - (
        cents("p_retailprice").cast("decimal(38,0)")
        * F.col("l_quantity").cast("long")
        * 20
    )
    return (
        li.join(pa, F.col("p_partkey") == F.col("l_partkey"))
        .join(su, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(od, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(na, F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            (F.sum(profit_e4) / 10000.0).cast("double").alias("profit")
        )
    )


# --------------------------------------------------------------------
# q12 — shipping-delay buckets × priority classes (conditional agg).
# --------------------------------------------------------------------
@register(
    "q12_shipping_delay",
    """
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30 THEN 'fast'
                WHEN date_diff('day', o_orderdate, l_shipdate) < 90 THEN 'normal'
                ELSE 'slow' END AS delay_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1 ORDER BY delay_class
    """,
    tags=("tpch", "join", "agg"),
)
def q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no l_shipmode — classes come from the
    order→ship delay): per delay bucket, lineitem counts split by
    order priority — the two-way conditional aggregation pattern.

    Scale shape: one orderkey shuffle for the fact-fact join; the
    CASE arithmetic is row-local; counts get map-side partials.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < "1998-01-01"
    )
    od = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff("l_shipdate", "o_orderdate")
    delay_class = (
        F.when(delay < 30, "fast").when(delay < 90, "normal").otherwise("slow")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(od, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(delay_class.alias("delay_class"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------
# q16 — supplier-count distribution per part attribute.
# --------------------------------------------------------------------
@register(
    "q16_supplier_count_by_part",
    """
    SELECT p_type, CAST(p_size // 10 AS BIGINT) AS size_decade,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_name NOT LIKE 'red%'
    GROUP BY p_type, p_size // 10
    ORDER BY supplier_cnt DESC, p_type, size_decade
    """,
    tags=("tpch", "join", "distinct"),
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: supplier-part pairs from lineitem,
    no partsupp): distinct supplier counts per part type and size
    decade, excluding a brand and a name prefix.

    Scale shape: the distinct-count shuffles (key, suppkey) pairs —
    the exact two-phase distinct; the part filters broadcast-prune
    the fact rows first.
    """
    pa = F.broadcast(
        t(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#1") & ~F.col("p_name").like("red%")
        )
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(pa, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_type", F.expr("p_size div 10").alias("size_decade"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------
# q20 — dominant suppliers of a part class (nested IN subqueries).
# --------------------------------------------------------------------
@register(
    "q20_dominant_suppliers",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    ), tot AS (
      SELECT l_partkey, SUM(q) AS tq FROM shipped GROUP BY 1
    )
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_2')
      AND s_suppkey IN (
        SELECT l_suppkey FROM shipped JOIN tot USING (l_partkey)
        WHERE q * 4 > tq
      )
    ORDER BY s_suppkey
    """,
    tags=("tpch", "subquery", "semi"),
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: no partsupp, so 'availqty > half the
    shipped volume' becomes 'shipped more than a quarter of the part's
    1996 volume'): suppliers in two nations that dominate some red part —
    the nested IN(subquery-with-correlated-agg) pattern, decorrelated
    as two stacked aggregates + a semi join.

    Scale shape: shipped is one shuffle on (partkey, suppkey); the
    per-part total re-aggregates that small output; qualifying
    suppkeys form a tiny set that semi-joins (broadcast) against the
    nation-filtered supplier dim. Exact integer quantity comparison
    (q*4 > tq) — no float thresholds.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    pa = F.broadcast(
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    shipped = (
        li.join(pa, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    )
    tot = shipped.groupBy(F.col("l_partkey").alias("tk")).agg(
        F.sum("q").alias("tq")
    )
    dominant = (
        shipped.join(tot, F.col("tk") == F.col("l_partkey"))
        .filter(F.col("q") * 4 > F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    na = F.broadcast(
        t(spark, sf_dir, "nation").filter(
            F.col("n_name").isin("NATION_1", "NATION_2")
        )
    )
    su = t(spark, sf_dir, "supplier")
    return (
        su.join(na, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(dominant),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
    )


# --------------------------------------------------------------------
# q21 — suppliers who kept orders waiting (exists + not-exists).
# --------------------------------------------------------------------
@register(
    "q21_waiting_suppliers",
    """
    WITH li AS (
      -- declared: only dated shipments by known suppliers
      -- participate — a NULL shipdate cannot be 'the last shipment'
      -- (the bare NOT EXISTS would vacuously qualify it) and a NULL
      -- suppkey is not 'another supplier' (r9 null sweep)
      SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
      WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN li l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM li l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM li l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate >= l1.l_shipdate
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("tpch", "subquery", "exists", "window"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: no receipt/commit dates, so 'late' =
    shipped strictly after every other supplier in the order): per
    supplier, the number of finished-order lineitems that were the
    unique last shipment among multi-supplier orders.

    The EXISTS / NOT-EXISTS pair over the same fact table is NOT run
    as two self-joins: per-(order, supplier) max shipdates are
    aggregated once, order-level max / runner-up / supplier counts
    come from windows over that aggregate (same shuffle key — no extra
    exchange), and the row-level test becomes
    ``ship > max(other suppliers' shipdates)``.

    Scale shape: one shuffle on l_orderkey for the agg + windows + the
    join back to lineitem; orders('F') filter pushes to its scan. The
    naive translation re-shuffles lineitem three times; this plan does
    it once.
    """
    od = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        # only dated shipments by known suppliers participate (see
        # the oracle's li CTE; r9 null sweep)
        .where(
            F.col("l_suppkey").isNotNull() & F.col("l_shipdate").isNotNull()
        )
        .join(od, F.col("o_orderkey") == F.col("l_orderkey"))
        .drop("o_orderkey")
    )

    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("sm")
    )
    w = Window.partitionBy("l_orderkey")
    stats = (
        per_supp.withColumn("m1", F.max("sm").over(w))
        .withColumn("n_supp", F.count("*").over(w))
        .withColumn(
            "n_at_m1",
            F.sum(F.when(F.col("sm") == F.col("m1"), 1).otherwise(0)).over(w),
        )
        .withColumn(
            "m2",
            F.max(F.when(F.col("sm") < F.col("m1"), F.col("sm"))).over(w),
        )
        .withColumn(
            "other_max",
            F.when(
                (F.col("sm") == F.col("m1")) & (F.col("n_at_m1") == 1),
                F.col("m2"),
            ).otherwise(F.col("m1")),
        )
        .filter(F.col("n_supp") > 1)
        .select(
            F.col("l_orderkey").alias("k"),
            F.col("l_suppkey").alias("s"),
            "other_max",
        )
    )
    su = F.broadcast(t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        li.join(
            stats,
            (F.col("k") == F.col("l_orderkey")) & (F.col("s") == F.col("l_suppkey")),
        )
        .filter(F.col("l_shipdate") > F.col("other_max"))
        .join(su, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
