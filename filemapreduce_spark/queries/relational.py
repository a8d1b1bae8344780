"""Relational query suite (SURVEY.md §2 Part B): scans, joins of every
flavor, grouped/windowed/rollup aggregation, set ops, scalar functions,
top-k, pivot, range and as-of joins — TPC-H-shaped where possible.

Every query is a lazy DataFrame plan over the parquet tables; Catalyst
handles pushdown/pruning/join strategy (broadcast hints where the dim
side is known-small). Aggregated money uses exact integer-cents
arithmetic (operators.money) for oracle hash parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.asof import asof_join
from filemapreduce_spark.operators.money import (
    as_money,
    cents,
    charge_e6,
    disc_price_e4,
)
from filemapreduce_spark.queries import register


from filemapreduce_spark.sources.tables import load_table as t  # noqa: E402


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


# --------------------------------------------------------------------
# Outer / semi / anti joins.
# --------------------------------------------------------------------
@register(
    "join_left_order_counts",
    """
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(round(o_totalprice*100) AS BIGINT)), 0) / 100.0 AS DOUBLE) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY c_custkey
    """,
    tags=("join", "outer", "agg"),
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT join keeping order-less customers (n_orders = 0)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            as_money(F.coalesce(F.sum(cents("o_totalprice")), F.lit(0))).alias(
                "total_spend"
            ),
        )
    )


@register(
    "join_semi_anti_segments",
    """
    SELECT c_mktsegment,
           COUNT(CASE WHEN has_order THEN 1 END) AS n_with_orders,
           COUNT(CASE WHEN NOT has_order THEN 1 END) AS n_without_orders
    FROM (SELECT c_custkey, c_mktsegment,
                 EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
          FROM customer) t
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("join", "semi", "anti"),
)
def join_semi_anti_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi + left_anti joins unioned into per-segment counts."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    with_o = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with_orders"))
    )
    without_o = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_without_orders"))
    )
    return (
        with_o.join(without_o, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


@register(
    "join_full_outer_nations",
    """
    SELECT COALESCE(cu.nk, su.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) cu
    FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) su
      ON cu.nk = su.nk
    ORDER BY nationkey
    """,
    tags=("join", "outer"),
)
def join_full_outer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    su = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cu.join(su, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


# --------------------------------------------------------------------
# Window functions.
# --------------------------------------------------------------------
@register(
    "window_topk_per_brand",
    """
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             CAST(row_number() OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rn
      FROM part) x
    WHERE rn <= 3
    ORDER BY p_brand, rn
    """,
    tags=("window", "topk"),
    # brands x 3 rows; repartition(1) keeps the ranking window parallel
    # (coalesce(1) would serialize it) and skips orderBy's sampling job
    sort="one_part_sorted",
)
def window_topk_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via ranking window (the scalable top-k-per-key
    pattern — no global sort)."""
    p = t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


@register(
    "window_running_supplier",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST,
                        l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
    FROM lineitem
    WHERE l_suppkey < 10
    ORDER BY l_suppkey, l_shipdate NULLS FIRST, l_orderkey NULLS FIRST,
             l_linenumber
    """,
    tags=("window",),
    order=("l_suppkey", "l_orderkey", "l_linenumber"),
)
def window_running_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per key — frame-based window aggregation.

    Declared NULL ordering: undated rows run FIRST (explicit NULLS
    FIRST on both sides — Spark's ASC default, DuckDB defaults to
    NULLS LAST, so an implicit ordering diverges the running prefix
    on NULL-bearing shipdates; r9 null sweep)."""
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 10)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            F.asc_nulls_first("l_shipdate"), "l_orderkey", "l_linenumber"
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        l.withColumn(
            "running_qty", F.sum(F.col("l_quantity").cast("long")).over(w)
        )
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    )


@register(
    "window_lag_event_gaps",
    """
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
    ORDER BY user_id, ts, event_id
    """,
    tags=("window", "lag"),
    order=("user_id", "event_id"),
)
def window_lag_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic — inter-event gap per user (null for first)."""
    e = t(spark, sf_dir, "events")
    epoch = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("gap_us", epoch - F.lag(epoch).over(w))
        .select("event_id", "user_id", "gap_us")
    )


@register(
    "window_rank_supplier_balance",
    """
    WITH thr AS (
      SELECT quantile_cont(CAST(round(s_acctbal * 100) AS BIGINT), 0.25) AS p25,
             quantile_cont(CAST(round(s_acctbal * 100) AS BIGINT), 0.50) AS p50,
             quantile_cont(CAST(round(s_acctbal * 100) AS BIGINT), 0.75) AS p75
      FROM supplier
    )
    SELECT s_nationkey, s_suppkey, s_acctbal,
           CAST(dense_rank() OVER (PARTITION BY s_nationkey
                ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT) AS rnk,
           CAST(1 + (CAST(round(s_acctbal * 100) AS BIGINT) < p75)::INT
                  + (CAST(round(s_acctbal * 100) AS BIGINT) < p50)::INT
                  + (CAST(round(s_acctbal * 100) AS BIGINT) < p25)::INT
                AS BIGINT) AS quartile
    FROM supplier, thr
    ORDER BY s_nationkey, rnk
    """,
    tags=("window", "rank"),
)
def window_rank_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation dense rank + global balance quartile.

    The quartile deliberately avoids ``ntile() OVER (ORDER BY ...)``
    — a global unpartitioned window moves the whole table to ONE task.
    Instead the three quartile thresholds are a single-value aggregate
    (exact percentiles of integer cents) broadcast back and compared
    row-locally: same classification, no single-partition stage.
    Interpolated percentiles of integers are exact in both engines
    ((3a+b)/4 is an exact double), so the comparison is deterministic.
    """
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    s = t(spark, sf_dir, "supplier")
    c = cents("s_acctbal")
    thr = F.broadcast(
        s.agg(
            F.percentile(c, F.lit(0.25)).alias("p25"),
            F.percentile(c, F.lit(0.50)).alias("p50"),
            F.percentile(c, F.lit(0.75)).alias("p75"),
        )
    )
    quartile = (
        F.lit(1)
        + (c < F.col("p75")).cast("int")
        + (c < F.col("p50")).cast("int")
        + (c < F.col("p25")).cast("int")
    )
    return (
        s.crossJoin(thr)
        .withColumn("rnk", F.dense_rank().over(w).cast("long"))
        .withColumn("quartile", quartile.cast("long"))
        .select("s_nationkey", "s_suppkey", "s_acctbal", "rnk", "quartile")
    )


# --------------------------------------------------------------------
# Rollup / cube / grouping sets / distinct.
# --------------------------------------------------------------------
@register(
    "rollup_lineitem_status",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- observed-groups-only: Spark's rollup/cube emit NO rows over an
    -- empty input (the SQL-standard () set would emit one zero row);
    -- the engine contract here is Spark semantics, so the oracle
    -- drops the phantom grand row. Identity everywhere data exists.
    HAVING COUNT(*) > 0
    ORDER BY returnflag, linestatus
    """,
    tags=("agg", "rollup"),
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "cube_events_type_year",
    """
    SELECT COALESCE(event_type, 'ALL') AS etype,
           COALESCE(CAST(CAST(year(ts) AS INT) AS VARCHAR), 'ALL') AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_value
    FROM events
    GROUP BY CUBE (event_type, CAST(year(ts) AS INT))
    HAVING COUNT(*) > 0  -- observed-groups-only (see rollup oracle)
    ORDER BY etype, yr
    """,
    tags=("agg", "cube"),
)
def cube_events_type_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").withColumn("yr_i", F.year("ts"))
    return (
        e.cube("event_type", "yr_i")
        .agg(
            F.count("*").alias("n"),
            as_money(F.sum(cents("value"))).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("yr_i").cast("string"), F.lit("ALL")).alias("yr"),
            "n",
            "sum_value",
        )
    )


@register(
    "grouping_sets_orders",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    HAVING COUNT(*) > 0  -- observed-groups-only (see rollup oracle)
    ORDER BY status, priority
    """,
    tags=("agg", "grouping-sets", "sql"),
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the SQL API surface (spark.sql over a temp view)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "distinct_counts_lineitem",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def distinct_counts_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
    )


# --------------------------------------------------------------------
# Set operations.
# --------------------------------------------------------------------
_SETOP_ORACLE = """
    SELECT nk, COUNT(*) AS n FROM (
      SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9000
      {op}
      SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal > 9000
    ) GROUP BY nk ORDER BY nk
"""


@register(
    "setop_union_rich_nations",
    _SETOP_ORACLE.format(op="UNION"),
    tags=("setop",),
)
def setop_union_rich_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nk"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nk"))
    )
    return c.union(s).distinct().groupBy("nk").agg(F.count("*").alias("n"))


@register(
    "setop_intersect_rich_nations",
    _SETOP_ORACLE.format(op="INTERSECT"),
    tags=("setop",),
)
def setop_intersect_rich_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nk"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nk"))
    )
    return c.intersect(s).groupBy("nk").agg(F.count("*").alias("n"))


@register(
    "setop_except_rich_nations",
    _SETOP_ORACLE.format(op="EXCEPT"),
    tags=("setop",),
)
def setop_except_rich_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nk"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nk"))
    )
    # subtract == EXCEPT DISTINCT (exceptAll would keep multiplicity)
    return c.subtract(s).groupBy("nk").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------
# Scalar function surface.
# --------------------------------------------------------------------
@register(
    "scalar_string_part",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           CAST(length(p_name) AS INT) AS name_len,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1 AS INT) AS n_words,
           p_brand || ':' || p_type AS brand_type,
           substr(p_name, 1, 8) AS name_prefix
    FROM part
    WHERE p_partkey < 500
    ORDER BY p_partkey
    """,
    tags=("scalar", "string"),
)
def scalar_string_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("int").alias("name_len"),
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
        (
            F.length("p_name")
            - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("int")
        .alias("n_words"),
        # concat (NULL-propagating, SQL-standard ||), NOT concat_ws:
        # concat_ws silently SKIPS null operands, so a NULL brand
        # produced ':TYPE' here while the oracle's || produced NULL
        # (r9 null sweep) — an unknown component makes the composite
        # unknown
        F.concat("p_brand", F.lit(":"), "p_type").alias("brand_type"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
    )


@register(
    "scalar_datetime_orders",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dy,
           strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since,
           CAST(quarter(o_orderdate) AS INT) AS qtr
    FROM orders
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey
    """,
    tags=("scalar", "datetime"),
)
def scalar_datetime_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
        F.quarter("o_orderdate").alias("qtr"),
    )


@register(
    "scalar_math_case_lineitem",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25.0) AS qty_dev,
           sqrt(l_quantity) AS qty_sqrt,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_bucket,
           CASE WHEN l_quantity >= 40 THEN 'bulk'
                WHEN l_quantity >= 10 THEN 'mid'
                ELSE 'small' END AS qty_class,
           greatest(l_discount, l_tax) AS max_rate
    FROM lineitem
    WHERE l_orderkey < 300
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("scalar", "math", "case"),
)
def scalar_math_case_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("price_bucket"),
        F.when(F.col("l_quantity") >= 40, "bulk")
        .when(F.col("l_quantity") >= 10, "mid")
        .otherwise("small")
        .alias("qty_class"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
    )


@register(
    "json_extract_events",
    """
    SELECT event_type,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("scalar", "json"),
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: JSON path extraction inside an agg."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").try_cast("long")).alias("sum_k"),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------------------
# Sort / limit / pivot.
# --------------------------------------------------------------------
@register(
    "topk_orders_by_price",
    """
    SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "topk"),
    # the top-k is the whole plan (no exchange): a sort on top of it
    # would only wrap the same plan in an AdaptiveSparkPlan
    sort="body",
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — Spark plans TakeOrderedAndProject, not a full
    sort."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("pivot", "agg"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


# --------------------------------------------------------------------
# Range (interval) join + as-of join.
# --------------------------------------------------------------------
@register(
    "range_join_signup_follows",
    """
    SELECT s.event_id AS signup_id,
           COUNT(e.event_id) AS n_follow
    FROM events s LEFT JOIN events e
      ON e.user_id = s.user_id
     AND e.ts > s.ts
     AND e.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup'
    GROUP BY s.event_id
    ORDER BY s.event_id
    """,
    tags=("join", "range"),
    order=("signup_id",),
)
def range_join_signup_follows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join expressed as a time-RANGE window frame: events in
    (ts, ts+1h] by the same user are exactly the rows in a
    ``rangeBetween(+1us, +1h)`` frame over user-partitioned,
    time-ordered events, so ``count(*)`` over that frame IS the
    interval-join cardinality. One shuffle on user_id and a sort —
    no per-pair fan-out, unlike the equi+residual hash join this
    replaced (whose output exploded with followers-per-signup; at
    100 TB the window form's cost is a single exchange regardless of
    how dense the follow windows are)."""
    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(1, 3_600_000_000)  # (+1us, +1h] in microseconds
    )
    # NULL semantics, declared: a NULL-key or NULL-time signup has no
    # follow window — the oracle's join predicates are never true for
    # NULL — but stays in the output with n_follow=0 (LEFT join). The
    # window itself would otherwise count fellow NULL-ordered rows
    # (Spark groups NULL order values into one frame) or fellow
    # NULL-user rows (partitionBy groups NULLs), which the SQL
    # equi+theta predicates never match (r9 null sweep).
    valid = F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    return (
        e.withColumn(
            "n_follow",
            F.when(valid, F.count(F.lit(1)).over(w)).otherwise(F.lit(0)),
        )
        .filter(F.col("event_type") == "signup")
        .select(F.col("event_id").alias("signup_id"), "n_follow")
    )


@register(
    "asof_join_purchase_click",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           l.event_id AS asof_click_id,
           l.value AS asof_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
        SELECT c.event_id, c.value
        FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
        ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
    ) l ON true
    ORDER BY purchase_id
    """,
    tags=("join", "asof"),
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union+window operator (operators.asof): for
    each purchase, the latest click at-or-before it by the same user —
    one shuffle by user, no per-pair fan-out."""
    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["event_id", "value"],
        tiebreak="event_id",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.col("asof_event_id").alias("asof_click_id"),
        F.col("asof_value").alias("asof_click_value"),
    )


@register(
    "asof_join_tolerance_30min",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           l.event_id AS asof_click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
        SELECT c.event_id
        FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click'
          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTES
        ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
    ) l ON true
    ORDER BY purchase_id
    """,
    tags=("join", "asof"),
)
def asof_join_tolerance_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with bounded staleness (pandas merge_asof
    ``tolerance`` semantics): the latest same-user click at-or-before
    each purchase, but only if it happened within the last 30
    minutes — older matches null out. The tolerance is a row-local
    post-filter on the window result, so it costs zero extra shuffles
    over the plain as-of join; the oracle's correlated LATERAL limit
    proves the semantics independently.
    """
    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["event_id"],
        tiebreak="event_id",
        tolerance="30 MINUTES",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.col("asof_event_id").alias("asof_click_id"),
    )


@register(
    "topk_with_ties_orders",
    """
    WITH r AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             rank() OVER (ORDER BY round(o_totalprice * 100) DESC) AS rnk
      FROM orders
    )
    SELECT o_orderkey, o_custkey, price_cents, rnk
    FROM r WHERE rnk <= 10 ORDER BY rnk, o_orderkey
    """,
    tags=("window", "topk"),
)
def topk_with_ties_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES (SQL FETCH FIRST k ROWS WITH TIES): rank()
    instead of row_number() keeps every row tied at the boundary —
    the semantics row_number-based top-k silently breaks.

    Scale note: the global-rank window is single-partition in
    principle, but Spark's WindowGroupLimit pushes the rnk<=10
    predicate below the sort, so each input partition forwards only
    its local top-10 (+ties) before the final merge — the same
    physical shape as TakeOrdered, k rows per partition on the wire.
    """
    o = t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("price_cents").desc())
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            cents("o_totalprice").alias("price_cents"),
        )
        .withColumn("rnk", F.rank().over(w).cast("long"))
        .where(F.col("rnk") <= 10)
    )


@register(
    "systematic_sample_user_events",
    """
    WITH r AS (
      SELECT user_id, event_id, ts,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY ts NULLS FIRST, event_id) AS rn
      FROM events
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
    FROM r
    WHERE (rn - 1) % 20 = 0
    ORDER BY user_id, event_id
    """,
    tags=("sampling", "window"),
)
def systematic_sample_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every-nth) sampling per user stream: keep rows 1,
    21, 41, … of each user's time-ordered event sequence — the
    downsampling shape for dense telemetry (fixed fraction per key,
    evenly spread over time, unlike hash sampling which clusters).

    Scale: one shuffle on user_id; the row_number window is
    partitioned (parallel) and the modulo filter is row-local.
    """
    e = t(spark, sf_dir, "events")
    # explicit NULLS FIRST: Spark's ASC default — pinned on both sides
    # so undated rows take the same stream positions in the oracle
    # (DuckDB defaults NULLS LAST; r9 null sweep)
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_first("ts"), "event_id"
    )
    return (
        e.select(
            "user_id", "event_id", "ts", F.row_number().over(w).alias("rn")
        )
        .where((F.col("rn") - 1) % 20 == 0)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        )
    )


# --------------------------------------------------------------------
# Skew-mitigated join: salting (hot reduce-side keys).
# --------------------------------------------------------------------
@register(
    "join_salted_user_revenue",
    """
    WITH user_orders AS (
      SELECT o_custkey AS user_id,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(spend_cents) / 100.0 AS DOUBLE) AS total_spend
    FROM events JOIN user_orders USING (user_id)
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("join", "skew", "salting"),
)
def join_salted_user_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim equi-join executed through the salted-join operator
    (operators.skew): the fact side's key is extended with a
    deterministic 8-way salt and the dim side is replicated per salt,
    so a hot user_id spreads over 8 reduce tasks instead of one. The
    oracle is the PLAIN join — salting must be result-invariant.

    Scale shape: this is the structural fix for hot keys that AQE's
    skew splitting can't reach (all rows of one key hash to one task);
    dim replication cost is bounded (num_salts × |dim|).
    """
    from filemapreduce_spark.operators.skew import salted_join

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    user_orders = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.sum(cents("o_totalprice")).alias("spend_cents"))
    )
    joined = salted_join(
        ev, user_orders, on="user_id", num_salts=8, salt_from="event_id"
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            as_money(F.sum("spend_cents")).alias("total_spend"),
        )
    )


# --------------------------------------------------------------------
# Statistical moments with exact integer accumulators.
# --------------------------------------------------------------------
@register(
    "stats_moments_lineitem",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
           -- HUGEINT square sum, VARCHAR->DOUBLE surface (DuckDB's
           -- direct HUGEINT->DOUBLE truncates; r10 extreme axis)
           CAST(CAST(SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT))
             AS VARCHAR) AS DOUBLE) AS sumsq_q,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS mean_q,
           (CAST(CAST(SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS VARCHAR) AS DOUBLE)
             - CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
               * CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1) AS var_q
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def stats_moments_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance via exact integer moment accumulators (sum,
    sum-of-squares as BIGINT) with one deterministic double formula at
    the end — the order-independent alternative to stddev()/var()
    whose float partial sums differ between engines and between runs.

    Scale shape: identical to any grouped agg (map-side partials on
    exact ints); this is how statistical profiling stays hash-
    verifiable at 100 TB.
    """
    q = F.col("l_quantity").cast("long")
    n = F.count(F.lit(1))
    sum_q = F.sum(q)
    # widen BEFORE the multiply: q*q overflows int64 per row for
    # ~1e9-scale values and its sum overflows at any real row count;
    # DOUBLE surface (r10 extreme axis)
    sumsq_q = F.sum(q.cast("decimal(38,0)") * q).cast("double")
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            sum_q.alias("sum_q"),
            sumsq_q.alias("sumsq_q"),
            (sum_q.cast("double") / n).alias("mean_q"),
            (
                (
                    sumsq_q.cast("double")
                    - sum_q.cast("double") * sum_q.cast("double") / n
                )
                / (n - F.lit(1))
            ).alias("var_q"),
        )
    )


# --------------------------------------------------------------------
# Unpivot / melt (wide → long reshaping).
# --------------------------------------------------------------------
@register(
    "unpivot_order_money",
    """
    SELECT o_orderkey, kind,
           CAST(amount_cents / 100.0 AS DOUBLE) AS amount
    FROM (
      SELECT o_orderkey, kind, amount_cents
      FROM (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS total,
               CAST(round(o_totalprice * 0.1 * 100) AS BIGINT) AS tax_est,
               CAST(round(o_totalprice * 0.9 * 100) AS BIGINT) AS net_est
        FROM orders WHERE o_orderkey <= 1000
      ) -- INCLUDE NULLS: melt KEEPS missing measures as NULL rows
        -- (Spark's unpivot does; bare DuckDB UNPIVOT silently drops
        -- them — the all-NULL fixture returned 0 rows; r9 sweep)
        UNPIVOT INCLUDE NULLS
        (amount_cents FOR kind IN (total, tax_est, net_est))
    )
    ORDER BY o_orderkey, kind
    """,
    tags=("reshape", "unpivot"),
)
def unpivot_order_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): three money columns become (kind,
    amount) rows — the inverse of pivot, row-local and shuffle-free
    (output is 3× the rows, same partitioning).
    """
    od = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select(
            "o_orderkey",
            cents("o_totalprice").alias("total"),
            F.round(F.col("o_totalprice") * 0.1 * 100).cast("long").alias("tax_est"),
            F.round(F.col("o_totalprice") * 0.9 * 100).cast("long").alias("net_est"),
        )
    )
    return (
        od.unpivot(
            "o_orderkey", ["total", "tax_est", "net_est"], "kind", "amount_cents"
        )
        .select(
            "o_orderkey",
            "kind",
            as_money(F.col("amount_cents")).alias("amount"),
        )
    )


# --------------------------------------------------------------------
# Range-frame window (time-interval sliding aggregate).
# --------------------------------------------------------------------
@register(
    "window_range_30day_revenue",
    """
    SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ) / 100.0 AS DOUBLE) AS revenue_30d
    FROM orders
    WHERE o_custkey <= 100
    ORDER BY o_custkey, orderdate
    """,
    tags=("window", "range-frame"),
)
def window_range_30day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day revenue per customer via a RANGE frame over
    epoch seconds — the time-interval window that row frames can't
    express (rows at irregular timestamps).

    Scale shape: one shuffle on the partition key; the range frame is
    evaluated with a sliding pointer over each partition's sorted run
    — no self-join against a date dimension.
    """
    od = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, Window.currentRow)
    )
    return (
        od.select(
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            as_money(F.sum(cents("o_totalprice")).over(w)).alias("revenue_30d"),
        )
    )


# --------------------------------------------------------------------
# Array aggregation (deterministic: sorted collect).
# --------------------------------------------------------------------
@register(
    "array_agg_order_parts",
    """
    SELECT l_orderkey,
           COALESCE(array_to_string(list_sort(
             list(l_partkey) FILTER (l_partkey IS NOT NULL)), ','), '')
             AS parts,
           CAST(COALESCE(len(list(l_partkey)
             FILTER (l_partkey IS NOT NULL)), 0) AS INT) AS n_parts,
           CAST(list_sort(list(l_partkey)
             FILTER (l_partkey IS NOT NULL))[1] AS BIGINT) AS first_part
    FROM lineitem
    WHERE l_orderkey <= 500
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
    tags=("agg", "array"),
)
def array_agg_order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: each order's part keys collected into a
    SORTED array (collect_list order is nondeterministic across
    partitions — sort_array makes it hash-verifiable), plus array
    accessors.

    NULL semantics, declared: collected arrays hold NON-NULL part
    keys (Spark's collect_list drops NULLs; the oracle's list()
    KEEPS them, so it carries an explicit FILTER), and the first
    element of an all-NULL group's EMPTY array is NULL via
    try_element_at — plain element_at raises INVALID_ARRAY_INDEX
    under ANSI (r9 null-sweep crash).
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    parts = F.sort_array(F.collect_list("l_partkey"))
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(parts.cast("array<string>"), ",").alias("parts"),
            F.size(F.collect_list("l_partkey")).alias("n_parts"),
            F.try_element_at(parts, F.lit(1)).alias("first_part"),
        )
    )


# --------------------------------------------------------------------
# Semi-structured payloads: VARIANT (schema-on-read escape hatch).
# --------------------------------------------------------------------
@register(
    "variant_props_events",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k,
           MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("scalar", "json", "variant"),
)
def variant_props_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic JSON payloads through VariantType — the schema-on-read
    escape hatch (SURVEY §1.2) for payloads whose shape isn't known at
    plan time: parse once to VARIANT (binary-encoded, no re-parse per
    access), extract typed fields with variant_get.

    Scale shape: VARIANT keeps extraction row-local and
    shredding-friendly; the aggregate is a plain grouped agg. Unlike
    get_json_object, repeated accesses don't re-parse the JSON text.
    """
    e = t(spark, sf_dir, "events")
    # try_variant_get: a non-numeric $.k (type garbage in real-world
    # payloads) is off-domain -> NULL, instead of an ANSI cast abort
    k = F.expr("try_variant_get(try_parse_json(props), '$.k', 'bigint')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# --------------------------------------------------------------------
# Incremental re-reduce (reference readme TODO — merge with `current`).
# --------------------------------------------------------------------
@register(
    "incremental_reduce_merge",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_v,
           MIN(CAST(l_quantity AS BIGINT)) AS min_v,
           MAX(CAST(l_quantity AS BIGINT)) AS max_v,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS mean_v,
           -- HUGEINT per-row square; VARCHAR->DOUBLE because DuckDB's
           -- direct HUGEINT->DOUBLE conversion TRUNCATES instead of
           -- rounding to nearest (r10 extreme axis)
           (CAST(CAST(SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS VARCHAR) AS DOUBLE)
             - CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
               * CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1) AS var_v
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("incremental", "agg", "state"),
)
def incremental_reduce_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-reduce — the reference's reserved-but-unbuilt
    ``Reduce(current, ...)`` capability (interfaces.go:52-64, TODO
    readme.md:43-44): the 'history' slice (shipdate < 1997) is reduced
    to per-group monoid state, the 'delta' slice is reduced
    separately, and the two STATES are merged and finalized — the
    delta path never re-aggregates history rows. Oracle: one full
    aggregation over everything (merge correctness = monoid algebra).

    Scale shape: at 100 TB the history state is one persisted tiny
    table (rows = |groups|); each ingest batch pays only its own scan
    + a state-sized merge shuffle.
    """
    from filemapreduce_spark.operators.incremental import (
        finalize_state,
        merge_states,
        partial_state,
    )

    li = t(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    qty = F.col("l_quantity").cast("long")
    # the history/delta split must PARTITION the table: a NULL
    # shipdate fails both `< D` and `>= D`, so undated rows silently
    # vanished from the merged state while the one-pass oracle counted
    # them (r9 null sweep) — undated rows are declared history
    history = partial_state(
        li.filter(
            (F.col("l_shipdate") < "1997-01-01")
            | F.col("l_shipdate").isNull()
        ),
        keys,
        qty,
    )
    delta = partial_state(
        li.filter(F.col("l_shipdate") >= "1997-01-01"), keys, qty
    )
    merged = merge_states([history, delta], keys)
    return finalize_state(merged, keys)


# --------------------------------------------------------------------
# Ordered string aggregation (listagg/string_agg).
# --------------------------------------------------------------------
@register(
    "string_agg_nation_suppliers",
    """
    SELECT n_name, COUNT(*) AS n_suppliers,
           string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
    FROM nation JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("agg", "string"),
)
def string_agg_nation_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (ANSI LISTAGG): per nation, the
    comma-joined supplier names in deterministic name order —
    ``sort_array(collect_list(...))`` then join, the order-stable
    formulation (a bare collect_list is partition-order-dependent).

    Scale shape: one grouped agg; the sort is per-group over small
    arrays, not a global sort.
    """
    na = F.broadcast(t(spark, sf_dir, "nation"))
    su = t(spark, sf_dir, "supplier")
    return (
        su.join(na, F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias(
                "supplier_csv"
            ),
        )
    )


# --------------------------------------------------------------------
# Distribution-position analytics (percent_rank / cume_dist).
# --------------------------------------------------------------------
@register(
    "window_percentile_position",
    """
    SELECT c_mktsegment, c_custkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WHERE c_acctbal > 9000
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY round(c_acctbal * 100), c_custkey)
    ORDER BY c_mktsegment, c_custkey
    """,
    tags=("window", "analytic"),
)
def window_percentile_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist within groups — where each row sits in
    its segment's balance distribution. Ties broken by custkey so both
    engines rank identically; balances compared in exact cents.

    Scale shape: one shuffle on the partition key; no global sort; the
    rich-customer filter pushes to the scan.
    """
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.round(F.col("c_acctbal") * 100), "c_custkey")
    )
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(
            "c_mktsegment",
            "c_custkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
    )


# --------------------------------------------------------------------
# Lateral join (correlated per-row subquery with LIMIT).
# --------------------------------------------------------------------
@register(
    "lateral_topk_per_nation",
    """
    SELECT n_name, c.c_name, c.c_acctbal
    FROM nation, LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) c
    ORDER BY n_name, c.c_acctbal DESC, c.c_name
    """,
    tags=("join", "lateral", "subquery"),
)
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LATERAL join: for each nation, the two richest customers —
    a correlated per-row subquery with ORDER BY + LIMIT, the SQL shape
    users reach for before discovering window functions.

    Scale shape: Catalyst decorrelates the lateral subquery into a
    WindowGroupLimit (per-group top-k pushed below the join) rather
    than executing the inner query once per outer row — verified in
    the physical plan; the nation side broadcasts.
    """
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation_lat")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    return spark.sql(
        """
        SELECT n_name, c.c_name, c.c_acctbal
        FROM nation_lat, LATERAL (
          SELECT c_name, c_acctbal FROM customer_lat
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) c
        """
    )


# --------------------------------------------------------------------
# Null-safe equality join (IS NOT DISTINCT FROM / <=>).
# --------------------------------------------------------------------
@register(
    "join_null_safe_segment",
    """
    WITH c AS (
      SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
      FROM customer
    ), d AS (
      SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg,
             COALESCE(nullif(c_mktsegment, 'BUILDING'), 'UNSEGMENTED') AS label
      FROM customer
    )
    SELECT d.label, COUNT(*) AS n_customers
    FROM c JOIN d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.label ORDER BY d.label
    """,
    tags=("join", "null-safe"),
)
def join_null_safe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys match each other instead of vanishing — the semantics CDC and
    dimension lookups with "unknown" buckets need. The BUILDING
    segment is nulled out to exercise the NULL-matching path.

    Scale shape: `<=>` is a hashable equi-join key in Spark (NULLs
    hash to one bucket), so this stays a broadcast/hash join, not a
    cartesian filter.
    """
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    d = (
        c.select("seg")
        .distinct()
        .select(
            "seg", F.coalesce("seg", F.lit("UNSEGMENTED")).alias("label")
        )
    )
    return (
        c.join(F.broadcast(d), c["seg"].eqNullSafe(d["seg"]))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --------------------------------------------------------------------
# Mergeable HLL sketch columns (re-aggregatable distinct state).
# --------------------------------------------------------------------
@register(
    "hll_sketch_daily_users",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS merge_within_2pct,
           TRUE AS est_within_5pct
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1 ORDER BY day
    """,
    tags=("agg", "sketch", "incremental"),
)
def hll_sketch_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count state: per-(day, type) Datasketches HLL
    sketches built first, then UNIONED per day and estimated — the
    two-level shape proving the sketch column is re-aggregatable
    (store fine-grained sketches once; answer any coarser distinct
    query by merging, never rescanning raw data).

    Verified SCALE-INDEPENDENT contracts (an earlier version oracle-
    matched the raw estimate against exact COUNT(DISTINCT), which only
    holds while the sketch is in sparse/coupon mode — it broke at
    sf0.1): (1) `merge_within_2pct` — the estimate from unioning the
    per-type sketches agrees with the estimate from sketching the
    day's stream directly to within 2% (Spark's union converts
    through a target representation, so bit-equality is NOT its
    contract — measured divergence up to ~1.2% at sf0.1); (2)
    `est_within_5pct` — the merged estimate lands within the sketch's
    accuracy envelope of the exact count. The oracle asserts both
    contracts plus the exact count itself.

    Scale shape: raw 100 TB events reduce to one ~KB sketch per
    (day, type) in a single map-side-combined agg; every later rollup
    (day, week, global) merges those sketches — constant-size state,
    no re-shuffle of raw rows.
    """
    # NULL event-times are on no day (the per-day equi self-join of
    # direct vs merged estimates would silently drop a NULL day group
    # anyway — declare the exclusion instead; r9 null sweep)
    e = (
        t(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            "event_type",
            "user_id",
        )
    )
    per_type = e.groupBy("day", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_type.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = e.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "est_direct"
        ),
        F.count_distinct("user_id").alias("n_users_exact"),
    )
    exact = F.col("n_users_exact")
    return (
        direct.join(merged, "day")
        .select(
            "day",
            "n_users_exact",
            (
                F.abs(F.col("est_merged") - F.col("est_direct")) * 50
                <= F.greatest(F.col("est_direct"), F.lit(1))
            ).alias("merge_within_2pct"),
            (
                F.abs(F.col("est_merged") - exact) * 20 <= exact
            ).alias("est_within_5pct"),
        )
    )


# --------------------------------------------------------------------
# SCD2 / change-data-capture interval derivation.
# --------------------------------------------------------------------
@register(
    "scd2_user_type_intervals",
    """
    WITH e AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE ts IS NOT NULL
    ), marked AS (
      SELECT *, CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                     THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    )
    SELECT user_id, CAST(run_id AS BIGINT) AS version,
           event_type, COUNT(*) AS n_events,
           MIN(epoch_us(ts)) AS valid_from_us
    FROM runs GROUP BY user_id, run_id, event_type
    ORDER BY user_id, version
    """,
    tags=("window", "cdc", "temporal"),
)
def scd2_user_type_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style history derivation (change data capture): collapse
    each user's event stream into versioned validity runs — a new
    version starts whenever the observed attribute (event_type)
    changes. This is the gaps-and-islands shape behind dimension
    history tables and CDC compaction.

    Scale shape: one shuffle on user_id serves both window passes and
    the final agg (same partitioning reused); no global sort.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # NULL observation times carry no validity interval — off the
    # history axis on both sides (r9 null sweep: NULLS FIRST vs LAST
    # produced different version runs)
    runs = (
        t(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn(
            "chg",
            F.when(
                ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn("version", F.sum("chg").over(wrun))
    )
    return (
        runs.groupBy("user_id", "version", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_micros("ts")).alias("valid_from_us"),
        )
    )


# --------------------------------------------------------------------
# Map-typed columns: build, merge, explode.
# --------------------------------------------------------------------
@register(
    "map_ops_type_values",
    """
    WITH per_user AS (
      SELECT user_id, event_type,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE user_id < 20 AND event_type IS NOT NULL
      GROUP BY user_id, event_type
    )
    SELECT user_id, event_type,
           CAST(cents / 100.0 AS DOUBLE) AS type_value,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS INT) AS n_types
    FROM per_user ORDER BY user_id, event_type
    """,
    tags=("scalar", "map"),
)
def map_ops_type_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: per-user totals are packed into a
    map<event_type, value> column (`map_from_entries` over a
    collected struct array), measured (`map_keys`/`size`), then
    exploded back to rows — the schema-flexible per-entity-attributes
    pattern (feature maps, sparse counters) that avoids a fixed wide
    schema.

    Scale shape: one grouped agg builds the map per user; explode is
    row-local; nothing leaves the user_id partitioning.
    """
    # a map cannot hold a NULL key (Spark raises NULL_MAP_KEY at
    # map_from_entries; r9 null-sweep crash) — declared: untyped
    # events carry no map entry, on both sides
    per_user = (
        t(spark, sf_dir, "events")
        .filter((F.col("user_id") < 20) & F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    packed = per_user.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct("event_type", "cents"))
            )
        ).alias("m")
    )
    return (
        packed.select(
            "user_id",
            F.size(F.col("m")).alias("n_types"),
            F.explode(F.col("m")).alias("event_type", "cents"),
        )
        .select(
            "user_id",
            "event_type",
            (F.col("cents") / 100.0).cast("double").alias("type_value"),
            F.col("n_types").cast("int").alias("n_types"),
        )
    )


# --------------------------------------------------------------------
# Time-series gap filling + forward fill (date spine per group).
# --------------------------------------------------------------------
@register(
    "gapfill_daily_event_counts",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), span AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      FROM daily GROUP BY event_type
    ), spine AS (
      SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ), joined AS (
      SELECT s.event_type, s.day, d.cnt
      FROM spine s LEFT JOIN daily d
        ON s.event_type = d.event_type AND s.day = d.day
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           COALESCE(cnt, 0) AS cnt,
           LAST_VALUE(cnt IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS last_observed
    FROM joined
    ORDER BY event_type, day
    """,
    tags=("window", "timeseries"),
)
def gapfill_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling over a generated date spine plus forward fill: each
    event type's daily counts are densified to every calendar day in
    its own [min, max] span (``explode(sequence(d0, d1))`` — the spine
    is generated distributed, per group, never on the driver), missing
    days become 0, and ``last(ignorenulls)`` carries the last observed
    count forward.

    Scale shape: one grouped agg (map-side partial), a per-group spine
    explode whose output is |groups| × span-days, a broadcast-sized
    left join back, and one window shuffle on event_type (at 100 TB
    the spine key gains a shard component like any tall window).
    """
    e = t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("day")
    )
    daily = e.groupBy("event_type", "day").agg(F.count("*").alias("cnt"))
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        F.last("cnt", ignorenulls=True).over(w).alias("last_observed"),
    )


# --------------------------------------------------------------------
# Correlation / simple linear regression from exact accumulators.
# --------------------------------------------------------------------
@register(
    "stats_corr_regression",
    """
    WITH a AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS sx,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
             SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS sxx,
             -- VARCHAR->DOUBLE: DuckDB's direct HUGEINT->DOUBLE cast
             -- TRUNCATES; the string parse rounds to nearest like
             -- Spark's decimal->double (r10 extreme axis)
             CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT)) AS VARCHAR) AS DOUBLE) AS syy,
             SUM(CAST(l_quantity AS HUGEINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))), 6)
             AS corr_qty_price,
           round((CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)), 6)
             AS slope_cents_per_qty
    FROM a ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def stats_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and OLS slope (price-cents vs quantity) per
    return flag, computed from exact integer co-moment accumulators
    (sum, sum-of-squares, cross-sum as BIGINT / DECIMAL) with one
    deterministic double formula at the end — the order-independent
    alternative to corr()/regr_slope() whose float partials are
    run-order-dependent. syy (cents²) exceeds int64 at scale, so that
    one accumulator sums as DECIMAL before the final double cast.

    Scale shape: a plain grouped agg — all six moments are map-side
    partial, one shuffle on the group key.
    """
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = cents("l_extendedprice")
    a = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        # widen before multiply: qty^2 overflows int64 per row for
        # 1e9-scale quantities (r10 extreme axis)
        F.sum(x.cast("decimal(38,0)") * x).cast("double").alias("sxx"),
        # cast an OPERAND so the multiply itself runs in decimal — a
        # cast on the product would evaluate y*y in int64 first and
        # could wrap before widening (ANSI off)
        F.sum(y.cast("decimal(38,0)") * y).cast("double").alias("syy"),
        # qty x cents passes int64 near 1e12 rows: decimal accumulator
        # like syy (sxx stays long: qty^2 <= 2500 keeps it in range)
        F.sum(x.cast("decimal(38,0)") * y).cast("double").alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxx_d = F.col("sxx")  # already double (decimal-accumulated)
    sxy_d = F.col("sxy")  # already double (decimal-accumulated)
    cov_n = n_d * sxy_d - sx_d * sy_d
    var_x_n = n_d * sxx_d - sx_d * sx_d
    var_y_n = n_d * F.col("syy") - sy_d * sy_d
    # try_divide: a constant quantity or price column zeroes the
    # variance denominators with n >= 2 — the oracle's double/0 is
    # NULL in DuckDB while ANSI Spark raises (constant-value fixture
    # finding, round 8)
    return a.select(
        "l_returnflag",
        "n",
        F.round(
            F.try_divide(cov_n, F.sqrt(var_x_n * var_y_n)), 6
        ).alias("corr_qty_price"),
        F.round(F.try_divide(cov_n, var_x_n), 6).alias(
            "slope_cents_per_qty"
        ),
    )


# --------------------------------------------------------------------
# Multiset set ops (EXCEPT ALL / INTERSECT ALL).
# --------------------------------------------------------------------
@register(
    "setop_all_priorities",
    """
    WITH a AS (
      SELECT o_orderpriority AS p FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    ), b AS (
      SELECT o_orderpriority AS p FROM orders
      WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    ), ea AS (
      SELECT 'except_all' AS op, p FROM (SELECT p FROM a EXCEPT ALL SELECT p FROM b)
    ), ia AS (
      SELECT 'intersect_all' AS op, p FROM (SELECT p FROM a INTERSECT ALL SELECT p FROM b)
    )
    SELECT op, p AS o_orderpriority, COUNT(*) AS n
    FROM (SELECT * FROM ea UNION ALL SELECT * FROM ia)
    GROUP BY op, p ORDER BY op, o_orderpriority
    """,
    tags=("setop",),
)
def setop_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations: EXCEPT ALL (per-value surplus of 1995
    order priorities over 1996) and INTERSECT ALL (per-value overlap),
    preserving duplicate multiplicity — the bag semantics `exceptAll`
    / `intersectAll` implement with a count-and-compare aggregation
    under the hood (one shuffle each, no row-by-row anti join).
    """
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("p"), "o_orderdate"
    )
    a = o.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select("p")
    b = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("p")
    ea = a.exceptAll(b).withColumn("op", F.lit("except_all"))
    ia = a.intersectAll(b).withColumn("op", F.lit("intersect_all"))
    return (
        ea.unionByName(ia)
        .groupBy("op", F.col("p").alias("o_orderpriority"))
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------
# Fixed-width histogram binning.
# --------------------------------------------------------------------
@register(
    "histogram_price_bins",
    """
    -- FLOOR-aligned bins: DuckDB's integer // truncates toward zero,
    -- putting negative prices one bin high (r10 extreme axis); the
    -- double division is exact (cents < 2^53) and floors like Spark
    SELECT CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT)
                      / CAST(1000000 AS DOUBLE)) AS BIGINT) AS bin,
           COUNT(*) AS n,
           MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_cents,
           MAX(CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_cents
    FROM lineitem
    GROUP BY bin ORDER BY bin
    """,
    tags=("agg", "histogram"),
)
def histogram_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width_bucket-style): extended price in
    exact cents floored into $10,000 bins with per-bin extrema — the
    single-pass, map-side-partial profile every column-stats collector
    runs. Bin count is data-range-bound, so the aggregate output stays
    tiny no matter the input scale.
    """
    li = t(spark, sf_dir, "lineitem")
    c = cents("l_extendedprice")
    return (
        li.select(F.floor(c / 1000000).alias("bin"), c.alias("c"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
    )


# --------------------------------------------------------------------
# Deterministic mode (most frequent value, ties broken by value).
# --------------------------------------------------------------------
@register(
    "mode_priority_by_status",
    """
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderstatus
        ORDER BY cnt DESC, o_orderpriority DESC
      ) AS rn FROM c
    ) WHERE rn = 1
    ORDER BY o_orderstatus
    """,
    tags=("agg", "mode"),
)
def mode_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: most frequent order priority per status,
    ties broken by the larger value — built as count + max(struct)
    rather than mode(), whose tie behavior is engine-defined. The
    max(struct(cnt, value)) reduction is associative/commutative, so
    it stays a two-phase hash agg (no window shuffle at all).
    """
    o = t(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("cnt"))
    best = c.groupBy("o_orderstatus").agg(
        F.max(F.struct("cnt", "o_orderpriority")).alias("b")
    )
    return best.select(
        "o_orderstatus",
        F.col("b.o_orderpriority").alias("mode_priority"),
        F.col("b.cnt").alias("mode_count"),
    )


# --------------------------------------------------------------------
# SQL text interface (spark.sql over registered views).
# --------------------------------------------------------------------
@register(
    "sql_text_monthly_revenue",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           COUNT(*) AS n_orders,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS gross
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
    GROUP BY y, m ORDER BY y, m
    """,
    tags=("sql", "agg"),
)
def sql_text_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL text entry point: the same catalog the
    DataFrame queries use, registered as temp views and queried with
    ``spark.sql`` — proving a user can bring plain ANSI SQL instead of
    the DataFrame API and get the identical Catalyst plan (filter
    pushdown, partial aggregation, the lot).
    """
    from filemapreduce_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS INT) AS y,
               CAST(month(o_orderdate) AS INT) AS m,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS gross
        FROM orders
        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
        GROUP BY y, m
        """
    )


# --------------------------------------------------------------------
# Higher-order array functions (transform/filter/exists/aggregate).
# --------------------------------------------------------------------
@register(
    "higher_order_array_ops",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')
               AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(ws, w -> len(w) > 5)) AS BIGINT) AS n_long_words,
           -- crisp boolean: no text, no digit (a NULL boolean renders
           -- None vs NaN across the engines' pandas paths; r9
           -- text-null probe)
           COALESCE(len(list_filter(ws,
             w -> regexp_matches(w, '[0-9]'))) > 0, FALSE) AS has_digit,
           -- sum over an EMPTY token set is 0 (the Spark fold's seed),
           -- not DuckDB's list_sum([]) = NULL; a NULL text (no ws at
           -- all) stays NULL on both sides (r10 unicode axis, the
           -- ''-payload)
           CASE WHEN ws IS NULL THEN NULL
                ELSE CAST(COALESCE(list_sum(list_transform(ws, w -> len(w))), 0)
                          AS BIGINT) END AS chars_folded,
           CAST(list_max(list_transform(ws, w -> len(w))) AS INT) AS longest_word
    FROM d ORDER BY doc_id
    """,
    tags=("scalar", "arrays"),
)
def higher_order_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions in one pass: ``filter`` (long-word
    count), ``exists`` (digit detection), ``aggregate`` (character
    fold), ``transform`` + ``array_max`` (longest token). All four
    evaluate row-locally inside whole-stage codegen — the JVM-side
    alternative to a Python UDF for per-row collection logic.
    """
    from filemapreduce_spark.operators.textops import words

    d = t(spark, sf_dir, "documents").select(
        "doc_id", words(F.col("text")).alias("ws")
    )
    return d.select(
        "doc_id",
        F.size(F.filter("ws", lambda w: F.length(w) > 5))
        .cast("long")
        .alias("n_long_words"),
        F.coalesce(
            F.exists("ws", lambda w: w.rlike("[0-9]")), F.lit(False)
        ).alias("has_digit"),
        F.aggregate(
            "ws", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("chars_folded"),
        F.array_max(F.transform("ws", lambda w: F.length(w))).alias(
            "longest_word"
        ),
    )


# --------------------------------------------------------------------
# Graph: triangle counting on the co-purchase graph.
# --------------------------------------------------------------------
@register(
    "triangle_count_copurchase",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM tri) AS n_triangles
    """,
    tags=("graph",),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts are
    adjacent when they appear in the same order; sampled to every 4th
    part key): the canonical two-hash-join graph pattern. Edges are
    canonically oriented (u < v), so each triangle is produced exactly
    once — no /6 correction, no cross join anywhere.

    Scale shape: edge generation shuffles on order key (bounded fanout
    — orders have ≤7 lines, so ≤21 pairs each); the triangle closure
    is two shuffles on edge endpoints. Skew guard at 100 TB: cap or
    salt super-node degrees before the closure join (AQE skew-join
    handles moderate cases).
    """
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        # read by e1/e2/e3 AND the edge count — persist so the li⨝li
        # self-join + distinct runs once (round-6 audit: 17 exchanges)
        .persist()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = e1.join(e2, F.col("e1.v") == F.col("e2.u")).join(
        e3,
        (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return n_edges.crossJoin(n_tri)


# --------------------------------------------------------------------
# Graph: PageRank (2 unrolled iterations, exact integer arithmetic).
# --------------------------------------------------------------------
@register(
    "pagerank_trade_2iter",
    """
    WITH e AS (
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
    ),
    nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    params AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    r0 AS (SELECT n, 1000000000000 // p.n_nodes AS r
           FROM nodes CROSS JOIN params p),
    it1 AS (
      SELECT nd.n, (150000000000 // p.n_nodes)
             + COALESCE(SUM((r0.r * 85) // (100 * dg.d)), 0) AS r
      FROM nodes nd CROSS JOIN params p
      LEFT JOIN e ON e.dst = nd.n
      LEFT JOIN r0 ON r0.n = e.src
      LEFT JOIN deg dg ON dg.src = e.src
      GROUP BY nd.n, p.n_nodes
    ),
    it2 AS (
      SELECT nd.n, (150000000000 // p.n_nodes)
             + COALESCE(SUM((it1.r * 85) // (100 * dg.d)), 0) AS r
      FROM nodes nd CROSS JOIN params p
      LEFT JOIN e ON e.dst = nd.n
      LEFT JOIN it1 ON it1.n = e.src
      LEFT JOIN deg dg ON dg.src = e.src
      GROUP BY nd.n, p.n_nodes
    )
    SELECT it2.n AS nationkey, nn.n_name AS nation, CAST(it2.r AS BIGINT) AS rank_e12
    FROM it2 JOIN nation nn ON nn.n_nationkey = it2.n
    ORDER BY nationkey
    """,
    tags=("graph", "iterative"),
)
def pagerank_trade_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 2 unrolled iterations) on the
    supplier-nation → customer-nation trade graph, in EXACT integer
    arithmetic: ranks are scaled to 1e12 units and every contribution
    is the floor division (r·85) div (100·deg), so partial-agg order
    cannot perturb the result and the oracle matches bit-for-bit.
    Dangling-node mass is dropped (the standard simplification);
    floor-division remainders shrink total mass deterministically.

    Scale shape — the canonical iterative-graph pattern: per
    iteration, join the rank table to edges on src (broadcast when
    ranks are node-count-small; shuffle-hash on the key otherwise)
    and re-aggregate on dst. The driver loop only composes plans; no
    data visits the driver except the node count.
    """
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("n"))
        .union(e.select(F.col("dst").alias("n")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n_nodes = nodes.count()  # the only driver-side scalar
    if n_nodes == 0:
        # degenerate graph (no cross-nation trades): the oracle's CTE
        # chain yields zero rows; mirror it instead of dividing by
        # zero below (ultra-sparse sweep finding)
        return spark.createDataFrame(
            [], "nationkey INT, nation STRING, rank_e12 BIGINT"
        )
    r0_val = 10**12 // n_nodes
    base = 150000000000 // n_nodes

    ew = e.join(deg, "src")  # (src, dst, d) — degree attached once
    ranks = nodes.withColumn("r", F.lit(r0_val).cast("long"))
    for _ in range(2):
        contribs = ew.join(ranks, ew.src == ranks.n).select(
            F.col("dst"),
            F.expr("(r * 85) div (100 * d)").alias("contrib"),
        )
        incoming = contribs.groupBy("dst").agg(
            F.sum("contrib").alias("in_mass")
        )
        ranks = (
            nodes.join(incoming, nodes.n == incoming.dst, "left")
            .select(
                F.col("n"),
                (F.lit(base) + F.coalesce("in_mass", F.lit(0)))
                .cast("long")
                .alias("r"),
            )
            # one tiny row per node: truncating lineage per iteration
            # keeps plan depth constant for arbitrary iteration counts
            .localCheckpoint()
        )
    nn = t(spark, sf_dir, "nation")
    return (
        ranks.join(F.broadcast(nn), ranks.n == nn.n_nationkey)
        .select(
            F.col("n").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.col("r").alias("rank_e12"),
        )
    )


# --------------------------------------------------------------------
# Positional explode (posexplode / WITH ORDINALITY).
# --------------------------------------------------------------------
@register(
    "posexplode_leading_words",
    """
    WITH d AS (
      -- no text, no tokens, no rows (inner-explode semantics; the
      -- bare LEAST(3, len(NULL)) fabricated 3 NULL-word rows per
      -- textless doc because DuckDB's LEAST skips NULL operands —
      -- r9 text-null probe)
      SELECT doc_id,
             list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')
               AS ws
      FROM documents
      WHERE text IS NOT NULL
    ), w AS (
      SELECT doc_id, CAST(t.i AS INT) AS pos, ws[t.i + 1] AS word
      FROM d, unnest(range(LEAST(3, len(ws)))) AS t(i)
    )
    SELECT doc_id, pos, word FROM w ORDER BY doc_id, pos
    """,
    tags=("scalar", "arrays"),
)
def posexplode_leading_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode: each document's first three tokens with
    their 0-based positions (``posexplode`` = SQL's UNNEST WITH
    ORDINALITY). Slicing before exploding keeps the fanout bounded —
    the row-local guard that matters when a 100 TB corpus would
    otherwise explode to trillions of token rows.
    """
    from filemapreduce_spark.operators.textops import words

    # no text, no tokens, no rows — posexplode (inner) drops NULL
    # arrays anyway; declared explicitly to match the oracle
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.slice(words(F.col("text")), 1, 3).alias("ws"))
    )
    return d.select("doc_id", F.posexplode("ws").alias("pos", "word"))


# --------------------------------------------------------------------
# Null-preserving explode (explode_outer).
# --------------------------------------------------------------------
@register(
    "explode_outer_long_words",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(
               list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'),
                           w -> w != ''),
               w -> len(w) > 8) AS rare
      FROM documents
    )
    SELECT doc_id,
           -- the NULL-array guard is the OUTER semantics itself: a
           -- textless doc (rare IS NULL) must keep its row exactly
           -- like an empty one (bare unnest(NULL) dropped it; r9
           -- text-null probe)
           unnest(CASE WHEN rare IS NULL OR len(rare) = 0
                       THEN [NULL] ELSE rare END) AS word
    FROM d ORDER BY doc_id, word NULLS FIRST
    """,
    tags=("scalar", "arrays"),
)
def explode_outer_long_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode: documents keep a row (word = NULL)
    even when they have no >8-char tokens — ``explode_outer``'s
    left-join semantics, which an inner explode would silently drop.
    Essential for audit joins where every input row must survive.
    """
    from filemapreduce_spark.operators.textops import words

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(words(F.col("text")), lambda w: F.length(w) > 8).alias(
            "rare"
        ),
    )
    return d.select("doc_id", F.explode_outer("rare").alias("word"))


# --------------------------------------------------------------------
# Window navigation (first_value / nth_value / last_value frames).
# --------------------------------------------------------------------
@register(
    "window_nav_supplier_balance",
    """
    SELECT s_nationkey, s_suppkey,
           FIRST_VALUE(s_suppkey) OVER w AS richest,
           NTH_VALUE(s_suppkey, 2) OVER w AS second_richest,
           LAST_VALUE(s_suppkey) OVER (
             PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS poorest
    FROM supplier
    WINDOW w AS (
      PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    ORDER BY s_nationkey, s_suppkey
    """,
    tags=("window",),
)
def window_nav_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation functions over an explicit full-partition
    frame: first/second/last supplier by account balance within each
    nation. The UNBOUNDED...UNBOUNDED frame makes last_value actually
    mean "partition last" (the default frame stops at CURRENT ROW — a
    classic silent-wrong-answer trap).
    """
    s = t(spark, sf_dir, "supplier")
    w = (
        Window.partitionBy("s_nationkey")
        .orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return s.select(
        "s_nationkey",
        "s_suppkey",
        F.first("s_suppkey").over(w).alias("richest"),
        F.nth_value("s_suppkey", 2).over(w).alias("second_richest"),
        F.last("s_suppkey").over(w).alias("poorest"),
    )


# --------------------------------------------------------------------
# Order-independent table checksum (data validation).
# --------------------------------------------------------------------
@register(
    "table_checksum_by_flag",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           BIT_XOR(('0x' || substring(md5(
             COALESCE(CAST(l_orderkey AS VARCHAR), '<NULL>') || '|' ||
             COALESCE(CAST(l_linenumber AS VARCHAR), '<NULL>') || '|' ||
             COALESCE(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
               AS VARCHAR), '<NULL>')
           ), 1, 15))::BIGINT) AS checksum
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "validation"),
)
def table_checksum_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: XOR-fold of a 60-bit
    per-row content hash, grouped by return flag. XOR is commutative/
    associative with no overflow, so the checksum is identical for any
    row order, partitioning, or engine — the cheap way to certify two
    100 TB copies (or a migration) match without sorting anything.

    NULL encoding is EXPLICIT (`<NULL>` sentinel per field): concat_ws
    silently skips null operands, so (NULL, 2, x) and (2, x) hashed
    identically — a checksum that cannot distinguish NULL from absent
    is not a checksum (r9 null sweep; the oracle's || chain instead
    nulled the whole row hash, dropping the row from the XOR).
    """
    li = t(spark, sf_dir, "lineitem")
    row_str = F.concat_ws(
        "|",
        F.coalesce(F.col("l_orderkey").cast("string"), F.lit("<NULL>")),
        F.coalesce(F.col("l_linenumber").cast("string"), F.lit("<NULL>")),
        F.coalesce(cents("l_extendedprice").cast("string"), F.lit("<NULL>")),
    )
    row_hash = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.bit_xor(row_hash).alias("checksum"),
        )
    )


# --------------------------------------------------------------------
# Snapshot diff (CDC between two as-of states).
# --------------------------------------------------------------------
@register(
    "snapshot_diff_order_activity",
    """
    WITH a AS (
      SELECT l_orderkey, COUNT(*) AS n_lines
      FROM lineitem WHERE l_shipdate < DATE '1996-06-01'
      GROUP BY l_orderkey
    ), b AS (
      SELECT l_orderkey, COUNT(*) AS n_lines
      FROM lineitem WHERE l_shipdate < DATE '1997-06-01'
      GROUP BY l_orderkey
    )
    SELECT CASE WHEN a.l_orderkey IS NULL THEN 'added'
                WHEN a.n_lines != b.n_lines THEN 'changed'
                ELSE 'unchanged' END AS change,
           COUNT(*) AS n_orders,
           CAST(SUM(COALESCE(b.n_lines, 0) - COALESCE(a.n_lines, 0)) AS BIGINT)
             AS line_delta
    FROM a FULL OUTER JOIN b ON a.l_orderkey = b.l_orderkey
    GROUP BY change ORDER BY change
    """,
    tags=("join", "cdc"),
)
def snapshot_diff_order_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: per-order shipped-line counts as of two dates,
    full-outer-joined on the key and classified added / changed /
    unchanged — the CDC reconciliation pattern for comparing a table
    against its next snapshot (no deletes here since shipments only
    accrue; the removed class falls out of the same expression).

    Scale shape: two partial-agg scans (one filter each) and one
    shuffle join on the key — AQE merges the agg and join exchanges
    since both hash on l_orderkey.
    """
    li = t(spark, sf_dir, "lineitem")
    a = (
        li.filter(F.col("l_shipdate") < "1996-06-01")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_lines"))
        .alias("a")
    )
    b = (
        li.filter(F.col("l_shipdate") < "1997-06-01")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_lines"))
        .alias("b")
    )
    j = a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"), "full_outer")
    change = (
        F.when(F.col("a.l_orderkey").isNull(), "added")
        .when(F.col("a.n_lines") != F.col("b.n_lines"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            change.alias("change"),
            F.coalesce(F.col("b.n_lines"), F.lit(0)).alias("bn"),
            F.coalesce(F.col("a.n_lines"), F.lit(0)).alias("an"),
        )
        .groupBy("change")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("bn") - F.col("an")).alias("line_delta"),
        )
    )


# --------------------------------------------------------------------
# Rolling-window distinct (WAU-style trailing 7-day active users).
# --------------------------------------------------------------------
@register(
    "rolling_7day_active_users",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS (
      SELECT DISTINCT day FROM du
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           COUNT(DISTINCT u.user_id) AS active_7d
    FROM days d
    JOIN du u ON u.day > d.day - INTERVAL 7 DAY AND u.day <= d.day
    GROUP BY d.day ORDER BY d.day
    """,
    tags=("window", "timeseries", "analytics"),
)
def rolling_7day_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (WAU). COUNT
    DISTINCT isn't frame-able in a window, so the scalable form is a
    range join of the (day, user) de-dup against the day spine, then a
    grouped distinct — two shuffles total, both on small post-dedup
    data (days × users-per-week, not raw events).
    """
    e = t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    du = e.distinct()
    days = du.select("day").distinct().alias("d")
    u = du.alias("u")
    j = days.join(
        u,
        (F.col("u.day") > F.date_sub(F.col("d.day"), 7))
        & (F.col("u.day") <= F.col("d.day")),
    )
    return (
        j.groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("active_7d"))
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    )


# --------------------------------------------------------------------
# Retention cohorts (first-seen day → day-offset return rates).
# --------------------------------------------------------------------
@register(
    "retention_cohorts_weekly",
    """
    WITH du AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), cohort AS (
      SELECT user_id, MIN(day) AS d0 FROM du GROUP BY user_id
    )
    SELECT strftime(c.d0, '%Y-%m-%d') AS cohort_day,
           CAST(du.day - c.d0 AS BIGINT) // 7 AS week_offset,
           COUNT(DISTINCT du.user_id) AS n_active
    FROM cohort c JOIN du ON du.user_id = c.user_id
    GROUP BY cohort_day, week_offset
    ORDER BY cohort_day, week_offset
    """,
    tags=("agg", "analytics"),
)
def retention_cohorts_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users bucketed by first-seen day, activity
    counted per week offset from that day — the standard retention
    triangle. The cohort assignment is a grouped MIN joined back on
    the user key; everything stays keyed on user_id so AQE reuses the
    exchange between the cohort agg and the join.
    """
    du = (
        t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    cohort = du.groupBy("user_id").agg(F.min("day").alias("d0"))
    j = du.join(cohort, "user_id")
    return (
        j.groupBy(
            F.col("d0").alias("cohort_day"),
            F.floor(F.datediff("day", "d0") / 7).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .withColumn(
            "cohort_day", F.date_format("cohort_day", "yyyy-MM-dd")
        )
    )


# --------------------------------------------------------------------
# Funnel analysis (ordered stage progression per user).
# --------------------------------------------------------------------
@register(
    "funnel_view_click_purchase",
    """
    WITH s AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      COUNT(t_view) AS stage_view,
      COUNT(CASE WHEN t_click > t_view THEN 1 END) AS stage_click,
      COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
        AS stage_purchase
    FROM s
    """,
    tags=("agg", "analytics"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked after viewing,
    then purchased after clicking — first-touch timestamps per stage
    via conditional MIN aggregation, stage ordering enforced by
    timestamp comparison (NULL-safe by SQL three-valued logic: a
    missing earlier stage disqualifies later ones).

    Scale shape: ONE grouped agg over events (map-side partial
    conditional mins) and a single-row final reduce — the whole funnel
    is two shuffles regardless of corpus size.
    """
    e = t(spark, sf_dir, "events")
    s = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    return s.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("stage_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "stage_click"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("stage_purchase"),
    )


# --------------------------------------------------------------------
# Ratio-to-report: percent of grand total without a global window.
# --------------------------------------------------------------------
@register(
    "revenue_share_by_nation",
    """
    WITH rev AS (
      SELECT n.n_name AS nation,
             SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS rev_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name
    ),
    tot AS (SELECT SUM(rev_cents) AS total_cents FROM rev)
    SELECT nation, CAST(rev_cents AS BIGINT) AS rev_cents,
           round(CAST(rev_cents AS DOUBLE) / total_cents, 9) AS share
    FROM rev CROSS JOIN tot
    ORDER BY nation
    """,
    tags=("agg", "analytics"),
)
def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report (percent of grand total) per supplier nation —
    computed the scale-safe way: the grand total is a 1-row scalar
    aggregate of the ALREADY-GROUPED result, broadcast back with a
    cross join, not a `sum() over ()` window (which would funnel the
    table through one partition). Exact cents up to the single final
    division, rounded for hash parity.
    """
    l = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(cents("l_extendedprice")).alias("rev_cents"))
    )
    tot = rev.agg(F.sum("rev_cents").alias("total_cents"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "rev_cents",
            F.round(
                F.col("rev_cents").cast("double") / F.col("total_cents"), 9
            ).alias("share"),
        )
    )


# --------------------------------------------------------------------
# Conversion-window funnel (time-bounded ordered steps).
# --------------------------------------------------------------------
@register(
    "funnel_conversion_window",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND e.ts <= c.t_click + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS stage_view,
           (SELECT COUNT(*) FROM c) AS stage_click_1h,
           (SELECT COUNT(*) FROM p) AS stage_purchase_24h,
           CAST((SELECT COALESCE(SUM(epoch_us(c.t_click)
                                     - epoch_us(v.t_view)), 0)
                 FROM c JOIN v ON v.user_id = c.user_id) AS BIGINT)
             AS sum_click_delay_us
    """,
    tags=("agg", "analytics", "funnel"),
)
def funnel_conversion_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with CONVERSION WINDOWS — the product-analytics
    semantics where each step only counts within a bounded time of
    the previous step: first click within 1 hour of the user's first
    view, first purchase within 24 hours of that click (the plain
    min-ordered funnel is `funnel_view_click_purchase`). Delay mass
    is exact integer microseconds.

    Scale shape: three per-user MIN aggregations chained by equi-joins
    on user_id — one partitioning reused down the chain, no windows,
    single-row output. At 100 TB the per-stage state is one row per
    surviving user, shrinking at every stage."""
    e = t(spark, sf_dir, "events")
    # v and c are each consumed three times (next stage, delay join,
    # stage count) — persist the per-user stage tables so the corpus
    # scan + per-user MIN run once, not once per reference (static
    # audit before: 9 parquet scans; after: 1)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .persist()
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .persist()
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    delays = c.join(v, "user_id").agg(
        F.coalesce(
            F.sum(F.unix_micros("t_click") - F.unix_micros("t_view")),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_click_delay_us")
    )
    return (
        v.agg(F.count(F.lit(1)).alias("stage_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("stage_click_1h")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("stage_purchase_24h")))
        .crossJoin(delays)
    )


# --------------------------------------------------------------------
# Forward as-of join: next event after (B-019's mirror direction).
# --------------------------------------------------------------------
@register(
    "asof_join_forward_fulfillment",
    """
    WITH c AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
      -- undated purchases never match (operator semantics): without
      -- the filter the three independent FIRST_VALUE(x IGNORE NULLS)
      -- picks mixed FIELDS FROM DIFFERENT ROWS — a NULL-ts purchase
      -- donated next_id/next_cents while a later row donated next_ts
      -- (r9 null sweep)
      -- ...and neither do keyless ones (SQL equi-join semantics:
      -- NULL user never equals NULL user; the window's PARTITION BY
      -- would happily group them)
      SELECT user_id, event_id, ts, CAST(round(value*100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
        AND ts IS NOT NULL AND user_id IS NOT NULL
    ), u AS (
      SELECT user_id, ts, 1 AS side, event_id AS click_id,
             NULL::BIGINT AS p_id, NULL::TIMESTAMP AS p_ts,
             NULL::BIGINT AS p_cents
      FROM c
      UNION ALL
      SELECT user_id, ts, 2 AS side, NULL, event_id, ts, cents FROM p
    ), w AS (
      -- ONE packed struct, not three independent FIRST_VALUEs: with
      -- a partially-NULL payload field (30%-NULL value fixture),
      -- per-column IGNORE NULLS mixed fields from DIFFERENT rows —
      -- the matched purchase's id with a LATER purchase's cents
      -- (r9 mixed-null sweep)
      SELECT *,
             FIRST_VALUE(CASE WHEN side = 2 THEN
               {'id': p_id, 'ts': p_ts, 'cents': p_cents} END
               IGNORE NULLS) OVER fw AS nxt
      FROM u
      WINDOW fw AS (PARTITION BY user_id
                    ORDER BY ts, side, COALESCE(p_id, click_id)
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT click_id, user_id,
           COALESCE(CASE WHEN nxt.ts <= ts + INTERVAL 6 HOUR
                         THEN nxt.id END, -1) AS next_purchase_id,
           COALESCE(CASE WHEN nxt.ts <= ts + INTERVAL 6 HOUR
                         THEN nxt.cents END, -1) AS next_cents,
           COALESCE(CASE WHEN nxt.ts <= ts + INTERVAL 6 HOUR
                         THEN epoch_us(nxt.ts) - epoch_us(ts) END, -1)
             AS wait_us
    FROM w WHERE side = 1
    ORDER BY click_id
    """,
    tags=("join", "asof", "temporal"),
)
def asof_join_forward_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for every click, the user's EARLIEST
    purchase at-or-after it, within a 6-hour tolerance — the
    "time-to-fulfillment" temporal lookup that mirrors the backward
    as-ofs (asof_join_purchase_click). Same union+window strategy:
    one shuffle by user, a following-frame first() instead of a
    running last(), no (click × later-purchase) fan-out. Unmatched /
    out-of-tolerance clicks carry -1 sentinels so every output column
    stays non-null BIGINT (cross-engine hash-stable)."""
    from filemapreduce_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        "ts",
        cents("value").alias("p_cents"),
    )
    j = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["p_id", "p_cents", "ts"],
        tiebreak="p_id",
        prefix="next_",
        tolerance="6 HOURS",
        direction="forward",
    )
    return j.select(
        "click_id",
        "user_id",
        F.coalesce("next_p_id", F.lit(-1)).cast("long").alias(
            "next_purchase_id"
        ),
        F.coalesce("next_p_cents", F.lit(-1)).cast("long").alias(
            "next_cents"
        ),
        F.coalesce(
            F.unix_micros(F.col("next_ts")) - F.unix_micros("ts"),
            F.lit(-1),
        )
        .cast("long")
        .alias("wait_us"),
    )
