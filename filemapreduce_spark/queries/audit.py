"""Data-audit, CDC-merge, and interval-analytics queries.

Operators a production data platform runs *around* its pipelines:
referential-integrity audits, column-profile expectation checks,
MERGE-style upserts, OHLC bars, time-weighted averages, and
sweep-line concurrency peaks. All exact-integer arithmetic for oracle
hash parity (operators.money pattern); all single-pass plans with
map-side partial aggregation.

Reference tie-in: the reference's per-job finalizers were the place
such audits ran (interfaces.go:68-78 — a Finish() that validated the
reduced value); here each audit is itself a declared query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# Referential-integrity audit: orphan counts for every FK edge.
# --------------------------------------------------------------------
@register(
    "fk_integrity_violations",
    """
    WITH checks AS (
      SELECT 'customer.c_nationkey->nation' AS relationship,
             COUNT(*) AS checked_rows,
             COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS orphan_rows
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders',
             COUNT(*),
             COUNT(*) FILTER (WHERE o.o_orderkey IS NULL)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             COUNT(*),
             COUNT(*) FILTER (WHERE p.p_partkey IS NULL)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             COUNT(*),
             COUNT(*) FILTER (WHERE s.s_suppkey IS NULL)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             COUNT(*),
             COUNT(*) FILTER (WHERE c.c_custkey IS NULL)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             COUNT(*),
             COUNT(*) FILTER (WHERE n.n_nationkey IS NULL)
      FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT relationship, checked_rows, orphan_rows
    FROM checks ORDER BY relationship
    """,
    tags=("audit", "join", "validation"),
)
def fk_integrity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the star
    schema: one broadcast left join per edge (fact side projected to
    the key column only, so the scan reads one column), conditional
    count of unmatched rows, then a tiny union of 6 one-row results.

    Scale: each check shuffles nothing on the fact side — the dim is
    broadcast and the count is a map-side partial agg. At 100 TB the
    fact-side scan is the floor; the audit rides one column scan per
    edge and the 6 checks are independent Spark jobs that can share
    the cached scan (A-05 scan sharing).
    """

    def check(fact: DataFrame, fkey: str, dim: DataFrame, pkey: str,
              rel: str) -> DataFrame:
        joined = fact.select(fkey).join(
            F.broadcast(dim.select(pkey)),
            F.col(fkey) == F.col(pkey),
            "left",
        )
        return joined.agg(
            F.lit(rel).alias("relationship"),
            F.count(F.lit(1)).alias("checked_rows"),
            F.count(F.when(F.col(pkey).isNull(), 1)).alias("orphan_rows"),
        ).select("relationship", "checked_rows", "orphan_rows")

    l = t(spark, sf_dir, "lineitem")
    checks = [
        check(t(spark, sf_dir, "customer"), "c_nationkey",
              t(spark, sf_dir, "nation"), "n_nationkey",
              "customer.c_nationkey->nation"),
        check(l, "l_orderkey", t(spark, sf_dir, "orders"), "o_orderkey",
              "lineitem.l_orderkey->orders"),
        check(l, "l_partkey", t(spark, sf_dir, "part"), "p_partkey",
              "lineitem.l_partkey->part"),
        check(l, "l_suppkey", t(spark, sf_dir, "supplier"), "s_suppkey",
              "lineitem.l_suppkey->supplier"),
        check(t(spark, sf_dir, "orders"), "o_custkey",
              t(spark, sf_dir, "customer"), "c_custkey",
              "orders.o_custkey->customer"),
        check(t(spark, sf_dir, "supplier"), "s_nationkey",
              t(spark, sf_dir, "nation"), "n_nationkey",
              "supplier.s_nationkey->nation"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------
# Column-profile expectations: one scan, long-format check results.
# --------------------------------------------------------------------
@register(
    "data_profile_orders",
    """
    WITH agg AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(*) - COUNT(o_orderkey) AS key_nulls,
             COUNT(DISTINCT o_orderkey) AS key_distinct,
             COUNT(*) - COUNT(o_totalprice) AS price_nulls,
             MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS price_min_cents,
             MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS price_max_cents,
             COUNT(*) - COUNT(o_orderdate) AS date_nulls,
             CAST(epoch(MIN(o_orderdate)) AS BIGINT) AS date_min_epoch,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS date_max_epoch,
             COUNT(DISTINCT o_orderpriority) AS priority_distinct
      FROM orders
    )
    SELECT * FROM (
      SELECT 'o_orderkey' AS col, 'n_rows' AS metric, n_rows AS value FROM agg
      UNION ALL SELECT 'o_orderkey', 'n_null', key_nulls FROM agg
      UNION ALL SELECT 'o_orderkey', 'n_distinct', key_distinct FROM agg
      UNION ALL SELECT 'o_orderkey', 'is_unique',
        CASE WHEN key_distinct = n_rows - key_nulls THEN 1 ELSE 0 END FROM agg
      UNION ALL SELECT 'o_totalprice', 'n_null', price_nulls FROM agg
      UNION ALL SELECT 'o_totalprice', 'min_cents', price_min_cents FROM agg
      UNION ALL SELECT 'o_totalprice', 'max_cents', price_max_cents FROM agg
      UNION ALL SELECT 'o_orderdate', 'n_null', date_nulls FROM agg
      UNION ALL SELECT 'o_orderdate', 'min_epoch', date_min_epoch FROM agg
      UNION ALL SELECT 'o_orderdate', 'max_epoch', date_max_epoch FROM agg
      UNION ALL SELECT 'o_orderpriority', 'n_distinct', priority_distinct FROM agg
    ) ORDER BY col, metric
    """,
    tags=("audit", "profile", "validation"),
)
def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile expectation checks (null counts, ranges,
    uniqueness) computed in ONE aggregate pass over the table, then
    unpivoted to long (col, metric, value) rows — the
    great-expectations / dbt-test shape.

    Scale: a single groupBy-less agg = one scan with map-side
    partials; COUNT(DISTINCT) pairs expand to two-phase exact
    distinct. The unpivot of an 1-row aggregate is free. All metrics
    are exact BIGINTs (money → cents, timestamps → epoch seconds), so
    the hash gate is bit-exact.
    """
    o = t(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("key_nulls"),
        F.count_distinct("o_orderkey").alias("key_distinct"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("price_nulls"),
        F.min(cents("o_totalprice")).alias("price_min_cents"),
        F.max(cents("o_totalprice")).alias("price_max_cents"),
        (F.count(F.lit(1)) - F.count("o_orderdate")).alias("date_nulls"),
        F.unix_timestamp(F.min("o_orderdate")).alias("date_min_epoch"),
        F.unix_timestamp(F.max("o_orderdate")).alias("date_max_epoch"),
        F.count_distinct("o_orderpriority").alias("priority_distinct"),
    )
    is_unique = F.when(
        F.col("key_distinct") == F.col("n_rows") - F.col("key_nulls"), 1
    ).otherwise(0)
    checks = [
        ("o_orderkey", "n_rows", F.col("n_rows")),
        ("o_orderkey", "n_null", F.col("key_nulls")),
        ("o_orderkey", "n_distinct", F.col("key_distinct")),
        ("o_orderkey", "is_unique", is_unique),
        ("o_totalprice", "n_null", F.col("price_nulls")),
        ("o_totalprice", "min_cents", F.col("price_min_cents")),
        ("o_totalprice", "max_cents", F.col("price_max_cents")),
        ("o_orderdate", "n_null", F.col("date_nulls")),
        ("o_orderdate", "min_epoch", F.col("date_min_epoch")),
        ("o_orderdate", "max_epoch", F.col("date_max_epoch")),
        ("o_orderpriority", "n_distinct", F.col("priority_distinct")),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.lit(m).alias("metric"),
                v.cast("long").alias("value"),
            )
            for c, m, v in checks
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.col", "r.metric", "r.value")
    )


# --------------------------------------------------------------------
# OHLC bars: deterministic first/last via min_by/max_by on a unique
# composite order key.
# --------------------------------------------------------------------
@register(
    "ohlc_monthly_order_prices",
    """
    WITH px AS (
      -- a bar point needs a DATED, PRICED order: NULL dates have no
      -- month/ordinal and NULL prices no OHLC contribution, and the
      -- engines' min_by/max_by NULL treatments differ (r9 mixed-null
      -- sweep)
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(epoch(o_orderdate) AS BIGINT) * 100000000 + o_orderkey AS ord
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    )
    SELECT strftime(month, '%Y-%m-%d') AS month,
           min_by(price_cents, ord) AS open_cents,
           MAX(price_cents) AS high_cents,
           MIN(price_cents) AS low_cents,
           max_by(price_cents, ord) AS close_cents,
           COUNT(*) AS n_orders,
           CAST(SUM(price_cents) AS BIGINT) AS volume_cents
    FROM px GROUP BY month ORDER BY month
    """,
    tags=("timeseries", "agg"),
    sort="body",
)
def ohlc_monthly_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly OHLC bars over order prices: open/close are the
    earliest/latest order's price, picked with min_by/max_by on a
    UNIQUE composite ordinal (epoch*1e8 + orderkey) so ties cannot
    make the result nondeterministic; high/low/volume are plain
    min/max/sum over exact cents.

    Scale: min_by/max_by are single-pass mergeable aggregates
    (partial: keep best (ord, value) pair per partition) — no window,
    no sort, one shuffle of 12 monthly groups. The standard
    window-row_number formulation would shuffle the whole table;
    min_by is the 100 TB answer.
    """
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    px = o.select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        cents("o_totalprice").alias("price_cents"),
        (
            F.unix_timestamp("o_orderdate") * F.lit(100000000)
            + F.col("o_orderkey")
        ).alias("ord"),
    )
    return (
        px.groupBy("month")
        .agg(
            F.min_by("price_cents", "ord").alias("open_cents"),
            F.max("price_cents").alias("high_cents"),
            F.min("price_cents").alias("low_cents"),
            F.max_by("price_cents", "ord").alias("close_cents"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("volume_cents"),
        )
        .orderBy("month")
        .withColumn("month", F.date_format("month", "yyyy-MM-dd"))
    )


# --------------------------------------------------------------------
# Time-weighted average: lead() gaps in exact microseconds.
# --------------------------------------------------------------------
@register(
    "twap_daily_by_type",
    """
    WITH seq AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents,
             epoch_us(ts) AS t_us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY date_trunc('day', ts), event_type
               ORDER BY epoch_us(ts), event_id) AS t_next_us
      FROM events
    ),
    w AS (
      -- HUGEINT per-row product: cents x microsecond gap overflows
      -- int64 for large money; the weighted sum surfaces as DOUBLE
      SELECT day, event_type,
             CAST(value_cents AS HUGEINT) * (t_next_us - t_us) AS num,
             (t_next_us - t_us) AS dt_us
      FROM seq WHERE t_next_us IS NOT NULL
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
           CAST(CAST(SUM(num) AS VARCHAR) AS DOUBLE) AS weighted_cents_us,
           CAST(SUM(dt_us) AS BIGINT) AS span_us,
           -- zero total span (all readings at one instant) has no
           -- time-weighted average: NULL, not a divide-by-zero (r10)
           CAST(CAST(SUM(num) AS VARCHAR) AS DOUBLE) / NULLIF(SUM(dt_us), 0) AS twap_cents
    FROM w GROUP BY day, event_type
    ORDER BY day, event_type
    """,
    tags=("timeseries", "window"),
)
def twap_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (day, event_type): each
    reading holds until the next one, so its weight is the exact
    microsecond gap to the successor (lead over a unique (t, event_id)
    order). Numerator and denominator accumulate as exact BIGINTs;
    the single final division is the only float op, so both engines
    produce the identical IEEE double.

    Scale: one shuffle on (day, type) serves both the lead() window
    and the final groupBy (same partitioning — Catalyst reuses the
    exchange). Gap arithmetic stays in whole-stage codegen.
    """
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy(day, F.col("event_type")).orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    seq = e.select(
        day.alias("day"),
        "event_type",
        cents("value").alias("value_cents"),
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next_us"),
    ).where(F.col("t_next_us").isNotNull())
    return (
        seq.groupBy("day", "event_type")
        .agg(
            # DECIMAL(38,0) per-row product + sum (cents x us gap
            # overflows int64 for large money); DOUBLE surface (r10)
            F.sum(
                F.col("value_cents").cast("decimal(38,0)")
                * (F.col("t_next_us") - F.col("t_us"))
            )
            .cast("double")
            .alias("weighted_cents_us"),
            F.sum(F.col("t_next_us") - F.col("t_us")).alias("span_us"),
        )
        .withColumn(
            "twap_cents",
            F.try_divide(F.col("weighted_cents_us"), F.col("span_us")),
        )
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    )


# --------------------------------------------------------------------
# Sweep-line concurrency: peak simultaneous user-sessions per day.
# --------------------------------------------------------------------
@register(
    "concurrent_sessions_peak",
    """
    WITH iv AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id,
             MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
      FROM events GROUP BY 1, 2
    ),
    deltas AS (
      SELECT day, t0 AS t, 1 AS delta, user_id FROM iv
      UNION ALL
      SELECT day, t1 + 1 AS t, -1 AS delta, user_id FROM iv
    ),
    run AS (
      SELECT day,
             SUM(delta) OVER (
               PARTITION BY day
               ORDER BY t, delta DESC, user_id
               ROWS UNBOUNDED PRECEDING) AS live
      FROM deltas
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(MAX(live) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY day ORDER BY day
    """,
    tags=("timeseries", "interval", "window"),
    sort="body",
)
def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-active users per day via the
    classic sweep line: each user-day activity interval [first event,
    last event] contributes a +1 at start and a -1 just after the end
    (t1+1µs, so touching instants count as concurrent); a running sum
    over (t, +1-before--1) is the live count and its max is the peak.

    Scale: intervals are built by a grouped agg (one shuffle on
    (day, user)), the sweep is a window partitioned BY DAY — state is
    one counter, and days partition the stream, so no single-partition
    global sort. Peak-per-day then folds map-side. The running-sum
    value at equal (t, delta) keys does not depend on the user_id
    tiebreak order (all +1s at a timestamp precede all -1s), so the
    max is deterministic; the tiebreak exists to make EXPLAIN stable.
    """
    e = t(spark, sf_dir, "events")
    iv = (
        e.groupBy(
            F.date_trunc("day", "ts").alias("day"), F.col("user_id")
        ).agg(
            F.min(F.unix_micros("ts")).alias("t0"),
            F.max(F.unix_micros("ts")).alias("t1"),
        )
    )
    starts = iv.select("day", F.col("t0").alias("t"),
                       F.lit(1).alias("delta"), "user_id")
    ends = iv.select("day", (F.col("t1") + 1).alias("t"),
                     F.lit(-1).alias("delta"), "user_id")
    deltas = starts.unionByName(ends)
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("delta").desc(), F.col("user_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = deltas.select("day", F.sum("delta").over(w).alias("live"))
    return (
        run.groupBy("day")
        .agg(F.max("live").alias("peak_concurrent"))
        .orderBy("day")
        # render the date as a string so the result is byte-identical
        # to the oracle under any pandas-based comparator
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "peak_concurrent",
        )
    )


# --------------------------------------------------------------------
# MERGE-style CDC upsert: snapshot + delta → upserted totals.
# --------------------------------------------------------------------
@register(
    "merge_upsert_customer_totals",
    """
    WITH target AS (
      SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS revenue_cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1
    ),
    source AS (
      SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS revenue_cents
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      GROUP BY 1
    )
    SELECT COALESCE(t.custkey, s.custkey) AS custkey,
           COALESCE(t.n_orders, 0) + COALESCE(s.n_orders, 0) AS n_orders,
           CAST(COALESCE(t.revenue_cents, 0) + COALESCE(s.revenue_cents, 0)
             AS BIGINT) AS revenue_cents,
           CASE WHEN t.custkey IS NULL THEN 'insert'
                WHEN s.custkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM target t FULL OUTER JOIN source s ON t.custkey = s.custkey
    ORDER BY custkey
    """,
    tags=("cdc", "merge", "join"),
)
def merge_upsert_customer_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (SCD1 upsert): a target snapshot of
    per-customer totals (orders before 1997) merged with a delta
    batch (orders from 1997 on) — matched rows update by adding the
    delta, unmatched-source rows insert, unmatched-target rows keep;
    each output row is labeled with its merge action.

    Scale: both sides aggregate BEFORE the join (map-side partials on
    the same o_custkey key), so the full-outer join sees one row per
    customer per side and both aggregations hash-partition on the
    join key — AQE reuses the exchange and the join is shuffle-free
    relative to the aggs. This is exactly how Delta/Iceberg MERGE
    compiles when the source is pre-aggregated.
    """
    o = t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")

    def totals(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("revenue_cents"),
        )

    tgt = totals(o.filter(F.col("o_orderdate") < cut))
    src = totals(o.filter(F.col("o_orderdate") >= cut))
    joined = tgt.alias("t").join(
        src.alias("s"), F.col("t.custkey") == F.col("s.custkey"), "full_outer"
    )
    return joined.select(
        F.coalesce("t.custkey", "s.custkey").alias("custkey"),
        (
            F.coalesce("t.n_orders", F.lit(0))
            + F.coalesce("s.n_orders", F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce("t.revenue_cents", F.lit(0))
            + F.coalesce("s.revenue_cents", F.lit(0))
        ).alias("revenue_cents"),
        F.when(F.col("t.custkey").isNull(), "insert")
        .when(F.col("s.custkey").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
    )


# --------------------------------------------------------------------
# Daily percentile bands (p10/p50/p90 dashboard ribbons).
# --------------------------------------------------------------------
@register(
    "daily_percentile_bands",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           CAST(quantile_disc(CAST(round(value*100) AS BIGINT), 0.10)
                AS BIGINT) AS p10_cents,
           CAST(quantile_disc(CAST(round(value*100) AS BIGINT), 0.50)
                AS BIGINT) AS p50_cents,
           CAST(quantile_disc(CAST(round(value*100) AS BIGINT), 0.90)
                AS BIGINT) AS p90_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
    tags=("timeseries", "stats", "agg"),
)
def daily_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(day, type) p10/p50/p90 value bands — the ribbon behind
    every latency/value dashboard. Inverse-distribution (discrete)
    percentiles over integer cents are exact and engine-reproducible;
    one key-partitioned agg, no windows. At 100 TB the group count is
    days×types — tiny — while percentile state is per-group."""
    e = t(spark, sf_dir, "events")
    e.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        cents("value").alias("cents"),
    ).createOrReplaceTempView("_bands_events")
    return spark.sql(
        """
        SELECT day, event_type, COUNT(*) AS n,
               CAST(percentile_disc(0.10) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p10_cents,
               CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p50_cents,
               CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p90_cents
        FROM _bands_events
        GROUP BY day, event_type
        """
    )
