"""Round-2 analytics batch: event-sequence operators (Markov
transitions, last-touch attribution), hypertable-style time bucketing
(arbitrary-origin buckets, multi-grain rollup from one scan), and an
exact EWMA smoother formulated as a banded equi-join.

Reference parity note: the reference has no sequence/time operators at
all (its only engine-interpreted value is the int64 sort key,
`/root/reference/interfaces.go:82-86`) — these are north-star
extensions per SURVEY.md §2 Part B, built entirely from Spark
built-ins so Catalyst keeps pushdown/pruning/codegen.

Scale posture: every query here is one scan + at most one shuffle on
the natural key (user_id / event_type), no cross joins, no windows
over a single global partition; the EWMA join fans out a fixed 10
offsets per row (bounded, partition-local after the shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_WEEK_US = 7 * 24 * 3600 * 1_000_000
_MONDAY_OFFSET_US = 4 * 24 * 3600 * 1_000_000  # 1970-01-05 is a Monday


# --------------------------------------------------------------------
# Markov transition matrix over per-user event sequences.
# --------------------------------------------------------------------
@register(
    "markov_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
      WHERE ts IS NOT NULL
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type)
             AS prob
    FROM trans
    ORDER BY prev_type, next_type
    """,
    tags=("sequence", "window"),
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + probabilities over each
    user's time-ordered event stream. One shuffle on user_id for the
    lag, one grouped count; the per-row normalization reuses the
    (prev_type) partitioning — no extra scan."""
    # a transition is an ordered pair ON the time axis — NULL-time
    # events are excluded on both sides (Spark NULLS FIRST vs DuckDB
    # NULLS LAST would otherwise place them at opposite stream ends;
    # r9 null sweep)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(total)).alias("prob"),
    )


# --------------------------------------------------------------------
# Last-touch attribution with a 7-day lookback window.
# --------------------------------------------------------------------
@register(
    "attribution_last_touch",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type IN ('view','click')
                             THEN event_type END IGNORE NULLS)
               OVER w AS channel,
             LAST_VALUE(CASE WHEN event_type IN ('view','click')
                             THEN epoch_us(ts) END IGNORE NULLS)
               OVER w AS touch_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT channel,
           COUNT(*) AS purchases,
           COUNT(DISTINCT user_id) AS users,
           CAST(SUM(epoch_us(ts) - touch_us) AS DOUBLE)
             / (60000000.0 * COUNT(*)) AS avg_minutes_to_convert
    FROM seq
    WHERE event_type = 'purchase' AND channel IS NOT NULL
      AND epoch_us(ts) - touch_us <= 604800000000
    GROUP BY channel
    ORDER BY channel
    """,
    tags=("sequence", "window"),
    # channel-domain rows; the distinct agg is data-sized, so a real
    # 1-partition exchange, not coalesce(1), gathers them
    sort="one_part_sorted",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute each purchase to the user's most recent view/click
    within 7 days (marketing last-touch). `last(ignorenulls)` over a
    preceding-rows frame carries the touch forward — one shuffle on
    user_id, no self-join, no as-of pass. Gap average uses an exact
    BIGINT microsecond sum divided once (deterministic double)."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    seq = e.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("channel"),
        F.last(F.when(is_touch, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    gap = F.col("us") - F.col("touch_us")
    return (
        seq.filter(
            (F.col("event_type") == "purchase")
            & F.col("channel").isNotNull()
            & (gap <= _WEEK_US)
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.count_distinct("user_id").alias("users"),
            (
                F.sum(gap).cast("double")
                / (60000000.0 * F.count(F.lit(1)))
            ).alias("avg_minutes_to_convert"),
        )
    )


# --------------------------------------------------------------------
# Arbitrary-origin time buckets (TimescaleDB time_bucket shape).
# --------------------------------------------------------------------
@register(
    "time_bucket_weekly_monday",
    """
    -- FLOOR-aligned bucket via a non-negative mod: DuckDB's integer
    -- // truncates toward zero, so pre-epoch timestamps bucketed one
    -- week late (r10 extreme axis, 1969 events); subtracting the
    -- canonical remainder needs no division and floors by definition
    SELECT strftime(make_timestamp(
             epoch_us(ts)
               - ((((epoch_us(ts) - 345600000000) % 604800000000)
                   + 604800000000) % 604800000000)), '%Y-%m-%d')
             AS week_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents,
           COUNT(DISTINCT user_id) AS users
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1
    ORDER BY week_start
    """,
    tags=("timeseries", "agg"),
)
def time_bucket_weekly_monday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monday-aligned weekly buckets via `F.window(..., startTime)` —
    the hypertable `time_bucket(interval, ts, origin)` shape. The
    bucket is a row-local expression, so this stays one scan + one
    grouped agg with map-side partials; no window function needed.

    NULL event-times are on no week: F.window() drops them (its
    generator emits no row) — declared with an explicit filter on
    both sides (r9 null sweep: the oracle had a NULL bucket row)."""
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        e.groupBy(
            F.window("ts", "7 days", "7 days", "4 days")
            .getField("start")
            .alias("week_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("sum_value_cents"),
            F.count_distinct("user_id").alias("users"),
        )
        .withColumn(
            "week_start", F.date_format("week_start", "yyyy-MM-dd")
        )
    )


# --------------------------------------------------------------------
# Multi-grain rollup (continuous-aggregate shape) in one scan.
# --------------------------------------------------------------------
@register(
    "timegrain_rollup_events",
    """
    SELECT CASE WHEN GROUPING(day) = 1 THEN 'month' ELSE 'day' END
             AS grain,
           strftime(month, '%Y-%m-%d') AS month,
           strftime(day, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents
    FROM (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
             CAST(ts AS DATE) AS day, value
      FROM events
      WHERE event_type = 'purchase'
    )
    GROUP BY GROUPING SETS ((month), (month, day))
    ORDER BY month, grain, day
    """,
    tags=("timeseries", "agg"),
)
def timegrain_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + monthly purchase rollups from ONE scan via
    `DataFrame.groupingSets` (Spark 4.0 API) — the hypertable
    continuous-aggregate pattern. Catalyst expands the sets before the
    exchange, so partial aggregation still happens map-side."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    base = e.select(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.col("ts").cast("date").alias("day"),
        "value",
    )
    month, day = F.col("month"), F.col("day")
    return (
        base.groupingSets([[month], [month, day]], month, day)
        .agg(
            F.grouping("day").alias("_g"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("sum_value_cents"),
        )
        .select(
            F.when(F.col("_g") == 1, F.lit("month"))
            .otherwise(F.lit("day"))
            .alias("grain"),
            F.date_format("month", "yyyy-MM-dd").alias("month"),
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "sum_value_cents",
        )
    )


# --------------------------------------------------------------------
# Exact EWMA as a banded equi-join (no per-row recursion).
# --------------------------------------------------------------------
@register(
    "ewma_daily_value",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           COUNT(*) AS n_terms,
           -- VARCHAR->DOUBLE: the weighted HUGEINT sum converts
           -- truncating via the direct cast (r10 extreme axis)
           CAST(CAST(SUM(d2.v * (1 << (9 - DATE_DIFF('day', d2.day, d.day))))
                  AS VARCHAR) AS DOUBLE)
             / SUM(1 << (9 - DATE_DIFF('day', d2.day, d.day)))
             AS ewma_cents
    FROM daily d
    JOIN daily d2
      ON d2.event_type = d.event_type
     AND d2.day BETWEEN d.day - 9 AND d.day
    GROUP BY d.event_type, d.day
    ORDER BY d.event_type, d.day
    """,
    tags=("timeseries", "join"),
    # types x calendar days: bounded by the horizon
    sort="tiny_sorted",
)
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-1-day EWMA over daily value sums, truncated at 10
    terms. Formulated as an equi-join on a shifted day key (each row
    fans out to a fixed 10 offsets) — exact power-of-two integer
    weights, one double division at the end. Scale path: the explode
    is bounded (×10) and the join is hash-partitioned on (type, day);
    nothing is sequential, unlike a recurrence-based EWMA."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).alias("v"))
    # contributor side: each day's value is offered at offsets 0..9
    contrib = daily.select(
        "event_type",
        "day",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("off"),
    ).select(
        "event_type",
        F.date_add("day", F.col("off")).alias("target_day"),
        "v",
        F.expr("shiftleft(1, 9 - off)").alias("w"),
    )
    anchor = daily.select("event_type", "day").alias("a")
    joined = anchor.join(
        contrib.alias("c"),
        (F.col("a.event_type") == F.col("c.event_type"))
        & (F.col("a.day") == F.col("c.target_day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.day").alias("day"),
        F.col("c.v").alias("v"),
        F.col("c.w").alias("w"),
    )
    return (
        joined.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            (
                F.sum(F.col("v") * F.col("w")).cast("double")
                / F.sum("w")
            ).alias("ewma_cents"),
        )
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    )


# --------------------------------------------------------------------
# Equi-depth histogram (quantile binning) via partitioned ntile.
# --------------------------------------------------------------------
@register(
    "equidepth_histogram_prices",
    """
    WITH b AS (
      -- quantile bins are over OBSERVED prices (r9 mixed-null sweep:
      -- NULL prices took opposite NTILE ends per engine)
      SELECT o_orderstatus,
             CAST(round(o_totalprice*100) AS BIGINT) AS cents,
             NTILE(8) OVER (PARTITION BY o_orderstatus
                            ORDER BY CAST(round(o_totalprice*100) AS BIGINT),
                                     o_orderkey) AS bucket
      FROM orders
      WHERE o_totalprice IS NOT NULL
    )
    SELECT o_orderstatus, bucket, COUNT(*) AS n,
           MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
    FROM b GROUP BY o_orderstatus, bucket
    ORDER BY o_orderstatus, bucket
    """,
    tags=("stats", "window"),
)
def equidepth_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning: ntile(8) per status group with a
    unique (cents, orderkey) ordering so bucket boundaries are
    deterministic across engines. Complements the fixed-width
    histogram (histogram_price_bins) — equal counts per bucket,
    data-driven edges. Window partitions by status: no single-
    partition global sort."""
    o = t(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    cents_col = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_orderstatus").orderBy("cents", "o_orderkey")
    return (
        o.select("o_orderstatus", "o_orderkey", cents_col.alias("cents"))
        .withColumn("bucket", F.ntile(8).over(w).cast("long"))
        .groupBy("o_orderstatus", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


# --------------------------------------------------------------------
# Spearman rank correlation with exact integer rank arithmetic.
# --------------------------------------------------------------------
@register(
    "spearman_qty_price",
    """
    WITH b AS (
      -- observed pairs only (pairwise deletion, the standard
      -- correlation treatment of missing data); a NULL series
      -- identity is NO series (declared, r9 rule — the midrank
      -- histogram join-back is an equi-join, which drops the NULL
      -- group the oracle's window kept; r10 nullkeys re-validation)
      SELECT l_returnflag, l_quantity AS q,
             CAST(round(l_extendedprice*100) AS BIGINT) AS c
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_returnflag IS NOT NULL
    ), r AS (
      -- MIDRANKS (2x, to stay integer): 2*min_rank + tie_count - 1.
      -- Tie-averaged ranks are the DEFINED Spearman treatment of
      -- ties — an arbitrary-tiebreak ranking is tie-ORDER dependent
      -- (quantity has ~50 distinct values over thousands of rows;
      -- changing the tiebreak moved rho by 0.02, r9 skew sweep)
      SELECT l_returnflag,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY q)
               + COUNT(*) OVER (PARTITION BY l_returnflag, q) - 1 AS x,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY c)
               + COUNT(*) OVER (PARTITION BY l_returnflag, c) - 1 AS y
      FROM b
    ), m AS (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM r GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
           / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
             AS spearman_rho
    FROM m ORDER BY l_returnflag
    """,
    tags=("stats", "window"),
)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per return
    flag, computed as the Pearson correlation of MIDRANKS (the
    tie-correct definition): quantity takes ~50 distinct values over
    thousands of rows, so tie handling IS the statistic — an
    arbitrary-tiebreak row_number ranking is a function of the tie
    order (two valid tiebreaks moved rho by 0.02) and the classic
    1 − 6Σd²/(n(n²−1)) identity only holds without ties. Midranks are
    carried as exact integers (2·minrank + ties − 1 = twice the
    midrank), co-moments as exact wide integers, and rho is one
    derived double chain, op-for-op identical to the oracle.
    Complements Pearson (stats_corr_regression) — rank correlation is
    robust to monotone transforms/outliers.

    Scale: two rank windows + one tie-count window per variable, all
    partitioned by flag; one grouped agg. Pairs with a NULL on either
    side are excluded (pairwise deletion) on both sides.
    """
    # NULL series identity is no series (see oracle note)
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    )

    # midranks from the VALUE-DOMAIN HISTOGRAM, not a row-level rank
    # window: rank() OVER (PARTITION BY flag) would move the whole
    # fact table through #flags (~4) tasks. Instead: per-(flag,
    # value) counts (map-side combined), a cumulative window over the
    # HISTOGRAM (bounded by value cardinality), and a broadcast
    # join-back — 2·minrank+ties−1 = 2·cum_before+cnt+1. Identical
    # integers to the oracle's rank()+COUNT() form (the MWU/Cliff's
    # delta scale discipline).
    def midranks(col: str, out: str):
        h = base.groupBy("l_returnflag", col).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        wcum = (
            Window.partitionBy("l_returnflag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return h.select(
            "l_returnflag",
            col,
            (
                2 * F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
                + F.col("cnt")
                + 1
            )
            .cast("long")
            .alias(out),
        )

    ranked = (
        base.join(F.broadcast(midranks("q", "x")), ["l_returnflag", "q"])
        .join(F.broadcast(midranks("c", "y")), ["l_returnflag", "c"])
        .select("l_returnflag", "x", "y")
    )
    dec = "decimal(38,0)"
    m = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            n * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return m.select(
        "l_returnflag",
        "n",
        # try_divide: a zero-variance side (constant column) has no
        # rank spread — the oracle's x/0 is NULL where ANSI raises
        F.try_divide(num, den).alias("spearman_rho"),
    )


# --------------------------------------------------------------------
# Winsorized statistics (clip at p05/p95 before aggregating).
# --------------------------------------------------------------------
@register(
    "winsorized_stats_prices",
    """
    WITH cents AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice*100) AS BIGINT) AS c
      FROM orders
    ),
    bounds AS (
      SELECT o_orderstatus,
             CAST(quantile_disc(c, 0.05) AS BIGINT) AS lo,
             CAST(quantile_disc(c, 0.95) AS BIGINT) AS hi
      FROM cents GROUP BY o_orderstatus
    )
    SELECT c.o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN c.c < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN c.c > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           CAST(SUM(LEAST(GREATEST(c.c, b.lo), b.hi)) AS BIGINT)
             AS winsorized_sum_cents,
           CAST(SUM(LEAST(GREATEST(c.c, b.lo), b.hi)) AS DOUBLE)
             / (100.0 * COUNT(*)) AS winsorized_avg
    FROM cents c JOIN bounds b ON b.o_orderstatus = c.o_orderstatus
    GROUP BY c.o_orderstatus
    ORDER BY c.o_orderstatus
    """,
    tags=("stats", "agg"),
)
def winsorized_stats_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean: clip each group's prices at its own exact
    p05/p95 (percentile_disc on integer cents — actual data values),
    then aggregate the clipped BIGINTs exactly. Outlier-robust stats
    as two grouped passes + a broadcast join-back of the (tiny)
    per-group bounds table."""
    o = t(spark, sf_dir, "orders")
    c = o.select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    c.createOrReplaceTempView("_wz_cents")
    bounds = spark.sql(
        """
        SELECT o_orderstatus,
               CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY c)
                    AS BIGINT) AS lo,
               CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY c)
                    AS BIGINT) AS hi
        FROM _wz_cents GROUP BY o_orderstatus
        """
    )
    clipped = F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi"))
    return (
        c.join(F.broadcast(bounds), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("c") < F.col("lo"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("c") > F.col("hi"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            F.sum(clipped).alias("winsorized_sum_cents"),
            (
                F.sum(clipped).cast("double")
                / (100.0 * F.count(F.lit(1)))
            ).alias("winsorized_avg"),
        )
    )


# --------------------------------------------------------------------
# Period-over-period growth (month-over-month revenue).
# --------------------------------------------------------------------
@register(
    "mom_revenue_growth",
    """
    WITH m AS (
      SELECT CAST(date_trunc('year', o_orderdate) AS DATE) AS year,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS rev_cents
      FROM orders GROUP BY 1, 2
    )
    SELECT strftime(month, '%Y-%m-%d') AS month, rev_cents,
           LAG(rev_cents) OVER (PARTITION BY year ORDER BY month)
             AS prev_cents,
           round((rev_cents - LAG(rev_cents) OVER (PARTITION BY year
                                                   ORDER BY month))
                 * 100.0
                 / LAG(rev_cents) OVER (PARTITION BY year ORDER BY month),
                 6) AS growth_pct
    FROM m
    ORDER BY month
    """,
    tags=("timeseries", "window"),
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: exact integer monthly sums,
    lag within the year partition (first month of each year has null
    growth — and the window never degenerates to a single global
    partition), one rounded division per row."""
    o = t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("year", "o_orderdate").cast("date").alias("year"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
    w = Window.partitionBy("year").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        F.date_format("month", "yyyy-MM-dd").alias("month"),
        "rev_cents",
        prev.alias("prev_cents"),
        F.round((F.col("rev_cents") - prev) * 100.0 / prev, 6).alias(
            "growth_pct"
        ),
    )


# --------------------------------------------------------------------
# Trailing-window anomaly z-scores (exact integer accumulators).
# --------------------------------------------------------------------
@register(
    "anomaly_zscore_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), w AS (
      SELECT event_type, day, cents,
             CAST(SUM(cents) OVER tw AS BIGINT) AS s1,
             -- HUGEINT product+sum (mirrors Spark's DECIMAL(38,0)):
             -- daily-cents squared passes int64 at scale
             SUM(CAST(cents AS HUGEINT) * cents) OVER tw AS s2,
             COUNT(*) OVER tw AS n
      FROM daily
      WINDOW tw AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cents, n,
           CASE WHEN n >= 2
                 AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n) > 0
                THEN CAST(round(
                  (cents - CAST(s1 AS DOUBLE)/n)
                  / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n)
                         / (n-1)) * 1000) AS BIGINT)
                ELSE NULL END AS z_milli
    FROM w ORDER BY event_type, day
    """,
    tags=("timeseries", "stats", "window"),
)
def anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day z-score per (event_type, day): how anomalous is
    today's daily total against its own recent window — the rolling
    outlier gate monitoring pipelines run per series. The window
    carries EXACT integer sums (Σx, Σx², n in cents); mean/std/z are
    derived doubles computed op-for-op identically in the oracle and
    rounded to milli-units. Degenerate windows (n<2 or zero variance)
    yield NULL. One shuffle on the series key; the window is
    partitioned per series — no global sort."""
    # NULL event-times are on no day — and a NULL day group would sit
    # at OPPOSITE ends of the trailing window ordering in the two
    # engines (Spark NULLS FIRST / DuckDB NULLS LAST), shifting the
    # first real days' trailing stats (r9 null sweep)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = (
        e.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.sum(cents("value")).cast("long").alias("cents"))
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    w = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(tw).cast("long").alias("s1"),
        # product + sum in DECIMAL(38,0): daily-cents squared passes
        # int64 once a series' daily total exceeds ~3e9 cents — the
        # window carries the wide accumulator, the z derives doubles
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).over(tw).alias("s2"),
        F.count(F.lit(1)).over(tw).alias("n"),
    )
    var_num = F.col("s2").cast("double") - F.col("s1").cast("double") * F.col(
        "s1"
    ) / F.col("n")
    z = F.round(
        (F.col("cents") - F.col("s1").cast("double") / F.col("n"))
        / F.sqrt(var_num / (F.col("n") - 1))
        * 1000
    ).cast("long")
    return w.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents",
        "n",
        F.when((F.col("n") >= 2) & (var_num > 0), z).alias("z_milli"),
    )


# --------------------------------------------------------------------
# Multi-touch (linear) attribution with exact integer credit split.
# --------------------------------------------------------------------
@register(
    "attribution_multi_touch_linear",
    """
    WITH purch AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id,
             CAST(round(value*100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, ts AS t_ts, event_id AS t_id,
             event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ), j AS (
      SELECT p.p_id, p.cents, t.channel, t.t_ts, t.t_id,
             COUNT(*) OVER (PARTITION BY p.p_id) AS n_touches,
             ROW_NUMBER() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_ts DESC, t.t_id DESC) AS rn
      FROM purch p
      JOIN touch t
        ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
    )
    SELECT channel,
           COUNT(*) AS n_credits,
           -- HUGEINT products; credit totals can exceed int64 at
           -- scale, so the conserved sum surfaces as DOUBLE
           CAST(CAST(SUM(CAST(cents AS HUGEINT) * 1000000 // n_touches
                    + CASE WHEN rn = 1
                           THEN CAST(cents AS HUGEINT) * 1000000 % n_touches
                           ELSE 0 END) AS VARCHAR) AS DOUBLE) AS credit_micro_cents
    FROM j GROUP BY channel ORDER BY channel
    """,
    tags=("sequence", "analytics", "window"),
)
def attribution_multi_touch_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits
    EQUALLY across every view/click touch in its 7-day lookback —
    the credit model last-touch (`attribution_last_touch`) collapses
    to one touch. The split is exact integer micro-cents with the
    division remainder assigned deterministically to the most recent
    touch, so total credit conserves purchase value bit-for-bit and
    hashes match across engines.

    Scale shape: a per-user time-range join (user-partitioned, never
    cross-user), a window partitioned by purchase id for the touch
    count, one small channel agg. No global sorts."""
    e = t(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        cents("value").alias("cents"),
    )
    touch = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    j = purch.join(
        touch,
        (purch.user_id == touch.user_id)
        & (touch.t_ts < purch.p_ts)
        & (touch.t_ts >= purch.p_ts - F.expr("INTERVAL 7 DAYS")),
    )
    wn = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(
        F.desc("t_ts"), F.desc("t_id")
    )
    credited = j.select(
        "p_id",
        "cents",
        "channel",
        F.count(F.lit(1)).over(wn).alias("n_touches"),
        F.row_number().over(wr).alias("rn"),
    )
    # exact micro-cent split WITHOUT an int64 product: cents*1e6
    # overflows for large money, so divide cents first in BIGINT
    # (q = cents div n, r = cents % n; r*1e6 stays tiny) and lift the
    # big multiply into DECIMAL(38,0). Identity:
    # (c*1e6) div n = q*1e6 + (r*1e6) div n, (c*1e6) % n = (r*1e6) % n.
    base = (
        F.expr("cents div n_touches").cast("decimal(38,0)") * 1000000
        + F.expr("((cents % n_touches) * 1000000) div n_touches")
    )
    rem = F.expr("((cents % n_touches) * 1000000) % n_touches")
    return (
        credited.select(
            "channel",
            (base + F.when(F.col("rn") == 1, rem).otherwise(0)).alias(
                "credit"
            ),
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            # conserved total can exceed int64 → DOUBLE (r10 extreme)
            F.sum("credit").cast("double").alias("credit_micro_cents"),
        )
    )


# --------------------------------------------------------------------
# Join-key skew diagnosis (what you run BEFORE a 100 TB join).
# --------------------------------------------------------------------
@register(
    "skew_diagnosis_join_keys",
    """
    WITH k AS (
      SELECT l_orderkey AS key, COUNT(*) AS n
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_rows_per_key,
           CAST(quantile_disc(n, 0.50) AS BIGINT) AS p50,
           CAST(quantile_disc(n, 0.90) AS BIGINT) AS p90,
           CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99,
           CAST((MAX(n) * 1000 * COUNT(*)) // SUM(n) AS BIGINT)
             AS skew_ratio_milli
    FROM k
    """,
    tags=("stats", "diagnostics", "join"),
)
def skew_diagnosis_join_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report for lineitem.l_orderkey: per-key row-count
    distribution (exact discrete percentiles, max, and max/mean skew
    ratio in milli-units). This is the diagnosis pass run before
    shuffling a 100 TB join — a skew_ratio well above 1000 milli
    (max >> mean) says salt the key or rely on AQE skew-join splits.
    One groupBy + one tiny agg; exact integers throughout."""
    li = t(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    k.createOrReplaceTempView("_skew_keys")
    return spark.sql(
        """
        SELECT COUNT(*) AS n_keys,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(MAX(n) AS BIGINT) AS max_rows_per_key,
               CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY n)
                    AS BIGINT) AS p50,
               CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY n)
                    AS BIGINT) AS p90,
               CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n)
                    AS BIGINT) AS p99,
               CAST((MAX(n) * 1000 * COUNT(*)) div SUM(n) AS BIGINT)
                 AS skew_ratio_milli
        FROM _skew_keys
        """
    )


# --------------------------------------------------------------------
# Rolling correlation between two daily series (exact co-moments).
# --------------------------------------------------------------------
@register(
    "rolling_correlation_series",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value*100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'click'
                           THEN CAST(round(value*100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), w AS (
      SELECT day, x, y,
             COUNT(*) OVER tw AS n,
             CAST(SUM(x) OVER tw AS DOUBLE) AS sx,
             CAST(SUM(y) OVER tw AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS HUGEINT)*y) OVER tw AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT)*x) OVER tw AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT)*y) OVER tw AS DOUBLE) AS syy
      FROM daily
      WINDOW tw AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n,
           CASE WHEN n >= 2
                 AND (n*sxx - sx*sx) > 0
                 AND (n*syy - sy*sy) > 0
                THEN CAST(round(
                  (n*sxy - sx*sy)
                  / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
                  * 1000) AS BIGINT)
                ELSE NULL END AS corr_milli
    FROM w ORDER BY day
    """,
    tags=("timeseries", "stats", "window"),
)
def rolling_correlation_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling Pearson correlation between two daily series
    (purchase vs click revenue) — the co-movement monitor pairs-of-
    metrics dashboards run. The window carries EXACT co-moments
    (Σx, Σy, Σxy, Σx², Σy², n) in overflow-proof wide accumulators —
    decimal(38,0) here, HUGEINT in the oracle — because daily cents at
    large scale reach ~1e10 and the squared products (~1e20) overflow
    int64, where Spark would wrap silently while DuckDB errors. The
    exact integer sums convert to double once, then the correlation is
    derived op-for-op identically on both engines and rounded to
    milli. The single global-ordered window is over the DAY-level
    series (30 rows at sf0.1, ~thousands at any horizon) — the
    raw-event shuffle happens in the day aggregation, which is
    key-partitioned; the tiny series itself is safe to sort globally.
    Degenerate windows (constant series) yield NULL."""
    # NULL event-times are on no day (the NULL day group would sit at
    # opposite window ends across engines; r9 null sweep)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents("value"))
            .otherwise(0)
        )
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "click", cents("value"))
            .otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    tw = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
    # products and window sums in decimal(38,0): daily cents at large
    # scale (~1e10) square to ~1e20, past int64; decimal matches the
    # oracle's HUGEINT accumulators, and both convert to double once
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    w = daily.select(
        "day",
        F.count(F.lit(1)).over(tw).alias("n"),
        F.sum("x").over(tw).cast("double").alias("sx"),
        F.sum("y").over(tw).cast("double").alias("sy"),
        F.sum(xd * yd).over(tw).cast("double").alias("sxy"),
        F.sum(xd * xd).over(tw).cast("double").alias("sxx"),
        F.sum(yd * yd).over(tw).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = F.round(cov / (F.sqrt(vx) * F.sqrt(vy)) * 1000).cast("long")
    return w.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.when((F.col("n") >= 2) & (vx > 0) & (vy > 0), corr).alias(
            "corr_milli"
        ),
    )


# --------------------------------------------------------------------
# Inter-event gap distribution (log2-bucketed latency histogram).
# --------------------------------------------------------------------
@register(
    "interevent_gap_histogram",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(length(bin(gap_us + 1)) - 1 AS BIGINT) AS log2_bucket,
           COUNT(*) AS n
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY 1, 2
    ORDER BY event_type, log2_bucket
    """,
    tags=("timeseries", "stats"),
)
def interevent_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-(user, type) inter-event gaps in log2
    microsecond buckets — the latency/cadence histogram behind
    session-gap threshold choices (sessionize_events hardcodes 30 min;
    this query is how that number gets picked from data). The bucket is
    floor(log2(gap+1)) computed with EXACT integer math — the bit
    length of the binary rendering (``length(bin(x)) - 1``) on both
    engines — because float log2 differs across engines near powers of
    two: Spark's LOG2 is ln(x)/ln(2), which at x = 2^48 - 1 floors to
    48 while true log2 floors to 47. One shuffle on (user, type); the
    histogram is a tiny second agg."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        g.select(
            "event_type",
            (F.length(F.bin(F.col("gap_us") + 1)) - 1)
            .cast("long")
            .alias("log2_bucket"),
        )
        .groupBy("event_type", "log2_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------
# Event-type co-occurrence PMI within (user, day) sessions.
# --------------------------------------------------------------------
@register(
    "session_cooccurrence_pmi",
    """
    WITH s AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events
    ), tot AS (
      SELECT COUNT(DISTINCT (user_id, day)) AS n_sessions FROM s
    ), singles AS (
      SELECT event_type, COUNT(*) AS n FROM s GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM s a JOIN s b
        ON a.user_id = b.user_id AND a.day = b.day
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           sa.n AS n_a, sb.n AS n_b,
           CAST(round(ln((CAST(p.n_both AS DOUBLE) * t.n_sessions)
                        / (CAST(sa.n AS DOUBLE) * sb.n)) * 1000000)
                AS BIGINT) AS pmi_micro
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN tot t
    ORDER BY type_a, type_b
    """,
    tags=("analytics", "mining", "sequence"),
)
def session_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring
    in the same (user, day) session — which behaviors attract or
    repel each other, the session-level sibling of basket-level
    `copurchase_lift_top50`. PMI = ln(P(a,b)/(P(a)·P(b))) computed
    from exact integer session counts and rounded to micro-nats; the
    doubles are functions of identical integers so both engines agree
    bit-for-bit.

    Scale shape: the session de-dup and the self-join both partition
    by (user, day) — per-session event-type sets are tiny (≤ distinct
    types), so the pair fanout is bounded per session; the final PMI
    table is |types|² rows. The global session count stays a 1-row
    DataFrame broadcast-crossed into the result (single action — no
    driver-side scalar round trip)."""
    e = t(spark, sf_dir, "events")
    # the session set feeds four consumers (session count, singles,
    # both self-join sides) — persist so the corpus scan + distinct
    # run once, not once per reference
    s = e.select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type"
    ).distinct().persist()
    n_sessions_df = (
        s.select("user_id", "day")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    singles = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = s.alias("a")
    b = s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    pmi = F.round(
        F.log(
            (F.col("n_both").cast("double") * F.col("n_sessions"))
            / (F.col("n_a").cast("double") * F.col("n_b"))
        )
        * 1000000
    ).cast("long")
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_sessions_df))
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            pmi.alias("pmi_micro"),
        )
    )
