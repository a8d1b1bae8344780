"""Time series and event sequences: calendar bucketing and rollups,
smoothing and forecasting, anomaly and change detection, gap filling,
as-of and range joins, sessions, funnels, cohorts and touch
attribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.asof import asof_join
from filemapreduce_spark.operators.money import as_money, cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


_WEEK_US = 7 * 24 * 3600 * 1_000_000


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


# Purchases (value in cents) and their view/click touches: the inputs
# of every multi-touch attribution oracle.
_SQL_PURCH_TOUCH = """WITH purch AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id,
             CAST(round(value*100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, ts AS t_ts, event_id AS t_id,
             event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')
    )"""


# --------------------------------------------------------------------
# Multi-touch (linear) attribution with exact integer credit split.
# --------------------------------------------------------------------
@register(
    "attribution_multi_touch_linear",
    f"""
    {_SQL_PURCH_TOUCH}, j AS (
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


# --------------------------------------------------------------------
# Max drawdown per series (running peak vs cumulative value).
# --------------------------------------------------------------------
@register(
    "max_drawdown_by_type",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, day,
             CAST(SUM(cents) OVER w AS BIGINT) AS cum_cents
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), pk AS (
      -- running max OF THE CUMULATIVE, staged after it: the previous
      -- MAX(SUM(cents)) OVER w form was the running max of DAILY
      -- values — indistinguishable on all-positive series (cum is
      -- monotone, drawdown 0 everywhere on both sides) and wrong the
      -- moment a negative day exists (r10 extreme axis)
      SELECT event_type, day, cum_cents,
             CAST(MAX(cum_cents) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS peak_cents
      FROM cum
    ), dd AS (
      SELECT event_type, day, cum_cents, peak_cents,
             peak_cents - cum_cents AS drawdown_cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY peak_cents - cum_cents DESC,
                                         day ASC) AS rn
      FROM pk
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS trough_day,
           peak_cents, cum_cents, drawdown_cents
    FROM dd WHERE rn = 1
    ORDER BY event_type
    """,
    tags=("timeseries", "window", "finance"),
)
def max_drawdown_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per event-type series: cumulative daily value
    vs its running peak; report the deepest peak-to-trough drop and
    the (earliest) day it bottomed. The canonical risk statistic over
    any cumulative series — and the canonical *double-window* shape:
    running sum, running max OVER the running sum, then a per-series
    argmax.

    Exactness: cumulative sums and peaks stay integer cents end-to-end
    (associative, order-independent); ties on drawdown break by
    earliest day, so the answer is unique.

    Scale: one shuffle to daily grain (map-side combined), then every
    window is partitioned by the series key and ordered by day — no
    global sort, no single-partition window. The final top-1 per
    series is a row_number filter that WindowGroupLimit prunes to one
    row per key below the exchange. Series count bounds the state, not
    row count — the plan is unchanged at 100 TB.
    """
    # NULL event-times are on no day (r9 null sweep: the NULL day
    # group led Spark's cumulative ordering and trailed DuckDB's)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))

    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "event_type",
        "day",
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
    ).withColumn(
        "peak_cents",
        F.max("cum_cents")
        .over(
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long"),
    )
    dd = cum.withColumn(
        "drawdown_cents", F.col("peak_cents") - F.col("cum_cents")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("drawdown_cents").desc(), F.col("day").asc()
            )
        ),
    )
    return (
        dd.where(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("trough_day"),
            "peak_cents",
            "cum_cents",
            "drawdown_cents",
        )
    )


# --------------------------------------------------------------------
# Interval union (merge overlapping intervals, covered-time per key).
# --------------------------------------------------------------------
@register(
    "interval_union_coverage",
    """
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(round(value*100) AS BIGINT) * 10000 AS e,
             event_id
      FROM events
      WHERE ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -9223372036854775807)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ), merged AS (
      SELECT user_id, island,
             MIN(s) AS island_start, MAX(e) AS island_end
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_end - island_start) AS BIGINT) AS covered_us,
           CAST(MAX(island_end - island_start) AS BIGINT) AS longest_us
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("timeseries", "interval", "window"),
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union of activity intervals: each event opens an
    interval [ts, ts + value seconds); overlapping/touching intervals
    merge into islands (sweep-line: a new island starts when an
    interval's start exceeds the running max end of all its
    predecessors); report island count, total covered microseconds,
    and the longest contiguous stretch. The interval-set-union
    primitive behind uptime accounting, billing-session stitching,
    and coverage-gap detection.

    Exactness: all endpoint arithmetic is integer microseconds
    (epoch_us + exact cents×10⁴ duration); ties order by
    (start, event_id / end), so island ids are deterministic.

    Scale: one shuffle on user_id; both windows and both aggregates
    reuse that partitioning (per-user ordering, never global). The
    running-max-of-predecessors trick is O(n log n) per key vs the
    O(n²) naive pairwise overlap join.
    """
    # an event with no timestamp opens no interval (r9 null sweep:
    # NULL endpoints sort at opposite ends across engines)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + cents("value") * 10000).alias("e"),
        "event_id",
    )
    prev_max_end = F.max("e").over(
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("s")
            > F.coalesce(prev_max_end, F.lit(-9223372036854775807)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(
            Window.partitionBy("user_id")
            .orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("island"),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_islands"),
            F.sum(F.col("island_end") - F.col("island_start"))
            .cast("long")
            .alias("covered_us"),
            F.max(F.col("island_end") - F.col("island_start"))
            .cast("long")
            .alias("longest_us"),
        )
    )


# --------------------------------------------------------------------
# Seasonal-naive forecast backtest (weekday-mean model, exact errors).
# --------------------------------------------------------------------
_SPLIT_DAY = "2024-01-24"


@register(
    "seasonal_naive_backtest",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), model AS (
      SELECT event_type, isodow(day) AS dow,
             COUNT(*) AS n_train,
             CAST(SUM(cents) AS BIGINT) AS s_cents
      FROM daily WHERE day < DATE '{_SPLIT_DAY}'
      GROUP BY 1, 2
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           d.cents AS actual_cents,
           CAST(round(CAST(1000 AS DOUBLE) * m.s_cents / m.n_train) AS BIGINT)
             AS pred_milli,
           CAST(abs(d.cents * 1000
                    - CAST(round(CAST(1000 AS DOUBLE) * m.s_cents / m.n_train) AS BIGINT))
                AS BIGINT) AS abs_err_milli
    FROM daily d
    JOIN model m
      ON m.event_type = d.event_type AND m.dow = isodow(d.day)
    WHERE d.day >= DATE '{_SPLIT_DAY}'
    ORDER BY d.event_type, d.day
    """,
    tags=("timeseries", "forecast", "backtest"),
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest: hold out the final week, predict each
    held-out (type, day) with the training mean of the same weekday,
    and report the exact absolute error per test day. The baseline
    every forecasting pipeline must beat — and the evaluation shape
    (time-split, per-horizon-cell exact errors, no lookahead) is the
    part that matters.

    Exactness: the prediction is the one derived double
    (1000·Σcents/n, rounded to milli); errors are then pure integer
    arithmetic — no float summation anywhere, so rows hash-match at
    any scale.

    Scale: train and test are partition-prunable date slices of the
    same daily aggregate; the model is #types × 7 rows, broadcast
    into the test-side join. Retraining is one map-side-combined agg.
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    split = F.lit(_SPLIT_DAY).cast("date")
    isodow = F.weekday("day") + 1
    model = (
        daily.where(F.col("day") < split)
        .groupBy("event_type", isodow.alias("dow"))
        .agg(
            F.count("*").alias("n_train"),
            F.sum("cents").cast("long").alias("s_cents"),
        )
    )
    test = daily.where(F.col("day") >= split).withColumn(
        "dow", isodow
    )
    pred = F.round(
        1000.0 * F.col("s_cents") / F.col("n_train")
    ).cast("long")
    return (
        test.join(F.broadcast(model), ["event_type", "dow"])
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("cents").alias("actual_cents"),
            pred.alias("pred_milli"),
            F.abs(F.col("cents") * 1000 - pred).cast("long").alias(
                "abs_err_milli"
            ),
        )
    )


# --------------------------------------------------------------------
# Daily active/new/returning decomposition + cumulative adoption.
# --------------------------------------------------------------------
@register(
    "daily_active_new_returning",
    """
    WITH seen AS (
      SELECT user_id, CAST(ts AS DATE) AS day FROM events
      WHERE ts IS NOT NULL GROUP BY 1, 2
    ), first_seen AS (
      SELECT user_id, MIN(day) AS first_day FROM seen GROUP BY user_id
    ), daily AS (
      SELECT s.day,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN f.first_day = s.day THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new
      FROM seen s JOIN first_seen f ON f.user_id = s.user_id
      GROUP BY s.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_active, n_new,
           CAST(n_active - n_new AS BIGINT) AS n_returning,
           CAST(SUM(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM daily
    ORDER BY day
    """,
    tags=("growth", "timeseries", "agg"),
)
def daily_active_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth dashboard's first chart: per day, active users split
    into NEW (first ever appearance) vs RETURNING, plus the
    cumulative adoption curve (running total of first appearances —
    which equals the distinct-users-to-date count without any
    cumulative-distinct machinery: count each user once, on their
    first day).

    Scale: first-seen is one map-side-combined min per user; the
    daily split joins (user, day) activity to the broadcast-or-
    shuffled first-seen table on user_id; the only window runs over
    the DAY GRID (horizon-bounded — 36.5k rows per century), never
    user-level data.
    """
    # NULL event-times are on no day (r9 null sweep: the NULL day
    # group rode the cumulative window at opposite ends per engine)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    seen = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    first_seen = seen.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        seen.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_active"),
            F.sum(
                F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new"),
        )
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).cast("long").alias(
            "n_returning"
        ),
        F.sum("n_new").over(wcum).cast("long").alias("cum_users"),
    )


# --------------------------------------------------------------------
# Burst detection: busiest trailing hour per user (RANGE frame).
# --------------------------------------------------------------------
@register(
    "burst_busiest_hour",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ep, event_id FROM events
      WHERE ts IS NOT NULL
    ), winct AS (
      SELECT user_id, ep, event_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ep
                            RANGE BETWEEN 3600000000 PRECEDING
                            AND CURRENT ROW) AS hr_count
      FROM e
    ), best AS (
      SELECT user_id, ep, hr_count,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY hr_count DESC, ep ASC,
                                         event_id ASC) AS rn
      FROM winct
    )
    SELECT user_id,
           CAST(hr_count AS BIGINT) AS peak_events_per_hour,
           CAST(ep AS BIGINT) AS peak_window_end_us
    FROM best WHERE rn = 1
    ORDER BY user_id
    """,
    tags=("timeseries", "burst", "window"),
)
def burst_busiest_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection per user: the maximum number of events inside
    any trailing one-hour window (evaluated at each event — the
    sliding-window maximum IS attained at some event's timestamp),
    with the deterministic earliest window end on ties. The number
    that sizes rate limits and flags scripted/abusive activity.

    The RANGE frame counts by event-TIME extent (microseconds), not
    row position — the time-interval frame a ROWS window cannot
    express when events arrive unevenly.

    Scale: one shuffle on user_id reused by the RANGE count and the
    top-1 rank; WindowGroupLimit prunes the rank below the exchange.
    Per-user frame state is bounded by the busiest hour's event
    count.
    """
    # an undated event sits in no trailing hour (r9 null sweep)
    e = (
        t(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("ep"), "event_id")
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    winct = e.select(
        "user_id",
        "ep",
        "event_id",
        F.count(F.lit(1)).over(wr).alias("hr_count"),
    )
    best = winct.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("hr_count").desc(),
                F.col("ep").asc(),
                F.col("event_id").asc(),
            )
        ),
    )
    return (
        best.where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("hr_count").cast("long").alias("peak_events_per_hour"),
            F.col("ep").cast("long").alias("peak_window_end_us"),
        )
    )


# --------------------------------------------------------------------
# Theil–Sen robust slope (median of pairwise slopes).
# --------------------------------------------------------------------
@register(
    "theil_sen_slope_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE)
               / date_diff('day', a.day, b.day) AS slope
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day > a.day
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS slope_cents_per_day
    FROM pairs
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("timeseries", "stats", "robust"),
)
def theil_sen_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope per series: the median of all
    pairwise (Δvalue/Δdays) slopes over the daily totals — the
    rank-based regression that shrugs off outliers an OLS line would
    chase (Theil 1950, Sen 1968; breakdown point ~29%).

    Exactness: each slope is one double division of exact integers
    (identical op both engines); the interpolated median over
    identically-computed doubles is deterministic, rounded to 6 dp.

    Scale: the series reduces to daily grain first, so the pairwise
    self-join is horizon-bounded (O(days²) per series, days ≈ 30
    here), shuffled on the series key — row count never enters.
    At decade horizons, band the days and sample pairs per band
    (the standard Theil–Sen subsampling).
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("cents").alias("ca")
    )
    b = daily.select(
        "event_type", F.col("day").alias("day_b"), F.col("cents").alias("cb")
    )
    pairs = a.join(b, "event_type").where(
        F.col("day_b") > F.col("day_a")
    ).select(
        "event_type",
        (
            (F.col("cb") - F.col("ca")).cast("double")
            / F.datediff("day_b", "day_a")
        ).alias("slope"),
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.expr("percentile(slope, 0.5)"), 6
            ).alias("slope_cents_per_day"),
        )
    )


# --------------------------------------------------------------------
# Classical seasonal decomposition (trend + weekday seasonal + resid).
# --------------------------------------------------------------------
@register(
    "seasonal_decomposition_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), trend AS (
      SELECT event_type, day, cents,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN CAST(SUM(cents) OVER w AS BIGINT) END AS tsum
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
      SELECT event_type, day, cents, tsum,
             CASE WHEN tsum IS NOT NULL
                  THEN cents - CAST(tsum AS DOUBLE) / 7 END AS detrended
      FROM trend
    ), seas AS (
      -- exact-integer seasonal mean: AVG over float detrended values
      -- is summation-order-dependent and diverges in the last bits at
      -- 1e14 magnitudes (r10 extreme axis); cents*7 - tsum is exact
      -- BIGINT, so the mean is one double division of exact integers
      SELECT event_type, isodow(day) AS dow,
             CAST(SUM(cents * 7 - tsum) AS BIGINT) AS d7sum,
             COUNT(*) AS n7
      FROM detr WHERE detrended IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.cents,
           CASE WHEN d.tsum IS NOT NULL
                THEN CAST(round(CAST(1000 AS DOUBLE) * d.tsum / 7) AS BIGINT)
           END AS trend_milli,
           CAST(round(CAST(1000 AS DOUBLE) * s.d7sum / (7 * s.n7))
                AS BIGINT) AS seasonal_milli,
           CASE WHEN d.tsum IS NOT NULL
                THEN CAST(d.cents * 1000
                     - CAST(round(CAST(1000 AS DOUBLE) * d.tsum / 7) AS BIGINT)
                     - CAST(round(CAST(1000 AS DOUBLE) * s.d7sum / (7 * s.n7)) AS BIGINT) AS BIGINT)
           END AS resid_milli
    FROM detr d JOIN seas s
      ON s.event_type = d.event_type AND s.dow = isodow(d.day)
    ORDER BY d.event_type, d.day
    """,
    tags=("timeseries", "decomposition", "stats"),
)
def seasonal_decomposition_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive seasonal decomposition per series: trend =
    centered 7-day moving average (only where the full window
    exists), weekday seasonal = mean of the detrended values per
    ISO weekday, residual = value − trend − seasonal — the
    decomposition every seasonality investigation starts with
    (the moving-average core of STL without the loess robustness
    iterations).

    Exactness: the trend carries the exact integer 7-day SUM and
    divides once at output; the seasonal mean is the one float
    average, 6-dp-rounded before the residual subtraction, which is
    then pure integer milli arithmetic.

    Scale: one shuffle to daily grain; the centered-window and the
    weekday aggregation both run on the per-series partitioning;
    the seasonal table is #series×7 rows broadcast back.
    """
    # NULL event-times are on no day (r9 null sweep)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trend = daily.select(
        "event_type",
        "day",
        "cents",
        F.when(
            F.count("*").over(w) == 7, F.sum("cents").over(w).cast("long")
        ).alias("tsum"),
    )
    detr = trend.withColumn(
        "detrended",
        F.when(
            F.col("tsum").isNotNull(),
            F.col("cents") - F.col("tsum").cast("double") / 7,
        ),
    )
    isodow = F.weekday("day") + 1
    # exact-integer seasonal mean (see oracle note): cents*7 - tsum
    # is exact BIGINT; one double division of exact integers
    seas = (
        detr.where(F.col("detrended").isNotNull())
        .groupBy("event_type", isodow.alias("dow"))
        .agg(
            F.sum(F.col("cents") * 7 - F.col("tsum")).alias("d7sum"),
            F.count(F.lit(1)).alias("n7"),
        )
    )
    trend_milli = F.when(
        F.col("tsum").isNotNull(),
        F.round(1000.0 * F.col("tsum") / 7).cast("long"),
    )
    seasonal_milli = F.round(
        1000.0 * F.col("d7sum") / (7 * F.col("n7"))
    ).cast("long")
    return (
        detr.withColumn("dow", isodow)
        .join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cents",
            trend_milli.alias("trend_milli"),
            seasonal_milli.alias("seasonal_milli"),
            F.when(
                F.col("tsum").isNotNull(),
                F.col("cents") * 1000
                - F.round(1000.0 * F.col("tsum") / 7).cast("long")
                - seasonal_milli,
            )
            .cast("long")
            .alias("resid_milli"),
        )
    )


# --------------------------------------------------------------------
# Trailing-window exact quantile (p90 over the last 7 days).
# --------------------------------------------------------------------
@register(
    "trailing_quantile_7day",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), w AS (
      -- quantile over OBSERVED values: filter NULL daily totals out
      -- of the window list and size the index by the filtered length
      -- (Spark's collect_list skips NULLs; counting rows instead of
      -- observations indexed past the short array — r9 null-measures
      -- crash)
      SELECT event_type, day, cents,
             list_sort(list_filter(list(cents) OVER tw,
                                   x -> x IS NOT NULL)) AS win
      FROM daily
      WINDOW tw AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cents,
           CAST(win[CAST(ceil(0.9 * len(win)) AS BIGINT)] AS BIGINT)
             AS p90_trailing
    FROM w
    ORDER BY event_type, day
    """,
    tags=("timeseries", "quantile", "window"),
)
def trailing_quantile_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day exact p90 per series: each day's value next to
    the 90th percentile of its own last week — the rolling SLA band
    ops dashboards draw (alert when today's value exceeds its recent
    p90). The quantile is defined EXPLICITLY as the ⌈0.9·n⌉-th
    element of the sorted window (1-based) and computed by the same
    sorted-array indexing in both engines — no reliance on either
    engine's quantile-function interpolation semantics.

    Scale: the window carries at most 7 integers per row (bounded by
    the window length, not data volume) over the per-series
    partitioning — collect-sort-index inside a 7-element window is
    O(1) per row.
    """
    # NULL event-times are on no day; the trailing p90 is defined over
    # OBSERVED daily totals — collect_list already skips NULLs, so the
    # index must come from the collected length, not the row count
    # (counting rows indexed past the short array and ANSI element_at
    # raised; r9 null-measures crash). try_element_at returns NULL for
    # the empty all-NULL window.
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    w = daily.select(
        "event_type",
        "day",
        "cents",
        F.sort_array(F.collect_list("cents").over(tw)).alias("win"),
    )
    idx = F.ceil(0.9 * F.size("win")).cast("int")
    # the empty-window guard must be explicit: try_element_at
    # tolerates OUT-OF-RANGE indexes but still raises on index 0
    # (INVALID_INDEX_OF_ZERO), which is exactly what ceil(0.9*0)
    # produces for an all-NULL window (r9 null-measures sweep)
    p90 = F.when(F.size("win") > 0, F.try_element_at("win", idx))
    return w.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents",
        p90.cast("long").alias("p90_trailing"),
    )


# --------------------------------------------------------------------
# Hysteresis alert state (two-threshold Schmitt trigger over a series).
# --------------------------------------------------------------------
@register(
    "hysteresis_alert_state",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), th AS (
      SELECT event_type,
             CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS n
      FROM daily GROUP BY event_type
    ), flagged AS (
      SELECT d.event_type, d.day, d.cents,
             CASE WHEN d.cents * t.n * 10 > t.s * 12 THEN 1
                  WHEN d.cents * t.n * 10 < t.s * 8 THEN 0
             END AS crossing
      FROM daily d JOIN th t ON t.event_type = d.event_type
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cents,
           CAST(COALESCE(last_value(crossing IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
                AS BIGINT) AS alert_state
    FROM flagged
    ORDER BY event_type, day
    """,
    tags=("timeseries", "alerting", "window"),
)
def hysteresis_alert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold alert state machine (Schmitt trigger) per series:
    the alert SETS when a day's total exceeds 120% of the series mean
    and CLEARS only below 80% — days in the dead band inherit the
    last decided state (the hysteresis that stops alert flapping,
    which a single-threshold rule cannot). State is −1 before the
    first crossing.

    The trick that keeps this a plain window op: the state at day t
    is exactly the most recent SET/CLEAR crossing at or before t, so
    ``last_value(crossing) IGNORE NULLS`` over the day order IS the
    state machine — no recursive fold needed. Threshold comparisons
    are exact integer cross-products (cents·n·10 vs s·12), no float
    thresholds.

    Scale: one shuffle to daily grain; thresholds are a #series-row
    broadcast; the navigation window is per-series.
    """
    # NULL event-times are on no day (r9 null sweep: a NULL day group
    # rode the state-machine window at opposite ends per engine)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    th = daily.groupBy("event_type").agg(
        F.sum("cents").cast("long").alias("s"), F.count("*").alias("n")
    )
    flagged = daily.join(F.broadcast(th), "event_type").select(
        "event_type",
        "day",
        "cents",
        F.when(
            F.col("cents") * F.col("n") * 10 > F.col("s") * 12, F.lit(1)
        )
        .when(F.col("cents") * F.col("n") * 10 < F.col("s") * 8, F.lit(0))
        .alias("crossing"),
    )
    wnav = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents",
        F.coalesce(
            F.last("crossing", ignorenulls=True).over(wnav), F.lit(-1)
        )
        .cast("long")
        .alias("alert_state"),
    )


# --------------------------------------------------------------------
# Order-to-ship latency quantiles per priority (fulfillment SLA).
# --------------------------------------------------------------------
@register(
    "order_to_ship_latency",
    """
    WITH lat AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(quantile_disc(days, 0.50) AS BIGINT) AS p50_days,
           CAST(quantile_disc(days, 0.90) AS BIGINT) AS p90_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM lat
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("timeseries", "sla", "join"),
)
def order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-latency SLA per order priority: join line
    shipments to their orders, measure order-to-ship days, and report
    exact discrete p50/p90/max — the canonical operational-SLA query
    (and the one a priority system is graded by: higher priorities
    should show lower quantiles). Discrete percentiles over integer
    days are hash-exact.

    Scale: one broadcast-or-shuffle equi-join on the order key, then
    a map-side-combinable agg per priority (percentile_disc state is
    per-group sorted counts — at extreme group sizes swap in the
    registry's histogram quantile sketch, same contract).
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("days"),
        )
    )
    lat.createOrReplaceTempView("_ots_lat")
    return lat.sparkSession.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_lines,
               CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY days)
                    AS BIGINT) AS p50_days,
               CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY days)
                    AS BIGINT) AS p90_days,
               CAST(MAX(days) AS BIGINT) AS max_days
        FROM _ots_lat
        GROUP BY o_orderpriority
        """
    )


# --------------------------------------------------------------------
# Changepoint: exact best single SSE split (binary segmentation).
# --------------------------------------------------------------------
@register(
    "changepoint_sse_split",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), pre AS (
      SELECT event_type, day, y,
             ROW_NUMBER() OVER w AS k,
             SUM(y) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sl,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(y) OVER (PARTITION BY event_type) AS s
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), gains AS (
      SELECT event_type, day, k, n, sl, s,
             round(
               (sl::DOUBLE * sl) / k
               + ((s - sl)::DOUBLE * (s - sl)) / (n - k)
               - (s::DOUBLE * s) / n, 6) AS gain
      FROM pre WHERE k < n
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY gain DESC, day) AS rk
      FROM gains
    )
    SELECT event_type,
           strftime(day + INTERVAL 1 DAY, '%Y-%m-%d') AS split_date,
           CAST(n AS BIGINT) AS n_days,
           CAST(round(1000.0 * sl / k) AS BIGINT) AS mean_left_milli,
           CAST(round(1000.0 * (s - sl) / (n - k)) AS BIGINT)
             AS mean_right_milli,
           CAST(round(1000000.0 * gain) AS BIGINT) AS gain_micro
    FROM best WHERE rk = 1
    ORDER BY event_type
    """,
    tags=("timeseries", "stats", "changepoint"),
)
def changepoint_sse_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact single-changepoint detection per event_type — the first
    step of binary segmentation: over the daily count series, find
    the split k minimizing SSE_left + SSE_right, equivalently
    maximizing the between-segment gain
    sl²/k + (s−sl)²/(n−k) − s²/n (all sums exact integers, so the
    float divisions have identical operands in both engines; gain is
    6dp-rounded before the argmax so ties break on the earlier day
    deterministically). Reported: the first day of the right segment,
    segment means (milli), and the SSE reduction (micro).

    Scale shape: raw events collapse to the (type, day) grain first
    (map-side-combined agg); every window after that runs over the
    day-grain series — bounded by the calendar horizon per type,
    never by event volume — and is PARTITIONED BY event_type (no
    global window). One shuffle on event_type.
    """
    # NULL event-times are on no day (r9 null sweep: the NULL day
    # group shifted every cumulative prefix sl)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        F.row_number().over(wo).alias("k"),
        F.sum("y")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sl"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("y").over(wall).alias("s"),
    )
    sl, s = F.col("sl").cast("double"), F.col("s").cast("double")
    k, n = F.col("k"), F.col("n")
    gain = F.round(
        sl * F.col("sl") / k
        + (s - sl) * (F.col("s") - F.col("sl")) / (n - k)
        - s * F.col("s") / n,
        6,
    )
    gains = pre.where(k < n).withColumn("gain", gain)
    best = gains.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("gain").desc(), "day"
            )
        ),
    ).where(F.col("rk") == 1)
    return best.select(
        "event_type",
        F.date_format(F.date_add("day", 1), "yyyy-MM-dd").alias(
            "split_date"
        ),
        F.col("n").cast("long").alias("n_days"),
        F.round(1000.0 * F.col("sl") / k).cast("long").alias(
            "mean_left_milli"
        ),
        F.round(1000.0 * (F.col("s") - F.col("sl")) / (n - k))
        .cast("long")
        .alias("mean_right_milli"),
        F.round(1000000.0 * F.col("gain")).cast("long").alias("gain_micro"),
    )


# --------------------------------------------------------------------
# Cohort LTV curve (cumulative revenue per signup cohort by age).
# --------------------------------------------------------------------
@register(
    "cohort_ltv_curve",
    """
    WITH s AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS s_day FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), cohorts AS (
      SELECT user_id, s_day,
             CAST(date_trunc('week', s_day) AS DATE) AS cohort
      FROM s
    ), csize AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM cohorts GROUP BY cohort
    ), rev AS (
      SELECT c.cohort,
             date_diff('day', c.s_day, CAST(e.ts AS DATE)) AS age_day,
             CAST(SUM(CAST(round(e.value*100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM events e JOIN cohorts c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= c.s_day
      GROUP BY c.cohort, age_day
    )
    SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort,
           CAST(r.age_day AS BIGINT) AS age_day,
           cs.n_users,
           CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort
                ORDER BY r.age_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_rev_cents,
           CAST((SUM(r.rev_cents) OVER (PARTITION BY r.cohort
                 ORDER BY r.age_day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                // cs.n_users AS BIGINT) AS ltv_per_user_cents
    FROM rev r JOIN csize cs ON cs.cohort = r.cohort
    ORDER BY cohort, age_day
    """,
    tags=("analytics", "cohort", "timeseries"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: users grouped by signup WEEK, purchase
    revenue accumulated by days-since-signup — the cumulative
    lifetime-value ribbon (one curve per cohort) that retention
    economics reads slope and plateau from. Exact integer cents;
    per-user LTV uses integer division (identical both engines).

    Scale shape: per-user signup reduction, one keyed join to
    purchases, then a (cohort, age_day)-grain aggregate — the
    windows run over that grain, bounded by #cohorts × horizon days,
    never event volume. One shuffle on user_id, one on cohort.
    """
    e = t(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("s_day"))
        .withColumn(
            "cohort", F.date_trunc("week", "s_day").cast("date")
        )
    )
    csize = s.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    rev = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts").cast("date") >= F.col("s_day"))
        .groupBy(
            "cohort",
            F.datediff(F.col("ts").cast("date"), F.col("s_day"))
            .cast("long")
            .alias("age_day"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("rev_cents").over(w)
    return (
        rev.join(F.broadcast(csize), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "age_day",
            "n_users",
            cum.cast("long").alias("cum_rev_cents"),
            F.expr(
                "CAST(SUM(rev_cents) OVER (PARTITION BY cohort"
                " ORDER BY age_day ROWS BETWEEN UNBOUNDED PRECEDING"
                " AND CURRENT ROW) div n_users AS BIGINT)"
            ).alias("ltv_per_user_cents"),
        )
    )


@register(
    "attribution_position_based",
    f"""
    {_SQL_PURCH_TOUCH}, j AS (
      SELECT p.p_id, p.cents, t.channel,
             COUNT(*) OVER (PARTITION BY p.p_id) AS n,
             ROW_NUMBER() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_ts ASC, t.t_id ASC) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_ts DESC, t.t_id DESC) AS rn_d
      FROM purch p
      JOIN touch t
        ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
    ), c AS (
      -- HUGEINT products (cents*1e6 overflows int64 for large money);
      -- the conserved total surfaces as DOUBLE (r10 extreme axis)
      SELECT channel,
             CASE WHEN n = 1 THEN CAST(cents AS HUGEINT) * 1000000
                  WHEN n = 2 THEN CAST(cents AS HUGEINT) * 1000000 // 2
                       + CASE WHEN rn_d = 1
                              THEN CAST(cents AS HUGEINT) * 1000000 % 2
                              ELSE 0 END
                  WHEN rn_a = 1 THEN CAST(cents AS HUGEINT) * 400000
                  WHEN rn_d = 1 THEN CAST(cents AS HUGEINT) * 400000
                  ELSE CAST(cents AS HUGEINT) * 200000 // (n - 2)
                       + CASE WHEN rn_a = 2
                              THEN CAST(cents AS HUGEINT) * 200000 % (n - 2)
                              ELSE 0 END
             END AS credit
      FROM j
    )
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(CAST(SUM(credit) AS VARCHAR) AS DOUBLE) AS credit_micro_cents
    FROM c GROUP BY channel ORDER BY channel
    """,
    tags=("sequence", "analytics", "attribution"),
)
def attribution_position_based(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each
    purchase credits 40% of its value to the FIRST touch in the
    7-day lookback, 40% to the LAST, and splits the middle 20%
    equally across interior touches (1 touch → 100%, 2 touches →
    50/50). Credit is exact integer micro-cents; both division
    remainders are assigned deterministically (50/50 remainder to
    the last touch, interior remainder to the earliest interior
    touch), so total credit conserves purchase value bit-for-bit —
    the same conservation contract as the linear and last-touch
    family members.

    Scale shape: identical to attribution_multi_touch_linear — one
    user-partitioned time-range join (never cross-user), two windows
    partitioned by purchase id, one small channel agg. No global
    sorts; at 100 TB the purchase-id windows stay bounded by a
    user's 7-day touch count.
    """
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
    wa = Window.partitionBy("p_id").orderBy(F.asc("t_ts"), F.asc("t_id"))
    wd = Window.partitionBy("p_id").orderBy(F.desc("t_ts"), F.desc("t_id"))
    marked = j.select(
        "cents",
        "channel",
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    # exact micro-cent credit WITHOUT an int64 product: divide cents
    # first in BIGINT (quotient/remainder against the small divisor),
    # lift the big multiply into DECIMAL(38,0) — identity
    # (c*W) div m = (c div m)*W + ((c % m)*W) div m, remainders tiny.
    dec = "decimal(38,0)"

    def split(weight: int, divisor):
        q = F.expr(f"cents div ({divisor})").cast(dec) * weight
        return q + F.expr(
            f"((cents % ({divisor})) * {weight}) div ({divisor})"
        )

    def split_rem(weight: int, divisor):
        return F.expr(f"((cents % ({divisor})) * {weight}) % ({divisor})")

    cents_dec = F.col("cents").cast(dec)
    credit = (
        F.when(F.col("n") == 1, cents_dec * 1000000)
        .when(
            F.col("n") == 2,
            split(1000000, "2")
            + F.when(F.col("rn_d") == 1, split_rem(1000000, "2")).otherwise(
                0
            ),
        )
        .when(F.col("rn_a") == 1, cents_dec * 400000)
        .when(F.col("rn_d") == 1, cents_dec * 400000)
        .otherwise(
            split(200000, "n - 2")
            + F.when(
                F.col("rn_a") == 2, split_rem(200000, "n - 2")
            ).otherwise(0)
        )
    )
    return (
        marked.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credits"),
            # conserved total can exceed int64 → DOUBLE (r10 extreme)
            F.sum("credit").cast("double").alias("credit_micro_cents"),
        )
    )


# ------------------------------------------------------------------
# Holt linear trend smoothing as an array fold (alpha = beta = 0.5).
# ------------------------------------------------------------------


@register(
    "holt_linear_by_type",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               AS v
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
        AND value IS NOT NULL
      GROUP BY 1, 2
    ), ser AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day) AS i
      FROM daily
    ), nn AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM ser GROUP BY event_type
    ), walk(event_type, i, l, b) AS (
      SELECT event_type, i, v, CAST(0.0 AS DOUBLE)
      FROM ser WHERE i = 1
      UNION ALL
      SELECT s.event_type, s.i,
             0.5 * s.v + 0.5 * (w.l + w.b),
             0.5 * ((0.5 * s.v + 0.5 * (w.l + w.b)) - w.l)
               + 0.5 * w.b
      FROM walk w JOIN ser s
        ON s.event_type = w.event_type AND s.i = w.i + 1
    )
    SELECT w.event_type, nn.n_days,
           CAST(round(1000.0 * w.l) AS BIGINT) AS level_milli,
           CAST(round(1000.0 * w.b) AS BIGINT) AS trend_milli,
           CAST(round(1000.0 * (w.l + 7 * w.b)) AS BIGINT)
             AS forecast7_milli
    FROM walk w JOIN nn ON nn.event_type = w.event_type
    WHERE w.i = nn.n_days
    ORDER BY w.event_type
    """,
    tags=("timeseries", "smoothing", "fold"),
    # bounded by the event-type domain
    sort="tiny_sorted",
)
def holt_linear_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear trend method (Holt 1957; alpha = beta = 1/2,
    init l1 = y1, b1 = 0) over each event type's daily value series:
    l_t = a·y_t + (1-a)(l+b), b_t = B(l_t - l) + (1-B)b — the 2-state
    recurrence behind short-horizon operational forecasts, reported
    with its 7-day-ahead projection l+7b. The recurrence is
    inherently sequential IN t, so it runs as an `aggregate()` fold
    over the per-key series array: both engines execute the
    identical left-to-right double chain (init = first element,
    fold over the rest), keeping bit parity without quantizing the
    state.

    Scale shape: the fold input is the DAY-GRAIN series — bounded by
    the calendar horizon, never by row count — collected per key
    after one map-side-combined daily agg (the KM/EWMA discipline).
    The fold itself is whole-stage-codegen JVM work, parallel across
    keys, no Python, no driver loop, no window-into-one-partition.
    """
    # a NULL event_type is no series and a NULL ts is on no day (the
    # oracle's recursive equi-join walks only non-NULL series anyway;
    # r9 null sweep: Spark's groupBy emitted a 6th NULL-type row)
    # ...and the recurrence runs over OBSERVED values only: an
    # all-NULL series left Spark's fold half-alive (init b=0.0
    # survived the NULL chain) while the oracle's recursion nulled
    # out — no value, no series point (r9 null-measures sweep)
    e = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("double").alias("v"))
    ser = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "v"))),
            lambda s: s["v"],
        ).alias("ys"),
    )
    arr = F.col("ys")
    init = F.struct(
        F.element_at(arr, 1).alias("l"), F.lit(0.0).alias("b")
    )
    rest = F.slice(
        arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))
    )

    def step(acc, y):
        l_new = 0.5 * y + 0.5 * (acc["l"] + acc["b"])
        b_new = 0.5 * (l_new - acc["l"]) + 0.5 * acc["b"]
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    fit = ser.select(
        "event_type",
        "n_days",
        F.aggregate(rest, init, step).alias("s"),
    )
    return fit.select(
        "event_type",
        "n_days",
        F.round(1000.0 * F.col("s.l")).cast("long").alias("level_milli"),
        F.round(1000.0 * F.col("s.b")).cast("long").alias("trend_milli"),
        F.round(1000.0 * (F.col("s.l") + 7 * F.col("s.b")))
        .cast("long")
        .alias("forecast7_milli"),
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


# --------------------------------------------------------------------
# Gaps-and-islands: per-user runs of consecutive active days.
# --------------------------------------------------------------------
@register(
    "gaps_islands_user_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), r AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      FROM d
    )
    SELECT user_id,
           strftime(MIN(day), '%Y-%m-%d') AS island_start,
           strftime(MAX(day), '%Y-%m-%d') AS island_end,
           COUNT(*) AS n_days
    FROM r GROUP BY user_id, anchor
    ORDER BY user_id, island_start
    """,
    tags=("window", "islands", "timeseries"),
)
def gaps_islands_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active days per
    user via the row_number-difference trick (consecutive days share
    ``day - row_number()`` as an island anchor).

    Scale shape: one shuffle on user_id for the distinct + window +
    groupBy (all three co-partitioned on the same key, so Catalyst
    reuses a single exchange); no self-join, no global window. At
    100 TB this is the canonical formulation — the alternative
    lag()-based island open/close needs the same single shuffle.
    """
    d = (
        t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = d.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return (
        anchored.groupBy("user_id", "anchor")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("island_end"),
            F.count("*").alias("n_days"),
        )
        .select("user_id", "island_start", "island_end", "n_days")
    )


# --------------------------------------------------------------------
# Linear interpolation over a daily date spine (gap fill).
# --------------------------------------------------------------------
@register(
    "interp_linear_gapfill",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, MIN(day) AS mind, MAX(day) AS maxd
      FROM daily GROUP BY event_type
    ), spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(mind, maxd, INTERVAL 1 DAY))
                  AS DATE) AS day
      FROM bounds
    ), joined AS (
      SELECT s.event_type, s.day, d.v FROM spine s
      LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
    ), ctx AS (
      SELECT event_type, day, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CASE
             WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
             WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
             WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
             ELSE CAST(pv * DATE_DIFF('day', day, nd)
                       + nv * DATE_DIFF('day', pd, day) AS DOUBLE)
                  / DATE_DIFF('day', pd, nd)
           END AS v_cents,
           (v IS NULL) AS interpolated
    FROM ctx
    ORDER BY event_type, day
    """,
    tags=("timeseries", "gapfill", "interpolation"),
)
def interp_linear_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily value series per event type with missing days LINEARLY
    interpolated between the nearest observed neighbors (edges take
    the nearest value). Extends ``gapfill_daily_event_counts`` (which
    forward-fills) with true interpolation.

    Exactness across engines: the interpolation numerator/denominator
    stay in BIGINT day-weighted cents; a single final IEEE division
    produces the double, so Spark and DuckDB agree bit-for-bit.

    Scale shape: spine generation explodes bounded per-type sequences
    (no driver loop); the prev/next context comes from 4 ignorenulls
    window navigations over one (event_type)-partitioned sort — a
    single shuffle end-to-end.
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).alias("v"))
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mind", "maxd", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    w_back = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward navigation as a REVERSED-sort running frame:
    # first(x) over [CURRENT ROW, UNBOUNDED FOLLOWING] ascending is
    # semantically last(x) over [UNBOUNDED PRECEDING, CURRENT ROW]
    # descending — but Spark's UnboundedFollowing frame re-scans from
    # the current row to the partition end for EVERY row, O(n²) per
    # partition (the extreme-date fixture's 350-year spine made a
    # 128k-row partition hang for hours; r10 sweep). The reversed
    # running frame is O(n) and exact.
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    ctx = joined.select(
        "event_type",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_back).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(w_back).alias("pd"),
        F.last("v", ignorenulls=True).over(w_fwd).alias("nv"),
        F.last(obs_day, ignorenulls=True).over(w_fwd).alias("nd"),
    )
    interp = (
        F.col("pv") * F.datediff("nd", "day")
        + F.col("nv") * F.datediff("day", "pd")
    ).cast("double") / F.datediff("nd", "pd")
    return ctx.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
        .when(F.col("pv").isNull(), F.col("nv").cast("double"))
        .when(F.col("nv").isNull(), F.col("pv").cast("double"))
        .otherwise(interp)
        .alias("v_cents"),
        F.col("v").isNull().alias("interpolated"),
    )


# --------------------------------------------------------------------
# CUSUM drift: rank each type's days by cumulative deviation mass.
# --------------------------------------------------------------------
@register(
    "cusum_top_deviations",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ), cu AS (
      SELECT d.event_type, d.day,
             CAST(SUM(n * v - s) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cusum
      FROM daily d JOIN tot USING (event_type)
    ), rk AS (
      SELECT event_type, day, cusum,
             CAST(row_number() OVER (
               PARTITION BY event_type
               ORDER BY abs(cusum) DESC, day) AS BIGINT) AS rk
      FROM cu
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cusum, rk
    FROM rk WHERE rk <= 3
    ORDER BY event_type, rk
    """,
    tags=("timeseries", "anomaly", "cusum"),
)
def cusum_top_deviations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point candidates: per event type, the 3 days where
    the running sum of deviations from the type mean peaks in
    magnitude (classic CUSUM drift statistic). Deviations are scaled
    by the day count (``n·v − S``) so everything stays in exact
    BIGINT — no mean, no floats, no cross-engine rounding skew.

    Scale shape: daily rollup shuffles on (type, day); the mean terms
    come from a tiny per-type aggregate broadcast back; the running
    sum and ranking are (event_type)-partitioned windows — one real
    shuffle over daily rows, which are already ~5 orders of magnitude
    smaller than the event scan at any SF.
    """
    # NULL event-times are on no day (r9 null sweep: NULL day group
    # sits at opposite cumulative-window ends across engines)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).alias("v"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cu = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            F.sum(F.col("n") * F.col("v") - F.col("s"))
            .over(w_run)
            .alias("cusum"),
        )
    )
    w_rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "day"
    )
    return (
        cu.withColumn("rk", F.row_number().over(w_rk).cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cusum",
            "rk",
        )
    )


# --------------------------------------------------------------------
# Autocorrelation function (lag 1..7) of daily series.
# --------------------------------------------------------------------
@register(
    "acf_daily_lags",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type, k.k, a.cents AS x, b.cents AS y
      FROM daily a
      CROSS JOIN (SELECT unnest(range(1, 8)) AS k) k
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + CAST(k.k AS INTEGER)
    ), mom AS (
      -- HUGEINT products+sums (mirror Spark's DECIMAL(38,0)): a
      -- daily-cents square passes int64 at scale
      SELECT event_type, k, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pairs GROUP BY event_type, k
    )
    SELECT event_type, CAST(k AS BIGINT) AS lag_days, n,
           CAST(round(1000.0 * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                     * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)))
                AS BIGINT) AS acf_milli
    FROM mom
    ORDER BY event_type, lag_days
    """,
    tags=("timeseries", "stats", "acf"),
)
def acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each type's daily-total series at lags 1–7:
    Pearson r between the series and its k-day-shifted self — the
    first diagnostic of any time series (lag-1 ≫ 0: momentum; a lag-7
    peak: weekly seasonality worth a seasonal model). Co-moments
    (n, Σx, Σy, Σxy, Σx², Σy²) stay exact integers; r is one derived
    double, milli-rounded op-for-op with the oracle.

    Scale: the series is first reduced to daily grain (map-side
    combined), then the 7 lagged pairings come from ONE window pass
    (7 ``lead`` offsets over the type-partitioned day-ordered grain,
    unpivoted) — no self-join, no persisted intermediate, #days×7
    rows per type, time-horizon-bounded. A row-offset lead is k ROWS
    ahead, not k DAYS, so each offset's pair keeps the ACTUAL day
    distance and the filter keeps distances 1..7: on a gappy calendar
    the day+k partner (if present) sits at some row offset j ≤ k, so
    scanning all 7 offsets reproduces the lag-join pairing exactly.
    """
    # a NULL event_type is no series (the oracle's equi self-join
    # never matches NULL=NULL, while partitionBy would happily group
    # it — r9 null sweep: 7 phantom lag rows) and a NULL ts is on no
    # day; declared on both sides
    e = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    leads = F.array(
        *[
            F.struct(
                F.datediff(F.lead("day", j).over(w), F.col("day")).alias(
                    "k"
                ),
                F.lead("cents", j).over(w).alias("y"),
            )
            for j in range(1, 8)
        ]
    )
    pairs = (
        # window exprs first, generator second (Spark forbids a
        # window function inside a generator projection)
        daily.select(
            "event_type", F.col("cents").alias("x"), leads.alias("ls")
        )
        .select("event_type", "x", F.explode("ls").alias("p"))
        .select(
            "event_type", F.col("p.k").alias("k"), "x", F.col("p.y").alias("y")
        )
        .where(F.col("k").between(1, 7))
    )
    # co-moment products in DECIMAL(38,0): a daily-cents total can
    # pass ~3e9 at scale, where its square overflows the int64 the
    # per-row multiply would otherwise use
    dec = "decimal(38,0)"
    mom = pairs.groupBy("event_type", "k").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    )
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
        * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
    )
    return mom.select(
        "event_type",
        F.col("k").cast("long").alias("lag_days"),
        "n",
        # try_divide: a single-pair lag (n=1) or a constant series has
        # zero variance → den 0; the oracle's x/0 is NULL, ANSI's is
        # an error (found by the ultra-sparse sweep)
        F.round(F.try_divide(1000.0 * num, den)).cast("long").alias(
            "acf_milli"
        ),
    )


# --------------------------------------------------------------------
# Session behavior patterns (event-sequence n-grams per session).
# --------------------------------------------------------------------
@register(
    "session_pattern_top20",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ep, ts, event_type
      FROM events
      WHERE ts IS NOT NULL
    ), l AS (
      SELECT *, lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS prev
      FROM e
    ), f AS (
      SELECT *, CASE WHEN prev IS NULL OR ep - prev > 1800000000
                     THEN 1 ELSE 0 END AS new_s
      FROM l
    ), s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    ), pat AS (
      -- COALESCE: a session whose every event is untyped aggregates
      -- NULL in string_agg but '' in Spark's array_join — declare
      -- the empty pattern (r9 null sweep)
      SELECT user_id, sid,
             COALESCE(string_agg(upper(substring(event_type, 1, 1)), ''
                        ORDER BY ts, event_id), '') AS pattern
      FROM s GROUP BY user_id, sid
    )
    SELECT pattern, COUNT(*) AS n_sessions,
           COUNT(DISTINCT user_id) AS n_users
    FROM pat
    GROUP BY pattern
    ORDER BY n_sessions DESC, pattern
    LIMIT 20
    """,
    tags=("session", "sequence", "llm"),
)
def session_pattern_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral session patterns: each 30-min session becomes an
    ordered string of event-type initials (VCP… = view,click,purchase)
    and the corpus's 20 most common patterns are reported — the
    log-to-training-sequence transform behind behavior-cloning /
    recommendation datasets. Sessionization and the ordered
    string_agg reuse ONE user_id shuffle; the pattern count is a
    second small agg."""
    # NULL event-times are off the session axis (same declared
    # semantics as sessionize_events; r9 null sweep)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = (
        e.select("user_id", "event_id", "ts", "event_type",
                 F.unix_micros("ts").alias("ep"))
        .withColumn("prev", F.lag("ep").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.col("ep") - F.col("prev") > 1_800_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(wrun))
    )
    pat = s.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda st: F.upper(F.substring(st["event_type"], 1, 1)),
            ),
            "",
        ).alias("pattern")
    )
    return (
        pat.groupBy("pattern")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "pattern")
        .limit(20)
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
