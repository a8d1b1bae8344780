"""Analytics batch 4: interval-union coverage, temperature-scaled
mixture weights, and a seasonal-naive forecast backtest.

Interval union is the sweep-line sibling of gaps-and-islands (merge
overlapping activity intervals per key, measure covered time);
temperature scaling is the standard multilingual rebalancing rule
(sample language l with probability ∝ n_l^α, α<1 upweights the
tail); the backtest is the simplest honest forecast evaluation —
predict each held-out day with its weekday's training mean and
account the error exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


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
# Temperature-scaled mixture weights (multilingual alpha-sampling).
# --------------------------------------------------------------------
@register(
    "temperature_mixture_weights",
    """
    WITH m AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
             SUM(sqrt(CAST(n_docs AS DOUBLE))) AS z
      FROM m
    )
    SELECT lang, n_docs,
           CAST(round(1e6 * CAST(n_docs AS DOUBLE) / total) AS BIGINT)
             AS p_micro,
           CAST(round(1e6 * sqrt(CAST(n_docs AS DOUBLE)) / z) AS BIGINT)
             AS w_micro,
           CAST(round(1000.0 * (sqrt(CAST(n_docs AS DOUBLE)) / z)
                      / (CAST(n_docs AS DOUBLE) / total)) AS BIGINT)
             AS boost_milli
    FROM m CROSS JOIN tot
    ORDER BY lang
    """,
    tags=("curation", "sampling", "llm"),
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language: w_l ∝
    n_l^α with α = 0.5 — the standard multilingual rebalancing
    (mBERT/XLM-R exponential smoothing; T5's mixing rate) that
    upweights tail languages without flattening the mixture. Reports
    each language's natural share (p), its temperature-scaled weight
    (w), and the boost factor w/p — >1 means the temperature feeds
    that language more than its natural share.

    Scale: one map-side-combined count to #langs rows; the
    normalizer is a 1-row aggregate broadcast back over the tiny
    summary (BNLJ on a 1-row side — a filter, not a join explosion).
    Row count never touches the math after the first agg.
    """
    m = t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").alias("n_docs")
    )
    tot = m.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("z"),
    )
    j = m.crossJoin(F.broadcast(tot))
    nd = F.col("n_docs").cast("double")
    return j.select(
        "lang",
        "n_docs",
        F.round(1e6 * nd / F.col("total")).cast("long").alias("p_micro"),
        F.round(1e6 * F.sqrt(nd) / F.col("z")).cast("long").alias("w_micro"),
        F.round(
            1000.0 * (F.sqrt(nd) / F.col("z")) / (nd / F.col("total"))
        )
        .cast("long")
        .alias("boost_milli"),
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
