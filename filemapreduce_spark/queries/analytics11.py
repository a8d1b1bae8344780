"""Round-5 analytics batch 7: bounded linear recurrences as array
folds, inequality measurement, and nonparametric trend testing.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Holt's linear trend smoothing (Holt 1957): the level+trend double
  exponential smoother — a 2-state linear recurrence that no window
  frame can express. Here the per-key daily series is CALENDAR-
  BOUNDED, so the recurrence runs as an in-codegen `aggregate()`
  fold over the collected series array: sequential in t (as the
  math demands), parallel across keys, zero Python.
- Theil T inequality index (Theil 1967): the entropy-based
  concentration measure whose per-row terms are quantized to exact
  integer micro-nats BEFORE accumulation (float Σ x·ln x is
  partition-order-dependent; the quantize-then-accumulate discipline
  is the registry's standard for order-independent log sums).
- Mann-Kendall trend test (Mann 1945; Kendall 1975): the
  nonparametric "is there a monotone trend" companion of the
  registry's Theil-Sen slope row — exact integer S and tie-corrected
  variance over the day-grain summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

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


# ------------------------------------------------------------------
# Theil T inequality index per nation (quantized log terms).
# ------------------------------------------------------------------
@register(
    "theil_index_by_nation",
    """
    WITH ov AS (
      -- Theil is defined over POSITIVE values (x/mu * ln(x/mu)):
      -- non-positive orders are off-domain on both engines (Spark's
      -- ln(neg) is NULL, DuckDB's raises; r10 extreme axis). The
      -- gate is on the ROUNDED cents the statistic actually uses —
      -- a sub-cent price in (0, 0.005) passes a raw >0 filter but
      -- rounds to x=0, hitting ln(0) (r10 ADVICE)
      SELECT c.c_nationkey AS nk,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) > 0
    ), g AS (
      SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s
      FROM ov GROUP BY nk
    ), terms AS (
      SELECT ov.nk, g.n, g.s,
             -- VARCHAR->DOUBLE: DuckDB's HUGEINT->DOUBLE truncates
             CAST(round(1000000.0
               * (ov.x * CAST(g.n AS DOUBLE) / CAST(CAST(g.s AS VARCHAR) AS DOUBLE))
               * ln(ov.x * CAST(g.n AS DOUBLE) / CAST(CAST(g.s AS VARCHAR) AS DOUBLE)))
               AS BIGINT) AS t_micro
      FROM ov JOIN g ON g.nk = ov.nk
    )
    SELECT nk AS nationkey, CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(round(1000.0 * CAST(CAST(MAX(s) AS VARCHAR) AS DOUBLE) / MAX(n))
                AS BIGINT) AS mean_milli,
           CAST(round(CAST(CAST(SUM(CAST(t_micro AS HUGEINT)) AS VARCHAR) AS DOUBLE)
                      / MAX(n)) AS BIGINT) AS theil_micro
    FROM terms GROUP BY nk ORDER BY nk
    """,
    tags=("stats", "inequality"),
    order=("nationkey",),
)
def theil_index_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index (Theil 1967) of order values within
    each nation: T = (1/n)·Σ (x/μ)·ln(x/μ) — 0 under perfect
    equality, ln(n) under total concentration; the decomposable
    entropy measure used where the registry's Gini row is not
    additive across subgroups. Each row's term is quantized to
    integer MICRO-nats before summation (the order-independent
    discipline the float Σ x·lnx would violate), then the exact
    integer sum is integer-divided by n — both engines compute
    identical row-local doubles of exact integers, then exact
    integer aggregation.

    Scale shape: one orders⨝customer equi-join, one
    map-side-combined groupBy(nation) for the (n, Σx) stats, the
    ~25-row stats joined back onto the rows (Catalyst broadcasts the
    bounded side), then one final nation agg. Two data passes, no
    window, no collect.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    # positive ROUNDED cents only — Theil's domain gated on the same
    # quantized value the statistic uses (see oracle note)
    ov = o.where(cents("o_totalprice") > 0).join(
        c.select("c_custkey", "c_nationkey"),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nk"),
        cents("o_totalprice").alias("x"),
    )
    g = ov.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
    )
    ratio = (
        F.col("x")
        * F.col("n").cast("double")
        / F.col("s").cast("double")
    )
    terms = ov.join(g, "nk").select(
        "nk",
        "n",
        "s",
        F.round(1000000.0 * ratio * F.log(ratio))
        .cast("long")
        .alias("t_micro"),
    )
    return (
        terms.groupBy("nk")
        .agg(
            F.max("n").alias("n_orders"),
            F.round(
                1000.0
                * F.max("s").cast("double")
                / F.max("n").cast("double")
            )
            .cast("long")
            .alias("mean_milli"),
            F.round(
                F.sum(F.col("t_micro").cast("decimal(38,0)"))
                .cast("double")
                / F.max("n")
            )
            .cast("long")
            .alias("theil_micro"),
        )
        .select(
            F.col("nk").alias("nationkey"),
            "n_orders",
            "mean_milli",
            "theil_micro",
        )
    )


# ------------------------------------------------------------------
# Mann-Kendall monotone-trend test per event type.
# ------------------------------------------------------------------
@register(
    "mann_kendall_trend",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type,
             CASE WHEN b.v > a.v THEN 1
                  WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day > a.day
    ), s AS (
      SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat
      FROM pairs GROUP BY event_type
    ), ties AS (
      SELECT event_type,
             CAST(SUM(CAST(tn AS HUGEINT) * (tn - 1) * (2 * tn + 5))
                  AS BIGINT) AS tie_term
      FROM (
        SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS tn
        FROM daily GROUP BY event_type, v
      ) GROUP BY event_type
    ), nn AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    )
    SELECT nn.event_type, nn.n_days, s.s_stat,
           CAST(CAST(nn.n_days AS HUGEINT) * (nn.n_days - 1)
                * (2 * nn.n_days + 5) - ties.tie_term AS BIGINT)
             AS var18,
           CAST(round(1000000.0
             * (s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                WHEN s.s_stat < 0 THEN -1
                                ELSE 0 END)
             / sqrt((CAST(nn.n_days AS DOUBLE) * (nn.n_days - 1)
                     * (2 * nn.n_days + 5) - ties.tie_term) / 18.0))
             AS BIGINT) AS z_micro
    FROM nn
    JOIN s ON s.event_type = nn.event_type
    JOIN ties ON ties.event_type = nn.event_type
    WHERE nn.n_days >= 2
    ORDER BY nn.event_type
    """,
    tags=("stats", "timeseries", "test"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test (Mann 1945; Kendall 1975)
    over each event type's daily value series: S = Σ_{i<j}
    sign(v_j − v_i) with the tie-corrected variance 18·Var(S) =
    n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), and the continuity-corrected
    z = (S − sign(S))/√Var — the significance companion of the
    registry's Theil-Sen robust-slope estimator (Sen uses the same
    pairs to SIZE the trend; MK tests whether it exists). S, the
    variance numerator, and the tie term are exact integers
    (HUGEINT/DECIMAL-wide so n³-scale products cannot wrap); z is
    one row-local double chain.

    Scale shape: everything runs on the DAY-GRAIN summary — the
    pairwise self-join is bounded by the calendar horizon squared
    per type, never by event count (the Theil-Sen/Kruskal
    discipline); the raw table is touched once by the daily agg.
    """
    e = t(spark, sf_dir, "events")
    # persisted: the calendar-bounded daily series feeds FOUR plan
    # branches (both sides of the pairwise sign join, the tie
    # counts, and n per type) — without the cache each branch
    # re-ran the events scan + day-grain agg (static audit: 4 scans
    # -> 1); the cache is one row per (type, day), horizon-bounded
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents("value")).alias("v"))
        .persist()
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.v") > F.col("a.v"), 1)
        .when(F.col("b.v") < F.col("a.v"), -1)
        .otherwise(0)
    )
    s = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.day") > F.col("a.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    tn = F.col("tn").cast("decimal(38,0)")
    ties = (
        daily.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("tn"))
        .groupBy("event_type")
        .agg(
            F.sum(tn * (F.col("tn") - 1) * (2 * F.col("tn") + 5))
            .cast("long")
            .alias("tie_term")
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    nd = F.col("n_days").cast("decimal(38,0)")
    var18 = (
        nd * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    ).cast("long")
    cc = (
        F.when(F.col("s_stat") > 0, 1)
        .when(F.col("s_stat") < 0, -1)
        .otherwise(0)
    )
    # try_divide: a fully-tied series (e.g. every daily value NULL or
    # constant) has zero variance — the oracle's x/0 is NULL where
    # ANSI raises DIVIDE_BY_ZERO (r9 null-measures sweep)
    z = F.try_divide(
        1000000.0 * (F.col("s_stat") - cc),
        F.sqrt(
            (
                F.col("n_days").cast("double")
                * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            )
            / 18.0
        ),
    )
    return (
        nn.join(s, "event_type")
        .join(ties, "event_type")
        .filter(F.col("n_days") >= 2)
        .select(
            "event_type",
            "n_days",
            "s_stat",
            var18.alias("var18"),
            F.round(z).cast("long").alias("z_micro"),
        )
    )
