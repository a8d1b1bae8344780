"""Survival analysis and model-calibration operators.

Kaplan–Meier is the standard time-to-event estimator under right
censoring (here: signup → first purchase, censored at the data
horizon) — the curve every activation/retention analysis actually
needs once "hasn't converted YET" must not be counted as "never
converted". The calibration curve is the binned positive-rate
diagnostic that tells you whether a score's magnitude (not just its
ranking) is trustworthy.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.operators.survival import HORIZON
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# Per-user (user_id, t_days, event) subject table — the shared base of
# the whole signup→first-purchase survival family (Kaplan–Meier,
# log-rank, RMST). Built and persisted ONCE per (session, sf_dir):
# before this cut each query re-derived the signup reduction up to
# three times inside its own plan (the static audit showed 8 parquet
# scans on rmst alone), and each family member repeated the corpus
# pass — at 100 TB that is the dominant cost, not the day-grain math.
# value = (subjects, signup_base): the intermediate signup table is
# persisted too (it feeds both the purchase probe and the outer join
# during the single build pass) and must be evicted WITH the subject
# table — tracking only `subjects` left `s`'s blocks pinned for the
# whole session (round-7 advice item 1).
_SUBJECTS_CACHE: dict[tuple[int, str], tuple[DataFrame, DataFrame]] = {}
_SUBJECTS_LOCK = threading.Lock()


def _signup_purchase_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    # serialized: concurrent harnesses (bench's 8-thread suite, any
    # multi-threaded caller) could otherwise race the eviction loop
    # against an insert (RuntimeError) or double-build-and-persist the
    # same base, leaking the loser's cached blocks
    with _SUBJECTS_LOCK:
        return _signup_purchase_subjects_locked(spark, sf_dir)


def _signup_purchase_subjects_locked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    key = (id(spark), sf_dir)
    cached = _SUBJECTS_CACHE.get(key)
    # storageLevel guard: harnesses call spark.catalog.clearCache()
    # between queries, which unpersists the blocks but leaves this
    # dict entry pointing at a never-re-persisted DataFrame — without
    # the check the "one corpus pass" cut would silently stop caching
    # after the first survival query under those protocols. A cleared
    # entry falls through to a fresh build (fresh persist markers).
    # NOTE: df.is_cached is STALE after clearCache (it reads the
    # analyzed plan's flag, not the CacheManager — measured round 7);
    # storageLevel re-consults the CacheManager and drops to NONE.
    def _live(df: DataFrame) -> bool:
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    if (
        cached is not None
        and cached[0].sparkSession is spark
        and _live(cached[0])
    ):
        return cached[0]
    # Evict dead-session entries, the stale entry for this key, AND
    # same-session entries for OTHER sf_dirs: a long session sweeping
    # many fixture dirs would otherwise pin one subject table (plus
    # its signup base) per dir (round-7 advice item 2 — cap the cache
    # at one entry per live session).
    for k in [
        k
        for k, v in _SUBJECTS_CACHE.items()
        if v[0].sparkSession is not spark or k[0] == id(spark)
    ]:
        for df in _SUBJECTS_CACHE[k]:
            try:  # release blocks before dropping the last reference —
                # del alone would orphan persisted partitions in the
                # executors with no handle left to unpersist them
                df.unpersist()
            except Exception:
                pass  # dead session: blocks are already gone
        del _SUBJECTS_CACHE[k]
    e = t(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .persist()  # feeds both the purchase probe and the outer join
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    horizon = F.lit(HORIZON).cast("date")
    subjects = (
        s.join(p, "user_id", "left")
        .select(
            "user_id",
            F.when(
                F.col("p_ts").isNotNull(),
                F.datediff(
                    F.col("p_ts").cast("date"), F.col("s_ts").cast("date")
                ),
            )
            .otherwise(F.datediff(horizon, F.col("s_ts").cast("date")))
            .cast("long")
            .alias("t_days"),
            F.when(F.col("p_ts").isNotNull(), 1)
            .otherwise(0)
            .alias("event"),
        )
        .persist()
    )
    _SUBJECTS_CACHE[key] = (subjects, s)
    return subjects


# --------------------------------------------------------------------
# Kaplan–Meier time-to-event curve (signup → purchase, censored).
# --------------------------------------------------------------------
@register(
    "kaplan_meier_signup_purchase",
    f"""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
      GROUP BY e.user_id
    ), subjects AS (
      SELECT s.user_id,
             CASE WHEN p.p_ts IS NOT NULL
                  THEN date_diff('day', CAST(s.s_ts AS DATE),
                                 CAST(p.p_ts AS DATE))
                  ELSE date_diff('day', CAST(s.s_ts AS DATE),
                                 DATE '{HORIZON}')
             END AS t_days,
             CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM s LEFT JOIN p ON p.user_id = s.user_id
    ), grid AS (
      SELECT t_days,
             CAST(SUM(event) AS BIGINT) AS d,
             COUNT(*) AS leaving
      FROM subjects GROUP BY t_days
    ), risk AS (
      SELECT t_days, d,
             CAST((SELECT COUNT(*) FROM subjects)
                  - COALESCE(SUM(leaving) OVER (ORDER BY t_days
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT t_days, n_risk, d,
           CASE WHEN d = n_risk THEN 0.0
                ELSE round(exp(SUM(CASE WHEN d < n_risk
                         THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                         ELSE 0.0 END)
                     OVER (ORDER BY t_days
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)), 6) END AS survival
    FROM risk WHERE d > 0
    ORDER BY t_days
    """,
    tags=("survival", "timeseries", "stats"),
)
def kaplan_meier_signup_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan–Meier survival curve for signup → first purchase with
    right censoring at the data horizon: S(t) = Π_{tᵢ≤t}(1 − dᵢ/nᵢ)
    over event days, where nᵢ counts everyone still at risk
    (converted later OR censored later) — the estimator that makes
    time-to-conversion honest when the observation window truncates
    outcomes (Kaplan & Meier 1958).

    Exactness: dᵢ and nᵢ are exact integers from the day-grain
    summary; the product is carried as exp(Σ ln(1 − d/n)) — the one
    float chain, computed op-for-op identically and rounded to 6 dp
    (the registry's entropy contract).

    Scale: subjects reduce to per-user rows (two map-side-combined
    aggs + one keyed join), then to the day-grain grid; every window
    runs over that grid — bounded by the time horizon in days, never
    by user count.
    """
    subjects = _signup_purchase_subjects(spark, sf_dir)
    grid = subjects.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d"),
        F.count("*").alias("leaving"),
    )
    total = subjects.agg(F.count("*").alias("n_total"))
    wprev = (
        Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = grid.crossJoin(F.broadcast(total)).select(
        "t_days",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    wcum = (
        Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # d == n_risk (the last at-risk subject converts) would be ln(0):
    # survival is exactly 0 there, and no later event row can exist
    # (n_risk reaches 0), so the guarded term never poisons the chain
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(0.0)
    return (
        risk.where(F.col("d") > 0)
        .select(
            "t_days",
            "n_risk",
            "d",
            F.when(F.col("d") == F.col("n_risk"), 0.0)
            .otherwise(F.round(F.exp(F.sum(term).over(wcum)), 6))
            .alias("survival"),
        )
    )


# --------------------------------------------------------------------
# Calibration curve (decile-binned positive rate vs mean score).
# --------------------------------------------------------------------
@register(
    "calibration_curve_deciles",
    """
    WITH pts AS (
      SELECT CAST(round(value*100) AS BIGINT) AS c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), th AS (
      SELECT quantile_disc(c, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]) AS q
      FROM pts
    ), binned AS (
      SELECT CAST((CASE WHEN c > q[1] THEN 1 ELSE 0 END)
                + (CASE WHEN c > q[2] THEN 1 ELSE 0 END)
                + (CASE WHEN c > q[3] THEN 1 ELSE 0 END)
                + (CASE WHEN c > q[4] THEN 1 ELSE 0 END)
                + (CASE WHEN c > q[5] THEN 1 ELSE 0 END)
                + (CASE WHEN c > q[6] THEN 1 ELSE 0 END)
                + (CASE WHEN c > q[7] THEN 1 ELSE 0 END)
                + (CASE WHEN c > q[8] THEN 1 ELSE 0 END)
                + (CASE WHEN c > q[9] THEN 1 ELSE 0 END) AS BIGINT)
               AS decile,
             c, y
      FROM pts CROSS JOIN th
    )
    SELECT decile,
           COUNT(*) AS n,
           CAST(SUM(c) AS BIGINT) AS sum_cents,
           CAST(SUM(y) AS BIGINT) AS positives,
           CAST(round(1000.0 * SUM(y) / COUNT(*)) AS BIGINT)
             AS pos_rate_milli
    FROM binned
    GROUP BY decile
    ORDER BY decile
    """,
    tags=("ml", "evaluation", "calibration"),
)
def calibration_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / binned-positive-rate curve: bucket the predictor
    (event value) into deciles against broadcast exact-discrete
    decile thresholds, then report each bucket's size, score mass,
    and observed positive rate — the reliability diagram every
    score-producing model is judged by (a well-calibrated score's
    positive rate tracks the bucket's mean score; a merely
    discriminative one is only monotone).

    Scale: the same threshold-broadcast shape as the RFM operator —
    a 1-row exact-percentile aggregate broadcast over the stream,
    row-local bucket arithmetic, one map-side-combined final agg.
    No global ntile sort anywhere.
    """
    pts = t(spark, sf_dir, "events").select(
        cents("value").alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    qs = [i / 10 for i in range(1, 10)]
    th = pts.agg(
        F.expr(
            f"percentile_disc(array({','.join(map(str, qs))}))"
            " WITHIN GROUP (ORDER BY c)"
        ).alias("q")
    )
    decile = F.lit(0)
    for i in range(9):
        decile = decile + F.when(F.col("c") > F.col("q")[i], 1).otherwise(0)
    binned = pts.crossJoin(F.broadcast(th)).select(
        decile.cast("long").alias("decile"), "c", "y"
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").cast("long").alias("sum_cents"),
            F.sum("y").cast("long").alias("positives"),
            F.round(1000.0 * F.sum("y") / F.count("*"))
            .cast("long")
            .alias("pos_rate_milli"),
        )
    )


# --------------------------------------------------------------------
# Two-group log-rank test (Mantel 1966).
# --------------------------------------------------------------------
@register(
    "logrank_test_arms",
    f"""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
      GROUP BY e.user_id
    ), subjects AS (
      SELECT s.user_id, s.user_id % 2 AS grp,
             CASE WHEN p.p_ts IS NOT NULL
                  THEN date_diff('day', CAST(s.s_ts AS DATE),
                                 CAST(p.p_ts AS DATE))
                  ELSE date_diff('day', CAST(s.s_ts AS DATE),
                                 DATE '{HORIZON}')
             END AS t_days,
             CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM s LEFT JOIN p ON p.user_id = s.user_id
    ), grid AS (
      SELECT t_days,
             CAST(SUM(CASE WHEN grp = 1 THEN event ELSE 0 END)
                  AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN grp = 0 THEN event ELSE 0 END)
                  AS BIGINT) AS d0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS l1,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS l0
      FROM subjects GROUP BY t_days
    ), risk AS (
      SELECT t_days, d1, d0,
             (SELECT COUNT(*) FROM subjects WHERE grp = 1)
               - COALESCE(SUM(l1) OVER (ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1,
             (SELECT COUNT(*) FROM subjects WHERE grp = 0)
               - COALESCE(SUM(l0) OVER (ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n0
      FROM grid
    ), terms AS (
      SELECT d1, d0,
             CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0) AS e1,
             CASE WHEN n1 + n0 > 1 THEN
               CAST(d1 + d0 AS DOUBLE)
               * (CAST(n1 AS DOUBLE) / (n1 + n0))
               * (CAST(n0 AS DOUBLE) / (n1 + n0))
               * (n1 + n0 - (d1 + d0)) / (n1 + n0 - 1)
             ELSE 0.0 END AS v
      FROM risk WHERE d1 + d0 > 0
    ), stat AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(d0) AS BIGINT) AS o0,
             SUM(e1) AS e1, SUM(v) AS vv
      FROM terms
    ), bygrp AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_subjects
      FROM subjects GROUP BY grp
    )
    SELECT b.grp, b.n_subjects,
           CASE WHEN b.grp = 1 THEN s.o1 ELSE s.o0 END AS observed,
           CAST(round(1000.0 * CASE WHEN b.grp = 1 THEN s.e1
                ELSE s.o1 + s.o0 - s.e1 END) AS BIGINT)
             AS expected_milli,
           CASE WHEN s.vv > 0 THEN
             CAST(round(1000.0 * (s.o1 - s.e1) * (s.o1 - s.e1) / s.vv)
                  AS BIGINT) ELSE 0 END AS chi2_milli
    FROM bygrp b, stat s ORDER BY b.grp
    """,
    tags=("survival", "stats", "test"),
)
def logrank_test_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test (Mantel 1966; Peto & Peto 1972) on
    signup → first-purchase time with right censoring at the data
    horizon, arms = user_id % 2: at each event day the observed
    group-1 events d1t are compared against the hypergeometric
    expectation dt·n1t/nt, with variance dt·(n1t/nt)·(n0t/nt)·
    (nt−dt)/(nt−1); chi² = (Σ(d1t−E1t))²/ΣVt on 1 df — the standard
    "are these two survival curves the same?" test that censoring
    makes a naive mean comparison get wrong. Day-grain counts and
    at-risk numbers are exact integers; the E/V accumulation is the
    one double chain, identical op-for-op on both engines.

    Scale shape: subjects reduce to per-user rows (two map-side
    aggs + one keyed join), then to the day-grain grid; the at-risk
    windows run over that grid — bounded by the horizon in days,
    never by user count (the KM/Nelson-Aalen discipline).
    """
    subjects = _signup_purchase_subjects(spark, sf_dir).select(
        (F.col("user_id") % 2).alias("grp"), "t_days", "event"
    )
    grid = subjects.groupBy("t_days").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("event")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 0, F.col("event")).otherwise(0))
        .cast("long")
        .alias("d0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("l1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("l0"),
    )
    bygrp = subjects.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects")
    )
    totals = bygrp.groupBy().pivot("grp", [0, 1]).sum("n_subjects")
    # coalesce: an ARM WITH NO SUBJECTS pivots to NULL here while
    # the oracle's scalar COUNT(*) is 0 — the NULL then poisoned the
    # whole at-risk chain (n1 -> nt -> e1 NaN via float 0/0, which
    # ANSI does NOT guard for doubles) and expected_milli came back
    # NULL vs the oracle's real number (n=1-per-group fixture
    # finding, round 8)
    totals = totals.select(
        F.coalesce(F.col("0"), F.lit(0)).cast("long").alias("tot0"),
        F.coalesce(F.col("1"), F.lit(0)).cast("long").alias("tot1"),
    )
    wprev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = grid.crossJoin(F.broadcast(totals)).select(
        "t_days",
        "d1",
        "d0",
        (
            F.col("tot1")
            - F.coalesce(F.sum("l1").over(wprev), F.lit(0))
        ).alias("n1"),
        (
            F.col("tot0")
            - F.coalesce(F.sum("l0").over(wprev), F.lit(0))
        ).alias("n0"),
    )
    nt = F.col("n1") + F.col("n0")
    dt = F.col("d1") + F.col("d0")
    terms = risk.filter(dt > 0).select(
        "d1",
        "d0",
        (dt.cast("double") * F.col("n1") / nt).alias("e1"),
        F.when(
            nt > 1,
            dt.cast("double")
            * (F.col("n1").cast("double") / nt)
            * (F.col("n0").cast("double") / nt)
            * (nt - dt)
            / (nt - 1),
        )
        .otherwise(0.0)
        .alias("v"),
    )
    stat = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("d0").cast("long").alias("o0"),
        F.sum("e1").alias("e1"),
        F.sum("v").alias("vv"),
    )
    return (
        bygrp.crossJoin(F.broadcast(stat))
        .select(
            F.col("grp").cast("long").alias("grp"),
            "n_subjects",
            F.when(F.col("grp") == 1, F.col("o1"))
            .otherwise(F.col("o0"))
            .cast("long")
            .alias("observed"),
            F.round(
                1000.0
                * F.when(F.col("grp") == 1, F.col("e1")).otherwise(
                    F.col("o1") + F.col("o0") - F.col("e1")
                )
            )
            .cast("long")
            .alias("expected_milli"),
            # vv = 0 when every at-risk subject converts in one day
            # stratum (zero hypergeometric variance) — chi2 is then
            # undefined; report 0 identically on both engines
            F.when(
                F.col("vv") > 0,
                F.round(
                    1000.0
                    * (F.col("o1") - F.col("e1"))
                    * (F.col("o1") - F.col("e1"))
                    / F.col("vv")
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("chi2_milli"),
        )
    )


# --------------------------------------------------------------------
# Restricted mean survival time (RMST) at a fixed horizon.
# --------------------------------------------------------------------
_RMST_TAU = 90  # days: the fixed restriction horizon


@register(
    "rmst_signup_purchase",
    f"""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
      GROUP BY e.user_id
    ), subjects AS (
      SELECT s.user_id,
             CASE WHEN p.p_ts IS NOT NULL
                  THEN date_diff('day', CAST(s.s_ts AS DATE),
                                 CAST(p.p_ts AS DATE))
                  ELSE date_diff('day', CAST(s.s_ts AS DATE),
                                 DATE '{{H}}')
             END AS t_days,
             CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM s LEFT JOIN p ON p.user_id = s.user_id
    ), grid AS (
      SELECT t_days, CAST(SUM(event) AS BIGINT) AS d,
             COUNT(*) AS leaving
      FROM subjects GROUP BY t_days
    ), risk AS (
      SELECT t_days, d,
             CAST((SELECT COUNT(*) FROM subjects)
                  - COALESCE(SUM(leaving) OVER (ORDER BY t_days
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM grid
    ), km AS (
      SELECT t_days,
             CAST(CASE WHEN d = n_risk THEN 0.0
                  ELSE round(1000000.0 * exp(SUM(CASE WHEN d < n_risk
                           THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                           ELSE 0.0 END)
                       OVER (ORDER BY t_days
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW))) END AS BIGINT)
               AS s_micro
      FROM risk WHERE d > 0
    ), seg AS (
      SELECT s_micro,
             least(COALESCE(LEAD(t_days) OVER (ORDER BY t_days),
                            {_RMST_TAU}), {_RMST_TAU}) AS seg_end,
             least(t_days, {_RMST_TAU}) AS seg_start
      FROM km
    ), head AS (
      SELECT CAST(COALESCE(least(MIN(t_days), {_RMST_TAU}),
                           {_RMST_TAU}) AS BIGINT) AS first_t
      FROM km
    )
    SELECT CAST({_RMST_TAU} AS BIGINT) AS tau_days,
           (SELECT first_t FROM head) AS first_event_day,
           CAST((SELECT first_t FROM head) * 1000000
                + COALESCE((SELECT SUM(s_micro
                    * (seg_end - seg_start)) FROM seg
                    WHERE seg_end > seg_start), 0) AS BIGINT)
             AS rmst_micro_days
    """.replace("{H}", HORIZON),
    tags=("survival", "stats"),
)
def rmst_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar 2013 usage;
    Irwin 1949 origin) at tau = {T} days for signup → first
    purchase: RMST = ∫₀^tau S(t)dt, the average event-free days in
    the first {T} — the survival summary regulators and experiment
    readouts prefer over medians when curves cross or censoring is
    heavy. The integral is the exact step-function area under the
    Kaplan-Meier curve: S(t) is quantized to integer MICRO at each
    event day (the `kaplan_meier_signup_purchase` rounding contract,
    carried as exp(Σ ln(1−d/n)) op-for-op identically), after which
    every segment area S_micro·Δdays and the S=1 head segment are
    EXACT integer products — no float ever crosses a sum boundary.

    Scale shape: identical to the KM row — per-user reduction, day-
    grain grid, horizon-bounded windows; the RMST segmentation adds
    one LEAD over the event-day grid and a 1-row aggregation.
    """
    subjects = _signup_purchase_subjects(spark, sf_dir).select(
        "t_days", "event"
    )
    grid = subjects.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    tot = subjects.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    wprev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "d",
        (
            F.col("n_all")
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    wcum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    log_surv = F.sum(
        F.when(
            F.col("d") < F.col("n_risk"),
            F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
        ).otherwise(0.0)
    ).over(wcum)
    km = risk.filter(F.col("d") > 0).select(
        "t_days",
        F.when(F.col("d") == F.col("n_risk"), F.lit(0).cast("long"))
        .otherwise(
            F.round(1000000.0 * F.exp(log_surv)).cast("long")
        )
        .alias("s_micro"),
    )
    wlead = Window.orderBy("t_days")
    seg = km.select(
        "s_micro",
        F.least(F.col("t_days"), F.lit(_RMST_TAU)).alias("seg_start"),
        F.least(
            F.coalesce(
                F.lead("t_days").over(wlead), F.lit(_RMST_TAU)
            ),
            F.lit(_RMST_TAU),
        ).alias("seg_end"),
    )
    head = km.agg(
        F.coalesce(
            F.least(F.min("t_days"), F.lit(_RMST_TAU)),
            F.lit(_RMST_TAU),
        )
        .cast("long")
        .alias("first_t")
    )
    area = seg.filter(F.col("seg_end") > F.col("seg_start")).agg(
        F.coalesce(
            F.sum(
                F.col("s_micro")
                * (F.col("seg_end") - F.col("seg_start"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("tail_area")
    )
    return head.crossJoin(F.broadcast(area)).select(
        F.lit(_RMST_TAU).cast("long").alias("tau_days"),
        F.col("first_t").alias("first_event_day"),
        (F.col("first_t") * 1000000 + F.col("tail_area"))
        .cast("long")
        .alias("rmst_micro_days"),
    )


rmst_signup_purchase.__doc__ = rmst_signup_purchase.__doc__.replace(
    "{T}", str(_RMST_TAU)
)
