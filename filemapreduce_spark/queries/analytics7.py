"""Round-5 analytics batch 3: sampling design, leakage-safe ML
evaluation, scorecard features, and private release plumbing.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Neyman allocation (1934): variance-optimal stratified sample-size
  allocation — THE answer to "how many rows per stratum" before any
  big sampled job.
- Walk-forward purged folds (time-series CV with an embargo gap;
  López de Prado 2018): the split design that keeps temporal leakage
  out of backtests.
- Split-conformal prediction intervals (Vovk et al.; Lei et al.
  2018): distribution-free intervals with finite-sample coverage —
  calibration-residual quantile with the (n+1) correction, coverage
  audited on a held-out period.
- WOE / Information Value (credit-scorecard standard): decile
  evidence weights and the IV ranking gate.
- DP-noisy counts with an epsilon ledger: Laplace-mechanism release
  plumbing (deterministic inverse-CDF noise so both engines agree
  bit-for-bit; a real deployment swaps the uniform source for a
  CSPRNG — the Spark-side shape is what's exercised).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_NEY_BUDGET = 1000  # total sample rows to allocate


@register(
    "neyman_allocation_by_type",
    f"""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s,
             SUM(CAST(CAST(round(value*100) AS BIGINT) AS DECIMAL(38,0))
                 * CAST(round(value*100) AS BIGINT)) AS ss
      FROM events GROUP BY event_type
    ), sd AS (
      SELECT event_type, n_h,
             sqrt((CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * s / n_h) / (n_h - 1)) AS s_h
      FROM g
    ), w AS (
      SELECT event_type, n_h, s_h,
             n_h * s_h / SUM(n_h * s_h) OVER () AS w_h
      FROM sd
    ), fl AS (
      SELECT event_type, n_h, s_h, w_h,
             CAST(floor({_NEY_BUDGET} * w_h) AS BIGINT) AS base,
             {_NEY_BUDGET} * w_h - floor({_NEY_BUDGET} * w_h) AS rem
      FROM w
    ), rk AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS r,
             {_NEY_BUDGET} - SUM(base) OVER () AS leftover
      FROM fl
    )
    SELECT event_type, n_h,
           CAST(round(1000.0 * s_h) AS BIGINT) AS sd_milli,
           CAST(round(1000000.0 * w_h) AS BIGINT) AS share_micro,
           CAST(base + CASE WHEN r <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS n_alloc
    FROM rk
    ORDER BY event_type
    """,
    tags=("sampling", "stats", "design"),
)
def neyman_allocation_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman (1934) variance-optimal stratified allocation: sample
    n_h ∝ N_h·S_h rows from each stratum — the design that minimizes
    the estimator variance for a fixed total budget ({B} here), and
    the first computation before any large sampled aggregate. Exact
    integer allocation via largest-remainder (floors + distribute the
    leftover by descending remainder, ties on stratum name), so the
    allocations always sum to exactly {B}. Stratum SDs come from
    exact DECIMAL-widened second moments; the only floats are the
    final sqrt/share (milli/micro-rounded).

    Scale shape: one map-side-combined groupBy(event_type) collapses
    the data; every window after runs over the #strata-row summary
    (catalog-bounded, never data volume).
    """
    e = t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(c).cast("long").alias("s"),
        F.sum(c.cast("decimal(38,0)") * c).alias("ss"),
    )
    # try_divide twice: a single-row stratum has n_h-1 = 0 (oracle's
    # double/0 is NULL in DuckDB, ANSI Spark raises — pct=1
    # degenerate-fixture sweep finding, round 8), and if EVERY
    # stratum SD is NULL-or-zero the allocation denominator is
    # NULL/0 too. NULL strata then fall out of the window sums and
    # sort NULLS LAST in the remainder rank on both engines.
    s_h = F.sqrt(
        F.try_divide(
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n_h"),
            F.col("n_h") - 1,
        )
    )
    sd = g.select("event_type", "n_h", s_h.alias("s_h"))
    wall = Window.partitionBy()
    w = sd.withColumn(
        "w_h",
        F.try_divide(
            F.col("n_h") * F.col("s_h"),
            F.sum(F.col("n_h") * F.col("s_h")).over(wall),
        ),
    )
    fl = w.select(
        "event_type",
        "n_h",
        "s_h",
        "w_h",
        F.floor(_NEY_BUDGET * F.col("w_h")).cast("long").alias("base"),
        (
            _NEY_BUDGET * F.col("w_h")
            - F.floor(_NEY_BUDGET * F.col("w_h"))
        ).alias("rem"),
    )
    rk = fl.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "event_type"))
        .alias("r"),
        (_NEY_BUDGET - F.sum("base").over(wall)).alias("leftover"),
    )
    return rk.select(
        "event_type",
        "n_h",
        F.round(1000.0 * F.col("s_h")).cast("long").alias("sd_milli"),
        F.round(1000000.0 * F.col("w_h")).cast("long").alias(
            "share_micro"
        ),
        (
            F.col("base")
            + F.when(F.col("r") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_alloc"),
    )


neyman_allocation_by_type.__doc__ = (
    neyman_allocation_by_type.__doc__.replace("{B}", str(_NEY_BUDGET))
)


# --------------------------------------------------------------------
# Walk-forward purged folds (time-series CV with embargo).
# --------------------------------------------------------------------
_WF_FOLDS = (  # (test_start, test_end) day windows, inclusive
    ("2024-01-11", "2024-01-15"),
    ("2024-01-18", "2024-01-22"),
    ("2024-01-25", "2024-01-29"),
)
_WF_GAP = 2  # embargo days between train end and test start


def _wf_oracle() -> str:
    folds = []
    for k, (ts_, te) in enumerate(_WF_FOLDS, start=1):
        folds.append(f"""
      SELECT CAST({k} AS BIGINT) AS fold, day,
             CASE
               WHEN day BETWEEN DATE '{ts_}' AND DATE '{te}' THEN 'test'
               WHEN day < DATE '{ts_}' - INTERVAL {_WF_GAP} DAY
                 THEN 'train'
               WHEN day < DATE '{ts_}' THEN 'purged'
               ELSE 'unused' END AS role,
             n
      FROM daily""")
    u = " UNION ALL ".join(folds)
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), assigned AS ({u})
    SELECT fold, role,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(n) AS BIGINT) AS n_events,
           strftime(MIN(day), '%Y-%m-%d') AS first_day,
           strftime(MAX(day), '%Y-%m-%d') AS last_day,
           CAST(MIN(CASE WHEN role = 'train'
                THEN date_diff('day', day,
                     (SELECT MIN(day) FROM assigned a2
                      WHERE a2.fold = assigned.fold
                        AND a2.role = 'test'))
                END) AS BIGINT) AS min_gap_check
    FROM assigned
    GROUP BY fold, role
    ORDER BY fold, role
    """


@register(
    "walkforward_purged_folds",
    _wf_oracle(),
    tags=("mlprep", "split", "timeseries"),
)
def walkforward_purged_folds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Walk-forward time-series cross-validation with a PURGE/embargo
    gap (López de Prado 2018, "Advances in Financial ML" ch. 7): for
    each fold, train = all days strictly before test_start − {G}
    days, the {G}-day embargo between them is marked 'purged' and
    used by NEITHER side, and post-test days are 'unused' (a
    walk-forward fold never trains on the future) — the split design
    that kills look-ahead leakage from label horizons and serial
    correlation. The output
    is the per-(fold, role) accounting including `min_gap_check`
    (min train-day distance to the fold's first test day — the
    inline leakage audit: every train value must be > {G}).

    Scale shape: events collapse to the day grain first; fold
    assignment is a row-local CASE per fold over the calendar-
    bounded daily table (#folds × #days rows, config-bounded).
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    parts = []
    for k, (ts_, te) in enumerate(_WF_FOLDS, start=1):
        start = F.lit(ts_).cast("date")
        end = F.lit(te).cast("date")
        role = (
            F.when(F.col("day").between(start, end), "test")
            .when(F.col("day") < F.date_sub(start, _WF_GAP), "train")
            .when(F.col("day") < start, "purged")
            .otherwise("unused")
        )
        parts.append(
            daily.select(
                F.lit(k).cast("long").alias("fold"),
                "day",
                role.alias("role"),
                "n",
            )
        )
    assigned = parts[0]
    for p in parts[1:]:
        assigned = assigned.unionAll(p)
    # the leakage audit measures distance to the first OBSERVED test
    # day, not the configured fold boundary — if the boundary day has
    # no data the real gap is larger (the two coincide whenever the
    # first test day is populated, i.e. at every real SF; ultra-sparse
    # sweep finding). One tiny per-fold aggregate, broadcast back.
    fold_t0 = (
        assigned.where(F.col("role") == "test")
        .groupBy("fold")
        .agg(F.min("day").alias("t0"))
    )
    return (
        assigned.join(F.broadcast(fold_t0), "fold", "left")
        .groupBy("fold", "role")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("n").cast("long").alias("n_events"),
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
            F.min(
                F.when(
                    F.col("role") == "train",
                    F.datediff(F.col("t0"), F.col("day")),
                )
            )
            .cast("long")
            .alias("min_gap_check"),
        )
    )


walkforward_purged_folds.__doc__ = (
    walkforward_purged_folds.__doc__.replace("{G}", str(_WF_GAP))
)


# --------------------------------------------------------------------
# Split-conformal prediction intervals with coverage audit.
# --------------------------------------------------------------------
_CF_ALPHA = 0.1  # target 90% coverage
_CF_TRAIN_END = "2024-01-11"  # train < this
_CF_CAL_END = "2024-01-21"  # calibration in [train_end, cal_end)


@register(
    "conformal_interval_coverage",
    f"""
    WITH x AS (
      -- residuals need OBSERVED values (r9 mixed-null sweep: NULL
      -- residuals rode the calibration ranking at opposite ends, and
      -- the train mean's n counted rows its sum skipped)
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(value*100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), mu AS (
      SELECT event_type,
             CAST(SUM(c) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM x WHERE day < DATE '{_CF_TRAIN_END}' GROUP BY event_type
    ), cal AS (
      SELECT x.event_type,
             abs(x.c - CAST(mu.s AS DOUBLE) / mu.n) AS r
      FROM x JOIN mu ON mu.event_type = x.event_type
      WHERE x.day >= DATE '{_CF_TRAIN_END}'
        AND x.day < DATE '{_CF_CAL_END}'
    ), ranked AS (
      SELECT event_type, r,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY r, event_type) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_cal
      FROM cal
    ), qhat AS (
      SELECT event_type, n_cal, r AS q_hat
      FROM ranked
      WHERE rk = CAST(ceil((1.0 - {_CF_ALPHA}) * (n_cal + 1)) AS BIGINT)
    ), test AS (
      SELECT x.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN abs(x.c - CAST(mu.s AS DOUBLE) / mu.n)
                            <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered
      FROM x
      JOIN mu ON mu.event_type = x.event_type
      JOIN qhat q ON q.event_type = x.event_type
      WHERE x.day >= DATE '{_CF_CAL_END}'
      GROUP BY x.event_type
    )
    SELECT t.event_type, q.n_cal,
           CAST(round(q.q_hat) AS BIGINT) AS q_hat_cents,
           t.n_test,
           CAST((1000 * t.n_covered) // t.n_test AS BIGINT)
             AS coverage_milli
    FROM test t JOIN qhat q ON q.event_type = t.event_type
    ORDER BY t.event_type
    """,
    tags=("mlprep", "stats", "conformal"),
)
def conformal_interval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al. 2018):
    a per-type mean model fit on the TRAIN period, absolute
    calibration residuals on the CALIBRATION period, and q̂ = the
    ⌈(1−α)(n+1)⌉-th smallest residual — the finite-sample corrected
    quantile that guarantees ≥(1−α) marginal coverage distribution-
    free. The TEST period audits realized coverage (expect ≈
    {COV}‰). Residual ranks are exact (ties broken deterministically)
    and the rank-selection IS percentile_disc with the (n+1)
    correction — no interpolation, so both engines pick the same
    element.

    Scale shape: one grouped agg per period (map-side combined); the
    rank window partitions by event_type over calibration residuals
    (the same per-key rank shape as the registry's MWU/weighted-
    median rows); the q̂ table is #types rows, broadcast back for
    the row-local coverage test.
    """
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = e.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    train_end = F.lit(_CF_TRAIN_END).cast("date")
    cal_end = F.lit(_CF_CAL_END).cast("date")
    mu = (
        x.where(F.col("day") < train_end)
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    pred = F.col("s").cast("double") / F.col("n")
    cal = (
        x.where((F.col("day") >= train_end) & (F.col("day") < cal_end))
        .join(F.broadcast(mu), "event_type")
        .select("event_type", F.abs(F.col("c") - pred).alias("r"))
    )
    wr = Window.partitionBy("event_type").orderBy("r", "event_type")
    wp = Window.partitionBy("event_type")
    ranked = cal.select(
        "event_type",
        "r",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n_cal"),
    )
    qhat = ranked.where(
        F.col("rk")
        == F.ceil((1.0 - _CF_ALPHA) * (F.col("n_cal") + 1)).cast("long")
    ).select(
        "event_type",
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("r").alias("q_hat"),
    )
    test = (
        x.where(F.col("day") >= cal_end)
        .join(F.broadcast(mu), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "n_cal", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("c") - pred) <= F.col("q_hat"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return test.select(
        "event_type",
        "n_cal",
        F.round("q_hat").cast("long").alias("q_hat_cents"),
        "n_test",
        F.expr("CAST((1000 * n_covered) div n_test AS BIGINT)").alias(
            "coverage_milli"
        ),
    )


conformal_interval_coverage.__doc__ = (
    conformal_interval_coverage.__doc__.replace(
        "{COV}", str(round(1000 * (1 - _CF_ALPHA)))
    )
)


# --------------------------------------------------------------------
# WOE / Information Value over price deciles (scorecard standard).
# --------------------------------------------------------------------
@register(
    "woe_iv_price_deciles",
    """
    WITH x AS (
      SELECT CAST(round(o_totalprice*100) AS BIGINT) AS c,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), edges AS (
      SELECT {edges} FROM x
    ), binned AS (
      SELECT ({bins}) AS bin, y FROM x CROSS JOIN edges
    ), cnt AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
             CAST(SUM(n - n_pos) AS BIGINT) AS tn
      FROM cnt
    )
    SELECT bin, n, n_pos,
           CAST(round(1000000.0 * ln(
             ((n_pos + 0.5) / (tp + 0.5)) / ((n - n_pos + 0.5) / (tn + 0.5))
           )) AS BIGINT) AS woe_micro,
           CAST(round(1000000.0 *
             ((n_pos + 0.5) / (tp + 0.5) - (n - n_pos + 0.5) / (tn + 0.5))
             * ln(((n_pos + 0.5) / (tp + 0.5))
                  / ((n - n_pos + 0.5) / (tn + 0.5)))
           ) AS BIGINT) AS iv_term_micro
    FROM cnt CROSS JOIN tot
    ORDER BY bin
    """.replace(
        "{edges}",
        ", ".join(
            f"CAST(percentile_disc({i / 10}) WITHIN GROUP (ORDER BY c)"
            f" AS BIGINT) AS e{i}"
            for i in range(1, 10)
        ),
    ).replace(
        "{bins}",
        " + ".join(
            f"CASE WHEN c > e{i} THEN 1 ELSE 0 END" for i in range(1, 10)
        ),
    ),
    tags=("mlprep", "stats", "scorecard"),
)
def woe_iv_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence and Information Value over order-price
    deciles against the order-status label — the credit-scorecard
    feature-screening standard: WOE_b = ln(pos_share/neg_share) per
    bin (0.5-smoothed so empty cells stay finite) and IV = Σ (Δshare)
    ·WOE ranks the feature's separating power (IV > 0.3 ≈ strong).
    Decile edges are exact percentile_disc values; counts exact; one
    ln per bin, micro-rounded.

    Scale shape: one percentile agg (map-side-combinable state) +
    one broadcast of the 9-edge row back for row-local binning + one
    10-row grouped agg. Nothing data-sized past the scan.
    """
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    x.createOrReplaceTempView("_woe_x")
    edges = spark.sql(
        "SELECT "
        + ", ".join(
            f"CAST(percentile_disc({i / 10}) WITHIN GROUP (ORDER BY c)"
            f" AS BIGINT) AS e{i}"
            for i in range(1, 10)
        )
        + " FROM _woe_x"
    )
    bin_col = sum(
        F.when(F.col("c") > F.col(f"e{i}"), 1).otherwise(0)
        for i in range(1, 10)
    ).alias("bin")
    # persisted: the 10-row decile counts feed the marginal totals
    # AND the WOE projection — without the cache each consumer
    # re-ran the decile-edge percentile scan + binning pass over the
    # full orders table (static audit: 4 scans -> 2)
    cnt = (
        x.crossJoin(F.broadcast(edges))
        .select(bin_col, "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .persist()
    )
    tot = cnt.agg(
        F.sum("n_pos").cast("long").alias("tp"),
        F.sum(F.col("n") - F.col("n_pos")).cast("long").alias("tn"),
    )
    ps = (F.col("n_pos") + 0.5) / (F.col("tp") + 0.5)
    ns = (F.col("n") - F.col("n_pos") + 0.5) / (F.col("tn") + 0.5)
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(1000000.0 * F.log(ps / ns))
            .cast("long")
            .alias("woe_micro"),
            F.round(1000000.0 * (ps - ns) * F.log(ps / ns))
            .cast("long")
            .alias("iv_term_micro"),
        )
    )


# --------------------------------------------------------------------
# DP noisy counts with an epsilon ledger (Laplace mechanism shape).
# --------------------------------------------------------------------
_DP_EPS_MILLI = 1000  # epsilon = 1.0 for this release


@register(
    "dp_noisy_counts_ledger",
    f"""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM events GROUP BY event_type
    ), noise AS (
      SELECT event_type, n_true,
             ('0x' || substring(md5('dp:' || event_type), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM g
    )
    SELECT event_type, n_true,
           CAST(round(1000.0 * (n_true +
             (-(1000.0 / {_DP_EPS_MILLI}))
               * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
               * ln(1.0 - 2.0 * abs(u - 0.5)))) AS BIGINT)
             AS n_noisy_milli,
           CAST({_DP_EPS_MILLI} AS BIGINT) AS eps_spent_milli
    FROM noise
    ORDER BY event_type
    """,
    tags=("privacy", "dp", "agg"),
)
def dp_noisy_counts_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy count release with an epsilon ledger
    (Dwork et al. 2006): per-type counts (sensitivity 1) plus
    Laplace(1/ε) noise via the inverse CDF
    −(1/ε)·sgn(u−½)·ln(1−2|u−½|), ε = {EPS}. The uniform u is
    DETERMINISTIC here (md5 of the release key) so both engines and
    every rerun agree bit-for-bit — a real deployment swaps in a
    CSPRNG; the Spark-side release shape (count → calibrated noise →
    ledger row) is what this row exercises, and the ledger column
    records the privacy budget this release consumes.

    Scale shape: one map-side-combined count agg; noise is row-local
    on the #types-row summary. Nothing else touches the data.
    """
    e = t(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 8
        ),
        16,
        10,
    ).cast("long") / F.lit(4294967296.0)
    eps = _DP_EPS_MILLI / 1000.0
    lap = (
        -(1.0 / eps)
        * F.when(u >= 0.5, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return g.select(
        "event_type",
        "n_true",
        F.round(1000.0 * (F.col("n_true") + lap))
        .cast("long")
        .alias("n_noisy_milli"),
        F.lit(_DP_EPS_MILLI).cast("long").alias("eps_spent_milli"),
    )


dp_noisy_counts_ledger.__doc__ = dp_noisy_counts_ledger.__doc__.replace(
    "{EPS}", str(_DP_EPS_MILLI / 1000.0)
)
