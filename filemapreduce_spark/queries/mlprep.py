"""ML preparation: feature encodings and selection, segmentation,
cross-validation folds, class balancing, calibration and conformal
evaluation, and closed-form models.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.operators.textops import words
from filemapreduce_spark.operators.vectors import dot, norm, to_double
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


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


# ------------------------------------------------------------------
# Ridge regression by normal equations (Cramer closed form).
# ------------------------------------------------------------------
_RIDGE_LAMBDA = 10000  # fixed regularizer on the two slopes (not b0)


@register(
    "ridge_normal_equations",
    f"""
    WITH f AS (
      SELECT l.l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS x1,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS x2
      FROM lineitem l GROUP BY l.l_orderkey
    ), xy AS (
      SELECT f.x1, f.x2,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM f JOIN orders o ON o.o_orderkey = f.l_orderkey
    ), s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x1 AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(x2 AS HUGEINT)) AS HUGEINT) AS s2,
             CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
             CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
             CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
             CAST(SUM(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y
      FROM xy
    ), m AS (
      SELECT CAST(n AS DOUBLE) AS a11, CAST(s1 AS DOUBLE) AS a12,
             CAST(s2 AS DOUBLE) AS a13,
             CAST(s11 + {_RIDGE_LAMBDA} AS DOUBLE) AS a22,
             CAST(s12 AS DOUBLE) AS a23,
             CAST(s22 + {_RIDGE_LAMBDA} AS DOUBLE) AS a33,
             CAST(sy AS DOUBLE) AS v1, CAST(s1y AS DOUBLE) AS v2,
             CAST(s2y AS DOUBLE) AS v3,
             CAST(n AS BIGINT) AS n_orders
      FROM s
    )
    SELECT n_orders,
           CAST(round(1000000.0 *
             (v1*(a22*a33-a23*a23) - a12*(v2*a33-a23*v3)
              + a13*(v2*a23-a22*v3))
             / (a11*(a22*a33-a23*a23) - a12*(a12*a33-a23*a13)
                + a13*(a12*a23-a22*a13))) AS BIGINT) AS b0_micro,
           CAST(round(1000000.0 *
             (a11*(v2*a33-a23*v3) - v1*(a12*a33-a23*a13)
              + a13*(a12*v3-v2*a13))
             / (a11*(a22*a33-a23*a23) - a12*(a12*a33-a23*a13)
                + a13*(a12*a23-a22*a13))) AS BIGINT) AS b1_micro,
           CAST(round(1000000.0 *
             (a11*(a22*v3-v2*a23) - a12*(a12*v3-v2*a13)
              + v1*(a12*a23-a22*a13))
             / (a11*(a22*a33-a23*a23) - a12*(a12*a33-a23*a13)
                + a13*(a12*a23-a22*a13))) AS BIGINT) AS b2_micro
    FROM m
    """,
    tags=("mlprep", "regression", "closed-form"),
)
def ridge_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (Hoerl & Kennard 1970) of order total price
    (cents) on two order features — line count x1 and total quantity
    x2 — solved in CLOSED FORM: one distributed pass accumulates the
    nine sufficient statistics (n, Σx, Σxx', Σxy) as exact DECIMAL
    integers, then (X'X + λ·diag(0,1,1))β = X'y is solved by
    Cramer's rule on the resulting 3×3 system in the final 1-row
    projection (the intercept is unpenalized, λ={L}). The determinant
    algebra is an identical op-for-op double chain of those exact
    integers on both engines.

    Scale shape: the feature build is one map-side-combined
    groupBy(orderkey) plus one equi-join to orders; the statistics
    agg collapses everything to ONE row — the classic "ship
    sufficient statistics, not data" distributed-regression pattern
    (same family as the covariance-matrix and OLS-slope rows). No
    iteration, no driver loop, no collect.
    """
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    f = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("x1"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("x2"),
    )
    xy = f.join(
        o.select("o_orderkey", cents("o_totalprice").alias("y")),
        f.l_orderkey == F.col("o_orderkey"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")
    s = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d("x1")).alias("s1"),
        F.sum(d("x2")).alias("s2"),
        F.sum(d("x1") * F.col("x1")).alias("s11"),
        F.sum(d("x1") * F.col("x2")).alias("s12"),
        F.sum(d("x2") * F.col("x2")).alias("s22"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x1") * F.col("y")).alias("s1y"),
        F.sum(d("x2") * F.col("y")).alias("s2y"),
    )
    lam = F.lit(_RIDGE_LAMBDA)
    m = s.select(
        F.col("n").cast("double").alias("a11"),
        F.col("s1").cast("double").alias("a12"),
        F.col("s2").cast("double").alias("a13"),
        (F.col("s11") + lam).cast("double").alias("a22"),
        F.col("s12").cast("double").alias("a23"),
        (F.col("s22") + lam).cast("double").alias("a33"),
        F.col("sy").cast("double").alias("v1"),
        F.col("s1y").cast("double").alias("v2"),
        F.col("s2y").cast("double").alias("v3"),
        F.col("n").cast("long").alias("n_orders"),
    )
    a11, a12, a13 = F.col("a11"), F.col("a12"), F.col("a13")
    a22, a23, a33 = F.col("a22"), F.col("a23"), F.col("a33")
    v1, v2, v3 = F.col("v1"), F.col("v2"), F.col("v3")
    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    det0 = (
        v1 * (a22 * a33 - a23 * a23)
        - a12 * (v2 * a33 - a23 * v3)
        + a13 * (v2 * a23 - a22 * v3)
    )
    det1 = (
        a11 * (v2 * a33 - a23 * v3)
        - v1 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * v3 - v2 * a13)
    )
    det2 = (
        a11 * (a22 * v3 - v2 * a23)
        - a12 * (a12 * v3 - v2 * a13)
        + v1 * (a12 * a23 - a22 * a13)
    )
    return m.select(
        "n_orders",
        F.round(1000000.0 * det0 / det).cast("long").alias("b0_micro"),
        F.round(1000000.0 * det1 / det).cast("long").alias("b1_micro"),
        F.round(1000000.0 * det2 / det).cast("long").alias("b2_micro"),
    )


ridge_normal_equations.__doc__ = ridge_normal_equations.__doc__.replace(
    "{L}", str(_RIDGE_LAMBDA)
)


# --------------------------------------------------------------------
# Quantile normalization of per-source scores onto the global
# distribution (cross-source score comparability).
# --------------------------------------------------------------------
_QN_GRID = 1000  # milli-quantile lookup resolution


@register(
    "quantile_normalize_scores",
    f"""
    WITH s AS (
      -- a quantile map is over OBSERVED scores (r9 mixed-null sweep)
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score
      FROM documents WHERE n_chars IS NOT NULL
    ), qt AS (
      SELECT CAST(m - 1 AS BIGINT) AS milli,
             round(q, 6) AS qv
      FROM (
        SELECT unnest(quantile_cont(score,
                 list_transform(range(0, {_QN_GRID + 1}),
                                i -> i / {_QN_GRID}.0))) AS q,
               generate_subscripts(quantile_cont(score,
                 list_transform(range(0, {_QN_GRID + 1}),
                                i -> i / {_QN_GRID}.0)), 1) AS m
        FROM s
      )
    ), ranked AS (
      SELECT doc_id, source, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n_s
      FROM s
    ), mapped AS (
      SELECT source, score,
             CAST((r - 1) * 10 // n_s AS BIGINT) AS decile,
             CAST(round({_QN_GRID}.0 * (2 * r - 1) / (2 * n_s)) AS BIGINT)
               AS milli
      FROM ranked
    )
    SELECT m.source, m.decile,
           COUNT(*) AS n_docs,
           CAST(CAST(SUM(m.score) AS VARCHAR) AS DOUBLE) AS sum_raw,
           round(SUM(q.qv) / COUNT(*), 6) AS avg_norm
    FROM mapped m JOIN qt q ON q.milli = m.milli
    GROUP BY m.source, m.decile
    ORDER BY m.source, m.decile
    """,
    tags=("mlprep", "stats", "normalization"),
)
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document scores onto the
    GLOBAL score distribution — the standard cross-source
    comparability transform (a '90th-percentile-within-its-source'
    doc maps to the corpus-wide 90th-percentile value, so thresholds
    tuned globally apply per source without refitting). Each doc's
    within-source midpoint rank (2r−1)/2n maps through a
    {GRID}-point global quantile lookup (percentile_cont — the
    interpolating quantile both engines compute identically, 6dp
    parity contract); the output is per (source, within-source
    decile): doc count, exact raw-score sum, and the mean normalized
    value.

    Scale shape: the global quantile table is ONE aggregate (no
    global sort — percentile's buffers, not a total order) exploded
    to a config-bounded {GRID}+1-row broadcast table; per-source
    ranks are a window over the source partition; the lookup is a
    broadcast equi-join on the milli bucket. Nothing data-sized
    crosses the wire except the (source, decile) partials.
    """
    s = (
        t(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull())
        .select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("score")
        )
    )
    fracs = F.array(
        *[F.lit(i / _QN_GRID) for i in range(_QN_GRID + 1)]
    )
    qt = (
        s.agg(F.percentile("score", fracs).alias("qs"))
        .select(F.posexplode("qs").alias("milli", "qv"))
        .select(
            F.col("milli").cast("long").alias("milli"),
            F.round("qv", 6).alias("qv"),
        )
    )
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    ranked = s.select(
        "source",
        "score",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
    )
    mapped = ranked.select(
        "source",
        "score",
        F.expr("CAST((r - 1) * 10 div n_s AS BIGINT)").alias("decile"),
        F.round(
            F.lit(float(_QN_GRID)) * (2 * F.col("r") - 1) / (2 * F.col("n_s"))
        )
        .cast("long")
        .alias("milli"),
    )
    return (
        mapped.join(F.broadcast(qt), "milli")
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("score").cast("decimal(38,0)"))
            .cast("double")
            .alias("sum_raw"),
            F.round(F.sum("qv") / F.count(F.lit(1)), 6).alias("avg_norm"),
        )
    )


quantile_normalize_scores.__doc__ = quantile_normalize_scores.__doc__.replace(
    "{GRID}", str(_QN_GRID)
)


# ------------------------------------------------------------------
# Brier score + expected calibration error.
# ------------------------------------------------------------------
_ECE_BINS = 10


@register(
    "brier_ece_score",
    f"""
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), mx AS (
      SELECT CAST(MAX(c) AS BIGINT) AS max_c FROM pts
    ), scored AS (
      SELECT CAST(round(1000000.0 * c / mx.max_c) AS BIGINT)
               AS p_micro,
             y,
             least(CAST((c * {_ECE_BINS}) // (mx.max_c + 1) AS BIGINT),
                   {_ECE_BINS} - 1) AS bin
      FROM pts CROSS JOIN mx
    ), rows_t AS (
      SELECT bin, y, p_micro,
             CAST(round(CAST(p_micro - 1000000 * y AS DOUBLE)
                        * (p_micro - 1000000 * y) / 1000000.0)
               AS BIGINT) AS sq_micro
      FROM scored
    ), bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(CAST(p_micro AS HUGEINT)) AS HUGEINT) AS sp,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(CAST(sq_micro AS HUGEINT)) AS HUGEINT) AS ssq
      FROM rows_t GROUP BY bin
    ), tot AS (
      SELECT CAST(SUM(n_b) AS BIGINT) AS nn,
             CAST(SUM(ssq) AS HUGEINT) AS ssq_all
      FROM bins
    )
    SELECT tot.nn AS n_events,
           CAST(round(CAST(tot.ssq_all AS DOUBLE) / tot.nn) AS BIGINT)
             AS brier_micro,
           CAST(round(CAST((SELECT SUM(CAST(round(abs(
             CAST(b.sp AS DOUBLE) / b.n_b
             - 1000000.0 * b.pos / b.n_b) * b.n_b) AS HUGEINT))
             FROM bins b) AS DOUBLE) / tot.nn) AS BIGINT) AS ece_micro
    FROM tot
    """,
    tags=("ml", "evaluation", "calibration"),
)
def brier_ece_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (Brier 1950) and expected calibration error
    (Naeini et al. 2015) of the max-normalized value score
    p = c/max(c) against the purchase indicator: Brier = mean
    (p−y)², ECE = Σ_b (n_b/N)·|confidence_b − accuracy_b| over
    {B} equal-width probability bins — the two scalar calibration
    numbers read alongside the `calibration_curve_deciles`
    reliability diagram. Per-row squared errors and per-bin
    |conf−acc| masses are quantized to integer micro BEFORE
    accumulation (float sums over data are partition-order-
    dependent); the only broadcasts are the 1-row max and bin
    summaries.

    Scale shape: one scan to score rows (1-row max broadcast), one
    map-side-combined {B}-bin agg, 1-row output. No windows.
    """
    e = t(spark, sf_dir, "events")
    pts = e.select(
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    mx = pts.agg(F.max("c").cast("long").alias("max_c"))
    scored = pts.crossJoin(F.broadcast(mx)).select(
        F.round(1000000.0 * F.col("c") / F.col("max_c"))
        .cast("long")
        .alias("p_micro"),
        "y",
        F.least(
            F.expr(f"(c * {_ECE_BINS}) div (max_c + 1)"),
            F.lit(_ECE_BINS - 1),
        )
        .cast("long")
        .alias("bin"),
    )
    sq_micro = F.round(
        (F.col("p_micro") - 1000000 * F.col("y")).cast("double")
        * (F.col("p_micro") - 1000000 * F.col("y"))
        / 1000000.0
    ).cast("long")
    rows_t = scored.select("bin", "y", "p_micro", sq_micro.alias("sq_micro"))
    bins = rows_t.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum(F.col("p_micro").cast("decimal(38,0)")).alias("sp"),
        F.sum("y").cast("long").alias("pos"),
        F.sum(F.col("sq_micro").cast("decimal(38,0)")).alias("ssq"),
    )
    ece_mass = F.round(
        F.abs(
            F.col("sp").cast("double") / F.col("n_b")
            - 1000000.0 * F.col("pos") / F.col("n_b")
        )
        * F.col("n_b")
    ).cast("decimal(38,0)")
    acc = bins.agg(
        F.sum("n_b").cast("long").alias("nn"),
        F.sum("ssq").alias("ssq_all"),
        F.sum(ece_mass).alias("ece_num"),
    )
    return acc.select(
        F.col("nn").alias("n_events"),
        F.round(F.col("ssq_all").cast("double") / F.col("nn"))
        .cast("long")
        .alias("brier_micro"),
        F.round(F.col("ece_num").cast("double") / F.col("nn"))
        .cast("long")
        .alias("ece_micro"),
    )


brier_ece_score.__doc__ = brier_ece_score.__doc__.replace(
    "{B}", str(_ECE_BINS)
)


# --------------------------------------------------------------------
# Feature-hashing (hashing-trick) linear classifier scoring.
# --------------------------------------------------------------------
_FH_BUCKETS = 1024  # 2^10 hashed feature space
_FH_KNUTH = 2654435761  # Knuth multiplicative constant for weights


@register(
    "feature_hashing_classifier_score",
    f"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                    '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')) AS w
      FROM documents
    ), feat AS (
      SELECT doc_id, source,
             ('0x' || substring(md5('fh:' || w), 1, 8))::BIGINT
               % {_FH_BUCKETS} AS h,
             CASE WHEN substring(md5('sg:' || w), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 1 ELSE -1 END AS sg
      FROM tok
    ), terms AS (
      SELECT doc_id, source,
             sg * (((h * {_FH_KNUTH}) % 1000 - 500) / 1000.0) AS term
      FROM feat
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(round(1000000.0 * SUM(term) / COUNT(*)) AS BIGINT)
             AS margin_micro,
           CAST(CASE WHEN round(1000000.0 * SUM(term) / COUNT(*)) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS pred
    FROM terms GROUP BY doc_id, source
    ORDER BY doc_id
    """,
    tags=("llm", "mlprep", "classifier", "hashing"),
)
def feature_hashing_classifier_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Feature-hashing ("hashing trick") linear scoring (Weinberger
    et al. 2009): each token is hashed into a {B}-bucket feature
    space with a second hash supplying the ±1 sign (the unbiasedness
    device from the paper), and the document margin is the
    length-normalized signed sum of the bucket weights. Weights are
    a fixed deterministic function of the bucket index (Knuth
    multiplicative mix → [−0.5, 0.5)), so BOTH engines evaluate the
    identical model with NO weight table at all — the operational
    point of the hashing trick: memory is O(2^b), independent of
    vocabulary, and scoring needs no vocabulary join whatsoever.
    Margins are micro-rounded; the prediction derives from the
    rounded margin (stable across engines).

    Scale shape: pure row-local expressions after one explode — no
    join, no broadcast, no vocabulary state; one groupBy(doc_id)
    with map-side partial aggregation. The same plan at any corpus
    size; this is why hashing-trick scoring is THE baseline for
    trillion-token classifier sweeps (fastText-style quality
    filters).
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(words("text")).alias("w")
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("fh:"), F.col("w"))), 1, 8),
        16,
        10,
    ).cast("long") % _FH_BUCKETS
    sg = F.when(
        F.substring(F.md5(F.concat(F.lit("sg:"), F.col("w"))), 1, 1).isin(
            *"01234567"
        ),
        1,
    ).otherwise(-1)
    term = sg * (
        ((h * _FH_KNUTH) % 1000 - 500) / F.lit(1000.0)
    )
    margin = F.round(
        1000000.0 * F.sum("term") / F.count(F.lit(1))
    )
    return (
        tok.select("doc_id", "source", term.alias("term"))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            margin.cast("long").alias("margin_micro"),
            F.when(margin > 0, 1).otherwise(0).cast("long").alias("pred"),
        )
    )


feature_hashing_classifier_score.__doc__ = (
    feature_hashing_classifier_score.__doc__.replace(
        "{B}", str(_FH_BUCKETS)
    )
)


_ASOF = "2024-01-31"


# --------------------------------------------------------------------
# RFM quintile segmentation (threshold-broadcast, no global ntile).
# --------------------------------------------------------------------
@register(
    "rfm_quintile_segments",
    f"""
    WITH rfm AS (
      SELECT user_id,
             date_diff('day', MAX(CAST(ts AS DATE)), DATE '{_ASOF}')
               AS r_days,
             COUNT(*) AS f_events,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
               AS m_cents
      FROM events GROUP BY user_id
    ), th AS (
      SELECT quantile_disc(r_days, [0.2, 0.4, 0.6, 0.8]) AS tr,
             quantile_disc(f_events, [0.2, 0.4, 0.6, 0.8]) AS tf,
             quantile_disc(m_cents, [0.2, 0.4, 0.6, 0.8]) AS tm
      FROM rfm
    ), scored AS (
      SELECT CAST(1 + (CASE WHEN r_days > tr[1] THEN 1 ELSE 0 END)
                    + (CASE WHEN r_days > tr[2] THEN 1 ELSE 0 END)
                    + (CASE WHEN r_days > tr[3] THEN 1 ELSE 0 END)
                    + (CASE WHEN r_days > tr[4] THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_score,
             CAST(1 + (CASE WHEN f_events > tf[1] THEN 1 ELSE 0 END)
                    + (CASE WHEN f_events > tf[2] THEN 1 ELSE 0 END)
                    + (CASE WHEN f_events > tf[3] THEN 1 ELSE 0 END)
                    + (CASE WHEN f_events > tf[4] THEN 1 ELSE 0 END)
                  AS BIGINT) AS f_score,
             CAST(1 + (CASE WHEN m_cents > tm[1] THEN 1 ELSE 0 END)
                    + (CASE WHEN m_cents > tm[2] THEN 1 ELSE 0 END)
                    + (CASE WHEN m_cents > tm[3] THEN 1 ELSE 0 END)
                    + (CASE WHEN m_cents > tm[4] THEN 1 ELSE 0 END)
                  AS BIGINT) AS m_score,
             m_cents
      FROM rfm CROSS JOIN th
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_users,
           CAST(SUM(m_cents) AS BIGINT) AS segment_cents
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    tags=("ml", "segmentation", "stats"),
)
def rfm_quintile_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user compute Recency (days since last
    event at the as-of date), Frequency (event count), Monetary
    (value sum in cents); quintile-score each dimension against
    exact discrete 20/40/60/80th-percentile thresholds; report users
    and monetary mass per (R,F,M) cell — the classic CRM cube.

    Scale — the reason for the threshold-broadcast shape: a global
    ntile(5) would sort every user on one task. Instead the
    thresholds are ONE 1-row exact-percentile aggregate (discrete →
    integer → hash-safe) broadcast back over the user summary, and
    scoring is row-local comparisons. The per-user summary is one
    map-side-combined agg; nothing global ever sees raw events.
    """
    e = t(spark, sf_dir, "events")
    asof = F.lit(_ASOF).cast("date")
    rfm = e.groupBy("user_id").agg(
        F.datediff(asof, F.max(F.col("ts").cast("date"))).alias("r_days"),
        F.count("*").alias("f_events"),
        F.sum(cents("value")).cast("long").alias("m_cents"),
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    th = rfm.agg(
        F.expr(
            f"percentile_disc(array({','.join(map(str, qs))}))"
            " WITHIN GROUP (ORDER BY r_days)"
        ).alias("tr"),
        F.expr(
            f"percentile_disc(array({','.join(map(str, qs))}))"
            " WITHIN GROUP (ORDER BY f_events)"
        ).alias("tf"),
        F.expr(
            f"percentile_disc(array({','.join(map(str, qs))}))"
            " WITHIN GROUP (ORDER BY m_cents)"
        ).alias("tm"),
    )

    def score(metric: str, th_col: str):
        s = F.lit(1)
        for i in range(4):
            s = s + F.when(
                F.col(metric) > F.col(th_col)[i], 1
            ).otherwise(0)
        return s.cast("long")

    scored = rfm.crossJoin(F.broadcast(th)).select(
        score("r_days", "tr").alias("r_score"),
        score("f_events", "tf").alias("f_score"),
        score("m_cents", "tm").alias("m_score"),
        "m_cents",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("m_cents").cast("long").alias("segment_cents"),
        )
    )


# --------------------------------------------------------------------
# Leave-one-out target encoding (no self-leakage).
# --------------------------------------------------------------------
@register(
    "loo_target_encoding",
    """
    WITH stats AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS s
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           CASE WHEN st.n > 1
                THEN CAST(round(CAST(1000 AS DOUBLE)
                       * (st.s - CAST(round(o.o_totalprice*100) AS BIGINT))
                       / (st.n - 1)) AS BIGINT)
                ELSE NULL END AS loo_milli
    FROM orders o JOIN stats st USING (o_orderpriority)
    ORDER BY o.o_orderkey
    """,
    tags=("ml", "encoding"),
)
def loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value: each row is encoded with the mean target of its category
    EXCLUDING itself — (S − x)/(n − 1) — the standard high-cardinality
    categorical encoding that avoids leaking a row's own label into
    its feature (Micci-Barreca 2001's LOO variant). Singleton
    categories encode NULL.

    Exactness: S and x are integer cents; the one division is the
    final derived double, milli-rounded identically in the oracle.

    Scale: category stats are one map-side-combined agg broadcast
    back over the fact table — encoding is a broadcast-join map, no
    per-row window, no shuffle of the facts. The same (n, S) state
    also serves fold-wise or time-sliced encodings by subtracting
    partial sums.
    """
    o = t(spark, sf_dir, "orders")
    stats = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(cents("o_totalprice")).cast("long").alias("s"),
    )
    x = cents("o_totalprice")
    return (
        o.join(F.broadcast(stats), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("n") > 1,
                F.round(
                    1000.0 * (F.col("s") - x) / (F.col("n") - 1)
                ).cast("long"),
            ).alias("loo_milli"),
        )
    )


# --------------------------------------------------------------------
# Hard-negative mining (nearest neighbors with a DIFFERENT label).
# --------------------------------------------------------------------
_HN_K = 3
_QUERY_MOD = 50

_COS_AB = """
    round(
      list_sum(list_transform(range(1, 65), i -> qa[i]::DOUBLE * cb[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> qa[i]::DOUBLE * qa[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> cb[i]::DOUBLE * cb[i]::DOUBLE)))),
      6)
"""


@register(
    "hard_negative_mining",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlabel, embedding AS qa
      FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0
    ), c AS (
      SELECT vec_id AS neg_id, label AS clabel, embedding AS cb
      FROM embeddings
    ), scored AS (
      SELECT query_id, neg_id, {_COS_AB} AS cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {_COS_AB} DESC, neg_id) AS rank
      FROM q JOIN c ON q.qlabel != c.clabel
    )
    SELECT query_id, neg_id, cos, CAST(rank AS BIGINT) AS rank
    FROM scored WHERE rank <= {_HN_K}
    ORDER BY query_id, rank
    """,
    tags=("ml", "ann", "embedding", "llm"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-3 most-similar corpus vectors with a DIFFERENT
    label — the negatives that sit closest to the decision boundary
    and carry most of the gradient signal (in-batch random negatives
    are mostly easy; mined hard negatives are what dense retrievers
    like DPR/ANCE train on).

    Scale shape: the query side (a deterministic id-sampled slice) is
    BROADCAST; the corpus streams once — no shuffle of the corpus,
    and the per-query top-k is a query-partitioned window that
    WindowGroupLimit prunes to k per task. At 100 TB swap the scored
    cross stream for the registry's IVF probe (same output contract)
    once |queries|×|corpus| outgrows one pass.
    """
    emb = t(spark, sf_dir, "embeddings")
    # r11: norms once per vector per side — the scoring used to fold
    # both norms per (query, candidate) pair; identical double ops
    q = emb.where(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        to_double(F.col("embedding")).alias("qa"),
    ).withColumn("qn", norm(F.col("qa")))
    c = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("clabel"),
        to_double(F.col("embedding")).alias("cb"),
    ).withColumn("cn", norm(F.col("cb")))
    scored = (
        c.join(F.broadcast(q), F.col("qlabel") != F.col("clabel"))
        .select(
            "query_id",
            "neg_id",
            F.round(
                dot(F.col("qa"), F.col("cb"))
                / (F.col("qn") * F.col("cn")),
                6,
            ).alias("cos"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), F.col("neg_id")
                )
            ),
        )
    )
    return (
        scored.where(F.col("rank") <= _HN_K)
        .select("query_id", "neg_id", "cos", F.col("rank").cast("long"))
    )


# --------------------------------------------------------------------
# Class-balanced downsampling (exact equal-per-label subset).
# --------------------------------------------------------------------
@register(
    "class_balance_downsample",
    """
    WITH counts AS (
      SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
    ), m AS (
      SELECT MIN(n) AS m FROM counts
    ), ranked AS (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY md5('bal:' || CAST(vec_id AS VARCHAR)), vec_id)
               AS rn
      FROM embeddings
    )
    SELECT r.label,
           CAST(c.n AS BIGINT) AS n_orig,
           COUNT(*) AS n_kept,
           CAST(bit_xor(('0x' || substring(md5(CAST(r.vec_id AS VARCHAR)),
                                           1, 15))::BIGINT) AS BIGINT)
             AS kept_set_checksum
    FROM ranked r
    JOIN counts c ON c.label = r.label
    CROSS JOIN m
    WHERE r.rn <= m.m
    GROUP BY r.label, c.n
    ORDER BY r.label
    """,
    tags=("ml", "sampling", "balance"),
)
def class_balance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: undersample every label to the
    minority class's exact count, selecting rows by a deterministic
    md5 order (reproducible 'random' subset, no RNG state). The
    per-label XOR checksum of kept ids proves both engines select the
    IDENTICAL subset, not merely equally-sized ones — XOR is
    order-independent and mergeable, so the checksum also serves as
    the audit state for incremental rebalancing.

    Scale: per-label rank windows on one label shuffle
    (WindowGroupLimit prunes past the cutoff); the minority size is a
    1-row aggregate broadcast. At 100 TB prefer the registry's
    fixed-k md5 top-k sampler per label — same semantics, same plan.
    """
    emb = t(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count("*").alias("n"))
    m = counts.agg(F.min("n").alias("m"))
    ranked = emb.select(
        "label",
        "vec_id",
        F.row_number()
        .over(
            Window.partitionBy("label").orderBy(
                F.md5(F.concat(F.lit("bal:"), F.col("vec_id").cast("string"))),
                "vec_id",
            )
        )
        .alias("rn"),
    )
    kept = (
        ranked.join(F.broadcast(m))
        .where(F.col("rn") <= F.col("m"))
        .join(F.broadcast(counts), "label")
    )
    vid_hash = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        kept.groupBy("label", "n")
        .agg(
            F.count("*").alias("n_kept"),
            F.expr(
                "bit_xor(CAST(conv(substring(md5(CAST(vec_id AS STRING)),"
                " 1, 15), 16, 10) AS BIGINT))"
            ).alias("kept_set_checksum"),
        )
        .select(
            "label",
            F.col("n").cast("long").alias("n_orig"),
            "n_kept",
            "kept_set_checksum",
        )
    )


# --------------------------------------------------------------------
# Group-aware K-fold assignment (no group straddles folds).
# --------------------------------------------------------------------
_N_FOLDS = 5


@register(
    "group_kfold_assignment",
    f"""
    WITH assigned AS (
      SELECT user_id,
             ('0x' || substring(md5('fold:' || CAST(user_id AS VARCHAR)),
                                1, 8))::BIGINT % {_N_FOLDS} AS fold
      FROM (SELECT DISTINCT user_id FROM events)
    ), joined AS (
      SELECT a.fold, e.user_id FROM events e
      JOIN assigned a ON a.user_id = e.user_id
    ), leak AS (
      SELECT CAST(MAX(nf) AS BIGINT) AS max_folds_per_user
      FROM (SELECT user_id, COUNT(DISTINCT fold) AS nf
            FROM joined GROUP BY user_id)
    )
    SELECT fold,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_rows,
           l.max_folds_per_user
    FROM joined CROSS JOIN leak l
    GROUP BY fold, l.max_folds_per_user
    ORDER BY fold
    """,
    tags=("ml", "cv", "split"),
)
def group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware K-fold assignment (GroupKFold): every user's rows
    land in exactly one of 5 folds, assigned by a deterministic md5
    hash of the group key — the split that prevents the classic CV
    leak where one entity's rows appear in both train and validation.
    The output carries the leak audit inline: max distinct folds any
    user touches (must be 1 by construction, verified by the oracle).

    Scale: the assignment is row-local hashing on the group key (the
    distinct + join here exists to expose the audit; a production
    pipeline computes fold = hash(group) % K directly in the row
    projection with zero extra shuffles).
    """
    e = t(spark, sf_dir, "events")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _N_FOLDS
    )
    # persisted: the per-user fold table (one row per user) is the
    # broadcast side of BOTH the leak audit and the final fold
    # profile — without the cache each consumer re-ran the events
    # scan + distinct underneath it (static audit: 4 scans -> 2)
    assigned = (
        e.select("user_id")
        .distinct()
        .select("user_id", fold.alias("fold"))
        .persist()
    )
    joined = e.select("user_id").join(F.broadcast(assigned), "user_id")
    leak = (
        joined.groupBy("user_id")
        .agg(F.countDistinct("fold").alias("nf"))
        .agg(F.max("nf").cast("long").alias("max_folds_per_user"))
    )
    return (
        joined.crossJoin(F.broadcast(leak))
        .groupBy("fold", "max_folds_per_user")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "fold", "n_users", "n_rows", "max_folds_per_user"
        )
    )


# --------------------------------------------------------------------
# Decision-stump training in SQL (best Gini split, exact argmin).
# --------------------------------------------------------------------
@register(
    "decision_stump_split",
    """
    WITH pts AS (
      -- a split threshold is over OBSERVED feature values (r9
      -- mixed-null sweep: the NULL grid cell led Spark's cumulative
      -- ordering and trailed DuckDB's)
      SELECT CAST(round(value*100) AS BIGINT) AS c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ), grid AS (
      SELECT c, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS a
      FROM pts GROUP BY c
    ), cum AS (
      SELECT c,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(a) OVER w AS BIGINT) AS al,
             CAST(SUM(n) OVER () AS BIGINT) AS nt,
             CAST(SUM(a) OVER () AS BIGINT) AS at
      FROM grid
      WINDOW w AS (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), costs AS (
      SELECT c, nl, nt - nl AS nr, al, at - al AS ar,
             (CAST(nl AS DOUBLE) * nl - CAST(al AS DOUBLE) * al
              - (CAST(nl AS DOUBLE) - al) * (CAST(nl AS DOUBLE) - al))
               / nl
             + (CAST(nt - nl AS DOUBLE) * (nt - nl)
                - CAST(at - al AS DOUBLE) * (at - al)
                - (CAST(nt - nl AS DOUBLE) - (at - al))
                  * (CAST(nt - nl AS DOUBLE) - (at - al)))
               / (nt - nl) AS cost
      FROM cum WHERE nl < nt
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cost ASC, c ASC) AS rn
      FROM costs
    )
    SELECT c AS split_cents, nl AS n_left, nr AS n_right,
           al AS pos_left, ar AS pos_right,
           CAST(round(1e6 * cost / (nl + nr)) AS BIGINT)
             AS gini_cost_micro
    FROM best WHERE rn = 1
    """,
    tags=("ml", "tree", "training"),
)
def decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training as a query: find the value threshold
    that best separates purchase events from the rest by minimizing
    the weighted Gini impurity — a one-node decision tree trained in
    one pass, the building block of every boosted-tree trainer's
    split search (and exactly the histogram-based split scan
    LightGBM/XGBoost run per feature).

    Determinism across engines: the cost is computed ONLY with
    +, −, ×, / on integers exactly representable in float64 — every
    one an IEEE correctly-rounded op in a fixed expression order —
    so the full-precision argmin (ties → smallest split) matches
    bit-for-bit without any rounding epsilon.

    Scale: raw rows reduce to the distinct-value grid first (the
    histogram trick — bounded by value domain, ~49k cells here, NOT
    row count); one cumulative window over the grid yields every
    candidate split's left/right sufficient statistics at once. The
    n² terms stay exact in float64 up to n ≈ 9.4e7 per side; beyond
    that, band values into coarser histogram bins first (the same
    move the GBM libraries make).
    """
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pts = e.select(
        cents("value").alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grid = pts.groupBy("c").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("a")
    )
    w = (
        Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy()
    cum = grid.select(
        "c",
        F.sum("n").over(w).cast("long").alias("nl"),
        F.sum("a").over(w).cast("long").alias("al"),
        F.sum("n").over(tot).cast("long").alias("nt"),
        F.sum("a").over(tot).cast("long").alias("at"),
    )
    nl = F.col("nl").cast("double")
    al = F.col("al").cast("double")
    nr = (F.col("nt") - F.col("nl")).cast("double")
    ar = (F.col("at") - F.col("al")).cast("double")
    cost = (nl * nl - al * al - (nl - al) * (nl - al)) / F.col("nl") + (
        nr * nr - ar * ar - (nr - ar) * (nr - ar)
    ) / (F.col("nt") - F.col("nl"))
    costs = cum.where(F.col("nl") < F.col("nt")).select(
        "c",
        "nl",
        (F.col("nt") - F.col("nl")).alias("nr"),
        "al",
        (F.col("at") - F.col("al")).alias("ar"),
        cost.alias("cost"),
    )
    best = costs.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("cost").asc(), F.col("c").asc())),
    )
    return best.where(F.col("rn") == 1).select(
        F.col("c").alias("split_cents"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        F.col("al").alias("pos_left"),
        F.col("ar").alias("pos_right"),
        F.round(1e6 * F.col("cost") / (F.col("nl") + F.col("nr")))
        .cast("long")
        .alias("gini_cost_micro"),
    )


# --------------------------------------------------------------------
# Mutual information of categorical features vs a binary label.
# --------------------------------------------------------------------
@register(
    "mutual_information_features",
    """
    WITH lab AS (
      SELECT o_orderpriority, o_orderstatus,
             CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS y
      FROM orders
    ), feats AS (
      SELECT 'o_orderpriority' AS feature, o_orderpriority AS x, y FROM lab
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus, y FROM lab
    ), cells AS (
      SELECT feature, x, y, COUNT(*) AS cxy FROM feats
      GROUP BY feature, x, y
    ), margs AS (
      SELECT feature, x, y, cxy,
             CAST(SUM(cxy) OVER (PARTITION BY feature, x) AS BIGINT) AS cx,
             CAST(SUM(cxy) OVER (PARTITION BY feature, y) AS BIGINT) AS cy,
             CAST(SUM(cxy) OVER (PARTITION BY feature) AS BIGINT) AS n
      FROM cells
    )
    SELECT feature,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           round(SUM((CAST(cxy AS DOUBLE) / n)
                     * ln(CAST(n AS DOUBLE) * cxy
                          / (CAST(cx AS DOUBLE) * cy))), 6) AS mi_nats
    FROM margs
    GROUP BY feature
    ORDER BY feature
    """,
    tags=("ml", "stats", "feature-selection"),
)
def mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between each categorical feature and
    a binary high-value label — the standard filter-method feature
    ranking (how many nats of label uncertainty the feature removes).
    Contingency cells and marginals are exact integers; the Σ p·ln
    term is the one float sum, rounded to 6 dp for cross-engine
    parity (same contract as the entropy operator).

    Scale: one map-side-combined cell count per feature (cells =
    |X|×2, tiny); marginals come from windows OVER THE CELL SUMMARY,
    never the fact table. Features share one unioned scan.
    """
    o = t(spark, sf_dir, "orders")
    lab = o.select(
        "o_orderpriority",
        "o_orderstatus",
        F.when(F.col("o_totalprice") > 250000, 1).otherwise(0).alias("y"),
    )
    feats = lab.select(
        F.lit("o_orderpriority").alias("feature"),
        F.col("o_orderpriority").alias("x"),
        "y",
    ).unionByName(
        lab.select(
            F.lit("o_orderstatus").alias("feature"),
            F.col("o_orderstatus").alias("x"),
            "y",
        )
    )
    cells = feats.groupBy("feature", "x", "y").agg(
        F.count("*").alias("cxy")
    )
    margs = cells.select(
        "feature",
        "x",
        "y",
        "cxy",
        F.sum("cxy")
        .over(Window.partitionBy("feature", "x"))
        .cast("long")
        .alias("cx"),
        F.sum("cxy")
        .over(Window.partitionBy("feature", "y"))
        .cast("long")
        .alias("cy"),
        F.sum("cxy")
        .over(Window.partitionBy("feature"))
        .cast("long")
        .alias("n"),
    )
    term = (F.col("cxy").cast("double") / F.col("n")) * F.log(
        F.col("n").cast("double")
        * F.col("cxy")
        / (F.col("cx").cast("double") * F.col("cy"))
    )
    return (
        margs.groupBy("feature")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.round(F.sum(term), 6).alias("mi_nats"),
        )
    )


# --------------------------------------------------------------------
# Empirical-Bayes rate shrinkage (m-estimate toward the global prior).
# --------------------------------------------------------------------
_EB_M = 20


@register(
    "empirical_bayes_rate_shrinkage",
    f"""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ), prior AS (
      SELECT CAST(SUM(x) AS BIGINT) AS gx, CAST(SUM(n) AS BIGINT) AS gn
      FROM per_user
    )
    SELECT u.user_id, u.n, u.x,
           CAST(round(1000.0 * u.x / u.n) AS BIGINT) AS raw_milli,
           CAST(round(1000.0
                 * (u.x + {_EB_M} * (CAST(p.gx AS DOUBLE) / p.gn))
                 / (u.n + {_EB_M})) AS BIGINT) AS shrunk_milli
    FROM per_user u CROSS JOIN prior p
    ORDER BY u.user_id
    """,
    tags=("ml", "stats", "smoothing"),
)
def empirical_bayes_rate_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates: the
    m-estimate (x + m·p₀)/(n + m) pulls every user's raw rate toward
    the global prior with pseudo-count m=20 — the standard fix for
    small-sample rate ranking (CTRs, ratings, conversion), where raw
    rates crown the 1-for-1 user over the 90-for-100 one. Raw and
    shrunk rates ride together so the shrinkage is auditable per row.

    Exactness: counts are exact integers; p₀ and the shrunk rate are
    derived doubles with identical op order, milli-rounded.

    Scale: one map-side-combined per-user agg; the prior is a 1-row
    aggregate broadcast back over the user summary — the same
    threshold-broadcast shape as RFM, never a window.
    """
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    prior = per_user.agg(
        F.sum("x").cast("long").alias("gx"),
        F.sum("n").cast("long").alias("gn"),
    )
    j = per_user.crossJoin(F.broadcast(prior))
    p0 = F.col("gx").cast("double") / F.col("gn")
    return j.select(
        "user_id",
        "n",
        "x",
        F.round(1000.0 * F.col("x") / F.col("n")).cast("long").alias(
            "raw_milli"
        ),
        F.round(1000.0 * (F.col("x") + _EB_M * p0) / (F.col("n") + _EB_M))
        .cast("long")
        .alias("shrunk_milli"),
    )


# --------------------------------------------------------------------
# Stratified adjusted difference (Cochran adjustment over strata).
# --------------------------------------------------------------------
@register(
    "stratified_adjusted_difference",
    """
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CASE WHEN MIN(ts) < TIMESTAMP '2024-01-01 06:00:00'
                  THEN 1 ELSE 0 END AS treated
      FROM events GROUP BY user_id
    ), th AS (
      SELECT quantile_disc(n, [0.25, 0.5, 0.75]) AS q FROM per_user
    ), strat AS (
      SELECT u.*,
             CAST((CASE WHEN n > q[1] THEN 1 ELSE 0 END)
                + (CASE WHEN n > q[2] THEN 1 ELSE 0 END)
                + (CASE WHEN n > q[3] THEN 1 ELSE 0 END) AS BIGINT)
               AS stratum
      FROM per_user u CROSS JOIN th
    )
    SELECT stratum,
           CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_treated,
           CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_control,
           CAST(SUM(CASE WHEN treated = 1 THEN x ELSE 0 END) AS BIGINT)
             AS x_treated,
           CAST(SUM(CASE WHEN treated = 0 THEN x ELSE 0 END) AS BIGINT)
             AS x_control,
           CAST(round(1000.0
                 * (CAST(SUM(CASE WHEN treated = 1 THEN x ELSE 0 END)
                         AS DOUBLE)
                      / SUM(CASE WHEN treated = 1 THEN n ELSE 0 END)
                    - CAST(SUM(CASE WHEN treated = 0 THEN x ELSE 0 END)
                           AS DOUBLE)
                      / SUM(CASE WHEN treated = 0 THEN n ELSE 0 END)))
                AS BIGINT) AS rate_diff_milli
    FROM strat
    GROUP BY stratum
    HAVING SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) > 0
       AND SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) > 0
    ORDER BY stratum
    """,
    tags=("ml", "causal", "stats"),
)
def stratified_adjusted_difference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified treatment-control comparison (Cochran 1968): users
    who appeared within the first six hours ('treated' by early
    exposure)
    vs later arrivals, compared on purchase rate WITHIN activity-
    volume strata (quartiles of event count — the confounder: active
    users both appear earlier and purchase more). Each stratum
    reports both arms' exact counts and the within-stratum rate
    difference; the overall adjusted effect is the stratum-size-
    weighted combination of these rows — the simplest honest
    observational adjustment, and the shape propensity stratification
    generalizes.

    Scale: one per-user agg; quartile thresholds are a 1-row exact
    percentile broadcast (the RFM shape); strata reduce map-side.
    Degenerate strata (an empty arm) are excluded.
    """
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.when(
            F.min("ts") < F.lit("2024-01-01 06:00:00").cast("timestamp"),
            1,
        )
        .otherwise(0)
        .alias("treated"),
    )
    th = per_user.agg(
        F.expr(
            "percentile_disc(array(0.25, 0.5, 0.75))"
            " WITHIN GROUP (ORDER BY n)"
        ).alias("q")
    )
    stratum = F.lit(0)
    for i in range(3):
        stratum = stratum + F.when(
            F.col("n") > F.col("q")[i], 1
        ).otherwise(0)
    strat = per_user.crossJoin(F.broadcast(th)).select(
        "n", "x", "treated", stratum.cast("long").alias("stratum")
    )
    t1 = F.col("treated") == 1
    n_t = F.sum(F.when(t1, 1).otherwise(0))
    n_c = F.sum(F.when(~t1, 1).otherwise(0))
    x_t = F.sum(F.when(t1, F.col("x")).otherwise(0))
    x_c = F.sum(F.when(~t1, F.col("x")).otherwise(0))
    ev_t = F.sum(F.when(t1, F.col("n")).otherwise(0))
    ev_c = F.sum(F.when(~t1, F.col("n")).otherwise(0))
    return (
        strat.groupBy("stratum")
        .agg(
            n_t.cast("long").alias("n_treated"),
            n_c.cast("long").alias("n_control"),
            x_t.cast("long").alias("x_treated"),
            x_c.cast("long").alias("x_control"),
            F.round(
                1000.0
                * (x_t.cast("double") / ev_t - x_c.cast("double") / ev_c)
            )
            .cast("long")
            .alias("rate_diff_milli"),
        )
        .where((F.col("n_treated") > 0) & (F.col("n_control") > 0))
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
