"""Round-5 analytics batch 4: experimentation estimators and
concentration/association classics.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013):
  the industry-standard pre-period covariate adjustment that shrinks
  A/B metric variance by 1-rho^2 without biasing the lift.
- Difference-in-differences (Card & Krueger 1994 shape): the 2x2
  pre/post x treat/control estimator that nets out both the level
  difference between arms and the common time trend.
- ABC / Pareto revenue classification: cumulative-share inventory
  classes (A<=80%, B<=95%, C rest) — the catalog triage behind
  "which 20% of parts carry 80% of revenue".
- Kendall tau-b (Kendall 1938; tie correction 1945): the
  concordance-based rank correlation, computed EXACTLY from pairwise
  sign agreement on a calendar-bounded daily grain — completes the
  repo's correlation family (Pearson, Spearman, rolling, Theil-Sen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_CUPED_CUT = "2024-01-16"  # pre-period = Jan 1-15, post = Jan 16-30


@register(
    "cuped_adjusted_lift",
    f"""
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
               THEN CAST(round(value*100) AS BIGINT) END), 0) AS x,
             COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
               THEN CAST(round(value*100) AS BIGINT) END), 0) AS y
      FROM events GROUP BY user_id
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM u
    ), th AS (
      SELECT (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
               AS theta,
             CAST(sx AS DOUBLE) / n AS mean_x
      FROM g
    ), a AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(x) AS BIGINT) AS sxa,
             CAST(SUM(y) AS BIGINT) AS sya,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxxa,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxya,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syya
      FROM u GROUP BY arm
    ), m AS (
      SELECT arm, n_users, theta,
             CAST(sxa AS DOUBLE) / n_users AS mxa,
             CAST(sya AS DOUBLE) / n_users AS mya,
             CAST(sxxa AS DOUBLE) / n_users
               - (CAST(sxa AS DOUBLE) / n_users)
                 * (CAST(sxa AS DOUBLE) / n_users) AS vxa,
             CAST(syya AS DOUBLE) / n_users
               - (CAST(sya AS DOUBLE) / n_users)
                 * (CAST(sya AS DOUBLE) / n_users) AS vya,
             CAST(sxya AS DOUBLE) / n_users
               - (CAST(sxa AS DOUBLE) / n_users)
                 * (CAST(sya AS DOUBLE) / n_users) AS cva,
             mean_x
      FROM a, th
    )
    SELECT arm, n_users,
           CAST(round(1000000.0 * theta) AS BIGINT) AS theta_micro,
           CAST(round(1000.0 * mya) AS BIGINT) AS mean_post_milli,
           CAST(round(1000.0 * (mya - theta * (mxa - mean_x)))
                AS BIGINT) AS mean_cuped_milli,
           CAST(round(10000.0 * (1.0
             - (vya - 2.0 * theta * cva + theta * theta * vxa) / vya))
                AS BIGINT) AS varred_bp
    FROM m ORDER BY arm
    """,
    tags=("experiment", "stats", "variance-reduction"),
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data; Deng
    et al. 2013): per-user pre-period spend x and post-period spend y
    in integer cents, pooled theta = cov(x,y)/var(x), and the
    adjusted metric y - theta*(x - mean(x)) whose per-arm variance
    shrinks by the squared pre/post correlation. Reports per arm the
    raw and CUPED-adjusted post means (milli-cents) and the achieved
    variance reduction in basis points. All sufficient statistics are
    exact (BIGINT sums, DECIMAL(38,0)-widened second moments); the
    only doubles are the final ratio algebra, written in the same
    operation order on both engines.

    Scale shape: one map-side-combined groupBy(user_id) collapses the
    event volume to one row per user; the global theta is a 1-row
    aggregate cross-joined (broadcast) onto the 2-row per-arm
    aggregate. Nothing after the first shuffle is data-sized.
    """
    e = t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    pre = F.col("ts") < F.lit(_CUPED_CUT).cast("timestamp")
    u = e.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(pre, c)), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.when(~pre, c)), F.lit(0)).alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    g = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(xd * F.col("y")).alias("sxy"),
    )
    # try_divide: a constant (or all-zero) pre-period metric zeroes
    # the covariate variance in theta's denominator — the oracle's
    # double/0 is NULL in DuckDB while ANSI Spark raises
    # (n=1-per-group fixture finding, round 8)
    th = g.select(
        F.try_divide(
            F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy") / F.col("n"),
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.col("n"),
        ).alias("theta"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_x"),
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sxa"),
        F.sum("y").cast("long").alias("sya"),
        F.sum(xd * F.col("x")).alias("sxxa"),
        F.sum(xd * F.col("y")).alias("sxya"),
        F.sum(yd * F.col("y")).alias("syya"),
    )
    mxa = F.col("sxa").cast("double") / F.col("n_users")
    mya = F.col("sya").cast("double") / F.col("n_users")
    m = a.crossJoin(F.broadcast(th)).select(
        "arm",
        "n_users",
        "theta",
        "mean_x",
        mxa.alias("mxa"),
        mya.alias("mya"),
        (F.col("sxxa").cast("double") / F.col("n_users") - mxa * mxa)
        .alias("vxa"),
        (F.col("syya").cast("double") / F.col("n_users") - mya * mya)
        .alias("vya"),
        (F.col("sxya").cast("double") / F.col("n_users") - mxa * mya)
        .alias("cva"),
    )
    theta = F.col("theta")
    return m.select(
        F.col("arm").cast("long").alias("arm"),
        "n_users",
        F.round(1000000.0 * theta).cast("long").alias("theta_micro"),
        F.round(1000.0 * F.col("mya")).cast("long").alias(
            "mean_post_milli"
        ),
        F.round(
            1000.0
            * (F.col("mya") - theta * (F.col("mxa") - F.col("mean_x")))
        )
        .cast("long")
        .alias("mean_cuped_milli"),
        F.round(
            10000.0
            * (
                F.lit(1.0)
                # try_divide: a zero post-period variance (single
                # user per arm / constant outcome) zeroes the
                # variance-reduction denominator — oracle NULLs it
                - F.try_divide(
                    F.col("vya")
                    - 2.0 * theta * F.col("cva")
                    + theta * theta * F.col("vxa"),
                    F.col("vya"),
                )
            )
        )
        .cast("long")
        .alias("varred_bp"),
    )


@register(
    "did_two_period_lift",
    f"""
    WITH a AS (
      SELECT user_id % 2 AS arm,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
               THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
               THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
             CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
               THEN CAST(round(value*100) AS BIGINT) END), 0)
               AS BIGINT) AS s_pre,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
               THEN CAST(round(value*100) AS BIGINT) END), 0)
               AS BIGINT) AS s_post
      FROM events GROUP BY user_id % 2
    ), d AS (
      SELECT arm, n_pre, n_post,
             CAST(s_pre AS DOUBLE) / n_pre AS pre_mean,
             CAST(s_post AS DOUBLE) / n_post AS post_mean,
             CAST(s_post AS DOUBLE) / n_post
               - CAST(s_pre AS DOUBLE) / n_pre AS delta
      FROM a
    )
    SELECT arm, n_pre, n_post,
           CAST(round(1000.0 * pre_mean) AS BIGINT) AS pre_mean_milli,
           CAST(round(1000.0 * post_mean) AS BIGINT) AS post_mean_milli,
           CAST(round(1000.0 * delta) AS BIGINT) AS delta_milli,
           CAST(round(1000.0 * (
             MAX(CASE WHEN arm = 1 THEN delta END) OVER ()
             - MAX(CASE WHEN arm = 0 THEN delta END) OVER ()))
             AS BIGINT) AS did_milli
    FROM d ORDER BY arm
    """,
    tags=("experiment", "stats", "causal"),
)
def did_two_period_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the 2x2 (arm x period) design
    (Card & Krueger 1994 shape): per-event mean value in cents for
    each cell, the within-arm post-minus-pre delta, and the DiD
    estimate delta(treat) - delta(control) — the causal lift net of
    both the arm-level offset and the common time trend, under the
    parallel-trends assumption. Arms are a deterministic user_id % 2
    split; all cell sums are exact integer cents.

    Scale shape: one map-side-combined groupBy(arm) with conditional
    aggregates — the event volume collapses in the first (and only)
    shuffle; the DiD window runs over 2 summary rows.
    """
    e = t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    pre = F.col("ts") < F.lit(_CUPED_CUT).cast("timestamp")
    a = e.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.sum(F.when(pre, 1).otherwise(0)).cast("long").alias("n_pre"),
        F.sum(F.when(~pre, 1).otherwise(0)).cast("long").alias("n_post"),
        F.coalesce(F.sum(F.when(pre, c)), F.lit(0))
        .cast("long")
        .alias("s_pre"),
        F.coalesce(F.sum(F.when(~pre, c)), F.lit(0))
        .cast("long")
        .alias("s_post"),
    )
    # try_divide: an arm with no rows in one period (n=1-per-group
    # fixture: every event lands in a single period) has a 0-count
    # mean — the oracle's double/0 is NULL in DuckDB
    pre_mean = F.try_divide(F.col("s_pre").cast("double"), F.col("n_pre"))
    post_mean = F.try_divide(
        F.col("s_post").cast("double"), F.col("n_post")
    )
    d = a.select(
        F.col("arm").cast("long").alias("arm"),
        "n_pre",
        "n_post",
        pre_mean.alias("pre_mean"),
        post_mean.alias("post_mean"),
        (post_mean - pre_mean).alias("delta"),
    )
    wall = Window.partitionBy()
    return d.select(
        "arm",
        "n_pre",
        "n_post",
        F.round(1000.0 * F.col("pre_mean")).cast("long").alias(
            "pre_mean_milli"
        ),
        F.round(1000.0 * F.col("post_mean")).cast("long").alias(
            "post_mean_milli"
        ),
        F.round(1000.0 * F.col("delta")).cast("long").alias("delta_milli"),
        F.round(
            1000.0
            * (
                F.max(F.when(F.col("arm") == 1, F.col("delta"))).over(wall)
                - F.max(F.when(F.col("arm") == 0, F.col("delta"))).over(
                    wall
                )
            )
        )
        .cast("long")
        .alias("did_milli"),
    )


@register(
    "abc_revenue_classes",
    """
    WITH pr AS (
      SELECT l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS rev_e4
      FROM lineitem GROUP BY l_partkey
    ), c AS (
      -- window sums stay HUGEINT (overflow-proof; the Spark twin
      -- widens to DECIMAL(38,0)); class revenue surfaces as DOUBLE
      -- because a class total can exceed int64 (r10 extreme axis)
      SELECT l_partkey, rev_e4,
             SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_e4,
             SUM(rev_e4) OVER () AS total_e4
      FROM pr
    ), k AS (
      SELECT CASE WHEN 100 * cum_e4 <= 80 * total_e4 THEN 'A'
                  WHEN 100 * cum_e4 <= 95 * total_e4 THEN 'B'
                  ELSE 'C' END AS cls,
             rev_e4, total_e4
      FROM c
    )
    SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(CAST(SUM(rev_e4) AS VARCHAR) AS DOUBLE) AS rev_e4,
           CAST(round(1000.0 * SUM(rev_e4) / MAX(total_e4)) AS BIGINT)
             AS share_milli
    FROM k GROUP BY cls ORDER BY cls
    """,
    tags=("analytics", "concentration", "window"),
)
def abc_revenue_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by discounted revenue:
    rank parts by revenue descending (part key tie-break), take the
    running cumulative share, and class A = parts inside the first
    80% of revenue, B = next 15%, C = the tail — the inventory triage
    that shows how few parts carry most of the revenue. Class
    boundaries are exact integer comparisons (100*cum vs 80*total in
    e4 cents unit), so no float ever decides a class.

    Scale shape: lineitem collapses in one map-side-combined
    groupBy(partkey) to catalog size (#parts). The cumulative window
    is a single global sort over that catalog-bounded summary — at
    100 TB of facts the sorted side is still only #parts rows; if the
    catalog itself were huge the two-pass banded-rank pattern
    (dense_rowids_banded) replaces the single-partition window.
    """
    li = t(spark, sf_dir, "lineitem")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    pr = li.groupBy("l_partkey").agg(
        F.sum(rev).cast("long").alias("rev_e4")
    )
    wcum = Window.orderBy(
        F.col("rev_e4").desc(), "l_partkey"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    # cumulative/total/class sums widen to DECIMAL(38,0) (dsum
    # semantics): a cum over the whole catalog overflows int64 at
    # scale; class revenue surfaces as DOUBLE (r10 extreme axis)
    rev_dec = F.col("rev_e4").cast("decimal(38,0)")
    c = pr.select(
        "rev_e4",
        F.sum(rev_dec).over(wcum).alias("cum_e4"),
        F.sum(rev_dec).over(wall).alias("total_e4"),
    )
    cls = (
        F.when(100 * F.col("cum_e4") <= 80 * F.col("total_e4"), "A")
        .when(100 * F.col("cum_e4") <= 95 * F.col("total_e4"), "B")
        .otherwise("C")
    )
    return (
        c.select(cls.alias("cls"), "rev_e4", "total_e4")
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(rev_dec).cast("double").alias("rev_e4"),
            F.round(
                1000.0 * F.sum(rev_dec).cast("double")
                / F.max("total_e4").cast("double")
            )
            .cast("long")
            .alias("share_milli"),
        )
    )


@register(
    "kendall_tau_daily_value",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), p AS (
      SELECT a.event_type,
             CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS conc,
             CASE WHEN b.s < a.s THEN 1 ELSE 0 END AS disc,
             CASE WHEN b.s = a.s THEN 1 ELSE 0 END AS tie
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day < b.day
    ), g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(conc) AS BIGINT) AS n_conc,
             CAST(SUM(disc) AS BIGINT) AS n_disc,
             CAST(SUM(tie) AS BIGINT) AS n_tie
      FROM p GROUP BY event_type
    ), n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM d GROUP BY event_type
    )
    SELECT g.event_type, n.n_days, g.n_conc, g.n_disc, g.n_tie,
           CAST(round(1000.0 * (g.n_conc - g.n_disc)
             / sqrt(CAST(g.n0 AS DOUBLE) * (g.n0 - g.n_tie)))
             AS BIGINT) AS tau_milli
    FROM g JOIN n ON g.event_type = n.event_type
    ORDER BY g.event_type
    """,
    tags=("stats", "correlation", "timeseries"),
)
def kendall_tau_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation (Kendall 1938; tie-corrected
    1945) between calendar day and daily spend, per event type: count
    concordant / discordant / value-tied day pairs exactly and score
    tau_b = (C - D) / sqrt(n0 * (n0 - T)) — the trend statistic whose
    sign test is the Mann-Kendall trend test. Day ties are impossible
    (the grain is the distinct day), so only the value-tie correction
    term survives.

    Scale shape: the event volume collapses first in a map-side-
    combined groupBy(type, day) to a CALENDAR-bounded grain (~30 rows
    per type regardless of data size); the O(days^2) pair join runs
    on that bounded summary only — 435 pairs per type here, never
    data-sized. At 100 TB the pair join input is identical.
    """
    e = t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    d = (
        e.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.sum(c).cast("long").alias("s"))
    )
    a, b = d.alias("a"), d.alias("b")
    p = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.s") > F.col("a.s"), 1).otherwise(0).alias("conc"),
        F.when(F.col("b.s") < F.col("a.s"), 1).otherwise(0).alias("disc"),
        F.when(F.col("b.s") == F.col("a.s"), 1).otherwise(0).alias("tie"),
    )
    g = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("conc").cast("long").alias("n_conc"),
        F.sum("disc").cast("long").alias("n_disc"),
        F.sum("tie").cast("long").alias("n_tie"),
    )
    n = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        g.join(n, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_conc",
            "n_disc",
            "n_tie",
            F.round(
                1000.0
                * (F.col("n_conc") - F.col("n_disc"))
                / F.sqrt(
                    F.col("n0").cast("double")
                    * (F.col("n0") - F.col("n_tie"))
                )
            )
            .cast("long")
            .alias("tau_milli"),
        )
    )
