"""Statistics: descriptive moments and quantiles, concentration and
inequality indices, hypothesis tests, experiment readouts (lift,
effect sizes, variance reduction), resampling, and survival curves.

The survival queries share one signup -> first-purchase subject table
(``_signup_purchase_subjects``), built once per (session, sf_dir)
through ``session.memo`` and persisted until the cache is cleared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.session import memo
from filemapreduce_spark.sources.tables import load_table as t

# The observation horizon of the survival queries: a subject with no
# event by this date is right-censored there. The Spark plans and the
# oracles all censor at it, so the two sides cannot drift apart.
HORIZON = "2024-01-31"


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
# Welch's unequal-variance t-test vs a baseline group.
# --------------------------------------------------------------------
@register(
    "welch_ttest_vs_view",
    """
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s1,
             -- HUGEINT per-row product AND sum (mirrors Spark's
             -- DECIMAL(38,0) s2): cents^2 overflows int64 per row
             -- for large money (r10 extreme axis)
             SUM(CAST(round(value*100) AS HUGEINT)
                 * CAST(round(value*100) AS BIGINT)) AS s2
      FROM events GROUP BY event_type
    ), stat AS (
      SELECT event_type, n, s1, s2,
             CAST(s1 AS DOUBLE) / n AS mean,
             -- VARCHAR->DOUBLE: DuckDB's HUGEINT->DOUBLE truncates
             (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
              - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
               AS var
      FROM m
    )
    SELECT a.event_type, a.n AS n_a, b.n AS n_view,
           CAST(round((a.mean - b.mean) * 1000) AS BIGINT) AS mean_diff_milli,
           CAST(round(
             (a.mean - b.mean)
             / sqrt(a.var / a.n + b.var / b.n) * 1000) AS BIGINT)
             AS t_milli,
           CAST(round(
             ((a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n))
             / ((a.var / a.n) * (a.var / a.n) / (a.n - 1)
                + (b.var / b.n) * (b.var / b.n) / (b.n - 1)) * 1000)
             AS BIGINT) AS df_milli
    FROM stat a CROSS JOIN (SELECT * FROM stat
                            WHERE event_type = 'view') b
    WHERE a.event_type != 'view'
    ORDER BY a.event_type
    """,
    tags=("stats", "hypothesis-test"),
)
def welch_ttest_vs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic (and Welch–Satterthwaite
    degrees of freedom) comparing each event type's value distribution
    against the 'view' baseline — the default A/B-test statistic when
    variances differ between arms (Welch 1947). Sufficient statistics
    (n, Σx, Σx² in exact integer cents) reduce map-side; mean/var/t/df
    are derived doubles computed op-for-op identically in the oracle
    and rounded to milli.

    Scale: one map-side-combined aggregate to #groups rows, then a
    broadcast cross join of the single baseline row — the whole test
    costs one scan regardless of row count, and the sufficient-
    statistics row per arm is mergeable across partitions/days like
    every other sketch state in the registry.
    """
    e = t(spark, sf_dir, "events")
    c = cents("value")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(c).cast("long").alias("s1"),
        # DECIMAL(38,0) second moment: sum of cents-squared passes
        # int64 once n x c^2 nears 9e18 (n ~ 1e9 at c ~ 1e5 cents);
        # cast an OPERAND so the multiply itself is decimal — a cast
        # on the product still evaluates c*c in int64 first
        F.sum(c.cast("decimal(38,0)") * c).alias("s2"),
    )
    # try_divide on n-1: a single-row arm has undefined variance —
    # the oracle's double/0 is NULL in DuckDB while ANSI Spark raises
    # (pct=1 degenerate-fixture sweep finding, round 8); the NULL then
    # propagates through t/df exactly as in the oracle
    stat = m.select(
        "event_type",
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean"),
        F.try_divide(
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n"),
            F.col("n") - 1,
        ).alias("var"),
    )
    base = stat.where(F.col("event_type") == "view").select(
        F.col("n").alias("n_view"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    a = stat.where(F.col("event_type") != "view")
    j = a.crossJoin(F.broadcast(base))
    se_a = F.col("var") / F.col("n")
    se_b = F.col("var_b") / F.col("n_view")
    # try_divide: identical-constant arms make sqrt(se_a+se_b) = 0
    # and single-row arms make the df denominator NULL/0 — DuckDB
    # NULLs both
    t_stat = F.try_divide(
        F.col("mean") - F.col("mean_b"), F.sqrt(se_a + se_b)
    )
    df = F.try_divide(
        (se_a + se_b) * (se_a + se_b),
        F.try_divide(se_a * se_a, F.col("n") - 1)
        + F.try_divide(se_b * se_b, F.col("n_view") - 1),
    )
    return j.select(
        "event_type",
        F.col("n").alias("n_a"),
        "n_view",
        F.round((F.col("mean") - F.col("mean_b")) * 1000)
        .cast("long")
        .alias("mean_diff_milli"),
        F.round(t_stat * 1000).cast("long").alias("t_milli"),
        F.round(df * 1000).cast("long").alias("df_milli"),
    )


_KS_TYPES = ("click", "error", "purchase", "signup")
_BASE = "view"


# --------------------------------------------------------------------
# Exact two-sample KS distance (value-grain ECDF, integer rational D).
# --------------------------------------------------------------------
@register(
    "ks_test_vs_view",
    f"""
    WITH ev AS (
      -- an ECDF is over OBSERVED values (r9 mixed-null sweep: a NULL
      -- grid cell rode the cumulative ordering at opposite ends)
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), sides AS (
      SELECT event_type AS pair, c, 1 AS ca, 0 AS cb
      FROM ev WHERE event_type != '{_BASE}'
      UNION ALL
      SELECT p.pair, c, 0, 1
      FROM ev CROSS JOIN (
        SELECT unnest(['{"', '".join(_KS_TYPES)}']) AS pair) p
      WHERE event_type = '{_BASE}'
    ), grid AS (
      SELECT pair, c,
             CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
      FROM sides GROUP BY pair, c
    ), cum AS (
      SELECT pair, c,
             CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
             CAST(SUM(ca) OVER p AS BIGINT) AS n_a,
             CAST(SUM(cb) OVER p AS BIGINT) AS n_b
      FROM grid
      WINDOW w AS (PARTITION BY pair ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY pair)
    ), diffs AS (
      SELECT pair, c, n_a, n_b,
             abs(cum_a * n_b - cum_b * n_a) AS d_num,
             ROW_NUMBER() OVER (PARTITION BY pair
                                ORDER BY abs(cum_a * n_b - cum_b * n_a) DESC,
                                         c ASC) AS rn
      FROM cum
    )
    SELECT pair, n_a, n_b,
           CAST(round(1000.0 * d_num / (n_a * n_b)) AS BIGINT) AS d_milli,
           c AS argmax_cents
    FROM diffs WHERE rn = 1
    ORDER BY pair
    """,
    tags=("stats", "hypothesis-test", "drift"),
)
def ks_test_vs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between each
    event type's value distribution and the 'view' baseline: D =
    max |ECDF_a − ECDF_b|, reported in milli with the value where the
    gap peaks — the standard nonparametric drift test monitoring
    pipelines gate features on.

    Exactness: the ECDF comparison is carried as the INTEGER
    |cum_a·n_b − cum_b·n_a| (a common-denominator rational), so the
    argmax and D are exact; the one division happens after the max.

    Scale: raw values reduce to the (pair, distinct-value) grid
    first (map-side combined), so every window runs over the value
    DOMAIN per pair — bounded by value cardinality, not row count;
    all windows share one pair-partitioned exchange, and the final
    top-1 is WindowGroupLimit-pruned.

    Form adjudicated r12 (r11 verdict item 5): the r11 grid-first
    rewrite (pre-aggregate to the (event_type, value) grid, then
    explode the baseline K ways — one scan, but one EXTRA exchange)
    was paired-A/B'd against this two-branch union form at sf0.1 AND
    on the 10x sf1 synthetic fixture with data-sized confs.
    Two-branch won both: 0.477 vs 0.516 s best-of-5 at sf0.1, 0.645
    vs 0.765 s at sf1 (AQE on, 32 partitions) — the second pruned
    scan is cheaper than the grid form's extra aggregation exchange
    at every measured scale. Outputs verified identical at both.
    """
    # ECDF over observed values (see oracle note). A NULL event_type
    # is neither a test series nor the baseline — dropped on both
    # sides via NULL != / == semantics, exactly as the oracle.
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", cents("value").alias("c"))
    )
    a = ev.where(F.col("event_type") != _BASE).select(
        F.col("event_type").alias("pair"),
        "c",
        F.lit(1).alias("ca"),
        F.lit(0).alias("cb"),
    )
    b = ev.where(F.col("event_type") == _BASE).select(
        F.explode(F.array(*[F.lit(x) for x in _KS_TYPES])).alias("pair"),
        "c",
        F.lit(0).alias("ca"),
        F.lit(1).alias("cb"),
    )
    grid = (
        a.unionByName(b)
        .groupBy("pair", "c")
        .agg(
            F.sum("ca").cast("long").alias("ca"),
            F.sum("cb").cast("long").alias("cb"),
        )
    )
    w = (
        Window.partitionBy("pair")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("pair")
    cum = grid.select(
        "pair",
        "c",
        F.sum("ca").over(w).cast("long").alias("cum_a"),
        F.sum("cb").over(w).cast("long").alias("cum_b"),
        F.sum("ca").over(p).cast("long").alias("n_a"),
        F.sum("cb").over(p).cast("long").alias("n_b"),
    )
    d_num = F.abs(
        F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
    )
    diffs = cum.select(
        "pair", "c", "n_a", "n_b", d_num.alias("d_num")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("pair").orderBy(
                F.col("d_num").desc(), F.col("c").asc()
            )
        ),
    )
    return (
        diffs.where(F.col("rn") == 1)
        .select(
            "pair",
            "n_a",
            "n_b",
            F.round(1000.0 * F.col("d_num") / (F.col("n_a") * F.col("n_b")))
            .cast("long")
            .alias("d_milli"),
            F.col("c").alias("argmax_cents"),
        )
    )


# --------------------------------------------------------------------
# Covariance matrix from one pass of exact co-moments.
# --------------------------------------------------------------------
@register(
    "covariance_matrix_lineitem",
    """
    WITH m AS (
      -- sums stay HUGEINT (no BIGINT cast): a cents*cents product sum
      -- exceeds int64 past ~10^5 rows, exactly like the Spark side's
      -- DECIMAL(38,0) accumulators
      SELECT COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS sq,
             SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS sp,
             SUM(CAST(round(l_discount*100) AS BIGINT)) AS sd,
             SUM(CAST(l_quantity AS HUGEINT)
                 * CAST(l_quantity AS BIGINT)) AS sqq,
             SUM(CAST(round(l_extendedprice*100) AS HUGEINT)
                 * CAST(round(l_extendedprice*100) AS BIGINT)) AS spp,
             SUM(CAST(round(l_discount*100) AS HUGEINT)
                 * CAST(round(l_discount*100) AS BIGINT)) AS sdd,
             SUM(CAST(l_quantity AS HUGEINT)
                 * CAST(round(l_extendedprice*100) AS BIGINT)) AS sqp,
             SUM(CAST(l_quantity AS HUGEINT)
                 * CAST(round(l_discount*100) AS BIGINT)) AS sqd,
             SUM(CAST(round(l_extendedprice*100) AS HUGEINT)
                 * CAST(round(l_discount*100) AS BIGINT)) AS spd
      FROM lineitem
    ), cells(var_a, var_b, s_ab, s_a, s_b) AS (
      SELECT 'quantity', 'quantity', sqq, sq, sq FROM m
      UNION ALL SELECT 'quantity', 'price_cents', sqp, sq, sp FROM m
      UNION ALL SELECT 'quantity', 'discount_cents', sqd, sq, sd FROM m
      UNION ALL SELECT 'price_cents', 'price_cents', spp, sp, sp FROM m
      UNION ALL SELECT 'price_cents', 'discount_cents', spd, sp, sd FROM m
      UNION ALL SELECT 'discount_cents', 'discount_cents', sdd, sd, sd FROM m
    )
    SELECT var_a, var_b,
           -- single rounding point: the numerator n*s_ab - s_a*s_b is
           -- EXACT in HUGEINT, so both engines convert the same
           -- integer to double once and divide by the same n*(n-1) --
           -- no catastrophic cancellation of independently-rounded
           -- doubles (which diverged in the last digit at sf0.1)
           round(CAST((SELECT n FROM m) * s_ab - s_a * s_b AS DOUBLE)
                 / (CAST((SELECT n FROM m) AS DOUBLE)
                    * ((SELECT n FROM m) - 1)), 6) AS cov
    FROM cells
    ORDER BY var_a, var_b
    """,
    tags=("stats", "covariance", "linalg"),
)
def covariance_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance matrix of (quantity, price, discount) from
    ONE aggregation pass: all 9 sufficient statistics (3 sums + 6
    cross/self products, exact BIGINT) reduce map-side, and every
    matrix cell derives from them with the identical
    (Σab − Σa·Σb/n)/(n−1) double expression — the feature-covariance
    input to PCA/whitening and the multivariate generalization of the
    registry's pairwise correlation operator.

    Scale: the whole matrix costs one scan regardless of dimension
    count growing as d(d+1)/2 sufficient statistics — for wide d the
    same pattern runs as the mapInArrow gram-matrix operator
    (X^T·X partials); this is the exact-integer small-d form. The
    product accumulators are DECIMAL(38,0): a cents×cents term is
    ~10^14, so an int64 sum overflows past ~10^5 rows (it DID at
    sf0.1) — the decimal accumulator matches DuckDB's HUGEINT sum
    exactly and stays partial-agg-safe.
    """
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    p = cents("l_extendedprice")
    d = cents("l_discount")
    dec = "decimal(38,0)"
    m = li.agg(
        F.count("*").alias("n"),
        F.sum(q.cast(dec)).alias("sq"),
        F.sum(p.cast(dec)).alias("sp"),
        F.sum(d.cast(dec)).alias("sd"),
        # cast the FIRST factor before multiplying: a cents*cents
        # product at large money overflows int64 PER ROW, not just in
        # the sum (r10 extreme axis; oracle mirrors with HUGEINT)
        F.sum(q.cast(dec) * q).alias("sqq"),
        F.sum(p.cast(dec) * p).alias("spp"),
        F.sum(d.cast(dec) * d).alias("sdd"),
        F.sum(q.cast(dec) * p).alias("sqp"),
        F.sum(q.cast(dec) * d).alias("sqd"),
        F.sum(p.cast(dec) * d).alias("spd"),
    )
    cells = [
        ("quantity", "quantity", "sqq", "sq", "sq"),
        ("quantity", "price_cents", "sqp", "sq", "sp"),
        ("quantity", "discount_cents", "sqd", "sq", "sd"),
        ("price_cents", "price_cents", "spp", "sp", "sp"),
        ("price_cents", "discount_cents", "spd", "sp", "sd"),
        ("discount_cents", "discount_cents", "sdd", "sd", "sd"),
    ]
    def cov_cell(va, vb, ab, a, b):
        # numerator exact in DECIMAL(38,0) (n*s_ab ~ 1e25, s_a*s_b ~
        # 1e28 both fit), converted to double ONCE — mirrors the
        # oracle's HUGEINT numerator so the single division point
        # yields bit-identical doubles
        numer = (
            F.col("n").cast("decimal(38,0)") * F.col(ab)
            - F.col(a) * F.col(b)
        ).cast("double")
        cov = F.round(
            numer / (F.col("n").cast("double") * (F.col("n") - 1)),
            6,
        )
        return F.struct(
            F.lit(va).alias("var_a"),
            F.lit(vb).alias("var_b"),
            cov.alias("cov"),
        )

    # all 6 cells explode out of the ONE aggregate row — a per-cell
    # union re-read the unpersisted 1-row aggregate and re-ran the
    # full lineitem scan for every cell (static audit: 6 scans); the
    # explode keeps the claimed one-pass shape with no cache at all
    return (
        m.select(
            F.explode(F.array(*[cov_cell(*c) for c in cells])).alias(
                "cell"
            )
        )
        .select("cell.var_a", "cell.var_b", "cell.cov")
    )


# --------------------------------------------------------------------
# Market concentration: HHI + CR4 per nation's supplier balances.
# --------------------------------------------------------------------
@register(
    "market_concentration_hhi",
    """
    WITH pos AS (
      SELECT s_nationkey,
             CAST(round(s_acctbal*100) AS BIGINT) AS bal
      FROM supplier WHERE s_acctbal > 0
    ), shares AS (
      SELECT s_nationkey, bal,
             CAST(SUM(bal) OVER (PARTITION BY s_nationkey) AS BIGINT)
               AS total,
             ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                ORDER BY bal DESC, bal) AS rnk
      FROM pos
    )
    SELECT s_nationkey,
           COUNT(*) AS n_suppliers,
           CAST(round(1e6 * SUM((CAST(bal AS DOUBLE) / total)
                                * (CAST(bal AS DOUBLE) / total)))
                AS BIGINT) AS hhi_micro,
           CAST(round(1000.0 * SUM(CASE WHEN rnk <= 4
                                        THEN CAST(bal AS DOUBLE) / total
                                        ELSE 0 END)) AS BIGINT)
             AS cr4_milli
    FROM shares
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
    tags=("stats", "concentration", "economics"),
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration indices per nation over positive supplier
    balances: the Herfindahl–Hirschman index (Σ share², micro-scaled
    — antitrust's standard concentration score) and the CR4
    four-firm concentration ratio. Complements the per-group Gini
    (inequality of the whole distribution) with the head-focused
    measures regulators actually threshold on.

    Scale: shares derive from a per-nation windowed total (one
    shuffle on the group key reused by the rank and the final agg);
    share squares are row-local doubles with identical op order.
    """
    s = t(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 0)
    pos = s.select(
        "s_nationkey", cents("s_acctbal").alias("bal")
    )
    wp = Window.partitionBy("s_nationkey")
    shares = pos.select(
        "s_nationkey",
        "bal",
        F.sum("bal").over(wp).cast("long").alias("total"),
        F.row_number()
        .over(
            Window.partitionBy("s_nationkey").orderBy(
                F.col("bal").desc(), F.col("bal")
            )
        )
        .alias("rnk"),
    )
    share = F.col("bal").cast("double") / F.col("total")
    return (
        shares.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(1e6 * F.sum(share * share)).cast("long").alias(
                "hhi_micro"
            ),
            F.round(
                1000.0
                * F.sum(F.when(F.col("rnk") <= 4, share).otherwise(0.0))
            )
            .cast("long")
            .alias("cr4_milli"),
        )
    )


# --------------------------------------------------------------------
# Paired-difference t test (before/after the month midpoint, per user).
# --------------------------------------------------------------------
@register(
    "paired_diff_ttest",
    """
    WITH halves AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                           THEN CAST(round(value*100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS before_c,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                           THEN CAST(round(value*100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS after_c
      FROM events GROUP BY user_id
    ), d AS (
      SELECT after_c - before_c AS diff FROM halves
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(diff) AS BIGINT) AS sum_diff_cents,
           CAST(round(1000.0 * SUM(diff) / COUNT(*)) AS BIGINT)
             AS mean_diff_milli,
           CAST(round(1000.0 * (CAST(SUM(diff) AS DOUBLE) / COUNT(*))
                 / sqrt(((CAST(SUM(CAST(diff AS HUGEINT)*diff) AS DOUBLE)
                          - CAST(SUM(diff) AS DOUBLE) * SUM(diff) / COUNT(*))
                         / (COUNT(*) - 1)) / COUNT(*))) AS BIGINT)
             AS t_milli
    FROM d
    """,
    tags=("stats", "hypothesis-test", "paired"),
)
def paired_diff_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-difference t test: each user is their own control —
    per-user spend in the back half of the month minus the front
    half, tested against zero mean (t = mean(d)/(s_d/√n)). The
    paired design removes between-user variance, which is why it
    detects shifts the unpaired Welch test (also in the registry)
    washes out.

    Exactness: per-user halves and diffs are exact integer cents;
    Σd and Σd² reduce map-side; mean/sd/t are derived doubles with
    identical op order, milli-rounded.

    Scale: one map-side-combined agg to per-user rows, one 1-row
    reduction — no join, no window; the date split prunes nothing
    here but becomes partition pruning on a date-partitioned layout.
    """
    e = t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    c = cents("value")
    halves = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, c).otherwise(0))
        .cast("long")
        .alias("before_c"),
        F.sum(F.when(F.col("ts") >= cut, c).otherwise(0))
        .cast("long")
        .alias("after_c"),
    )
    d = halves.select((F.col("after_c") - F.col("before_c")).alias("diff"))
    n = F.count("*")
    sd = F.sum("diff")
    # decimal operand: per-user cents diffs reach ~1e9 at volume, so
    # Σd² passes int64 well before 1e9 users — widen the multiply
    sdd = F.sum(F.col("diff").cast("decimal(38,0)") * F.col("diff"))
    mean = sd.cast("double") / n
    var = (sdd.cast("double") - sd.cast("double") * sd / n) / (n - 1)
    return d.agg(
        n.alias("n_users"),
        sd.cast("long").alias("sum_diff_cents"),
        F.round(1000.0 * sd / n).cast("long").alias("mean_diff_milli"),
        # try_divide: a zero-variance diff set (constant — e.g. every
        # value NULL, so every per-user diff is 0) makes the standard
        # error 0; the oracle's x/0 is NULL where ANSI raises (r9
        # null-measures sweep)
        F.round(F.try_divide(1000.0 * mean, F.sqrt(var / n)))
        .cast("long")
        .alias("t_milli"),
    )


# --------------------------------------------------------------------
# Dispersion index (variance-to-mean of per-user counts) per type.
# --------------------------------------------------------------------
@register(
    "dispersion_index_by_type",
    """
    WITH counts AS (
      SELECT event_type, user_id, COUNT(*) AS k
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           COUNT(*) AS n_users,
           CAST(SUM(k) AS BIGINT) AS n_events,
           CAST(round(1000.0
                 * ((CAST(SUM(CAST(k AS HUGEINT)*k) AS DOUBLE)
                     - CAST(SUM(k) AS DOUBLE) * SUM(k) / COUNT(*))
                    / (COUNT(*) - 1))
                 / (CAST(SUM(k) AS DOUBLE) / COUNT(*))) AS BIGINT)
             AS dispersion_milli
    FROM counts
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("stats", "count-model", "diagnostics"),
)
def dispersion_index_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance-to-mean ratio) of per-user event
    counts, per type — the Poisson-model diagnostic: ≈1000‰ means
    Poisson-like arrivals, ≫1000 means overdispersion (bursty users
    → negative-binomial territory, and every rate-based alert
    threshold needs widening). Count sufficient statistics (Σk, Σk²)
    are exact integers; the ratio is derived doubles, milli-rounded.

    Scale: two chained map-side-combined aggs (user-type counts,
    then per-type moments) — no window, no join.
    """
    e = t(spark, sf_dir, "events")
    counts = e.groupBy("event_type", "user_id").agg(
        F.count("*").alias("k")
    )
    n = F.count("*")
    sk = F.sum("k")
    # decimal operand so the k² multiply can't wrap in int64: a 100-TB
    # heavy user reaches k~1e6 (k²=1e12), and Σ over 1e9 users passes
    # 9.2e18 — same class as the covariance/Gini overflows the sf0.1
    # sweep caught live
    skk = F.sum(F.col("k").cast("decimal(38,0)") * F.col("k"))
    # try_divide: a single-user type has n-1 = 0 — the oracle's
    # double/0 yields NULL in DuckDB while ANSI Spark raises
    # (pct=1 degenerate-fixture sweep finding, round 8)
    var = F.try_divide(
        skk.cast("double") - sk.cast("double") * sk / n, n - 1
    )
    mean = sk.cast("double") / n
    return (
        counts.groupBy("event_type")
        .agg(
            n.alias("n_users"),
            sk.cast("long").alias("n_events"),
            F.round(1000.0 * var / mean).cast("long").alias(
                "dispersion_milli"
            ),
        )
    )


_PSI_SPLIT = "2024-01-16"  # baseline = days before, current = from here
_PSI_EDGES = tuple(i / 10 for i in range(1, 10))  # decile edges


def _psi_edge_sql() -> str:
    return ", ".join(
        f"CAST(percentile_disc({p}) WITHIN GROUP (ORDER BY c) AS BIGINT)"
        f" AS e{i}"
        for i, p in enumerate(_PSI_EDGES, start=1)
    )


@register(
    "psi_value_drift",
    f"""
    WITH cents AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS c,
             CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END
               AS period
      FROM events
    ), edges AS (
      SELECT event_type, {_psi_edge_sql()}
      FROM cents WHERE period = 0 GROUP BY event_type
    ), binned AS (
      SELECT c.event_type, c.period,
             ({" + ".join(f"CASE WHEN c.c > e.e{i} THEN 1 ELSE 0 END" for i in range(1, 10))})
               AS bin
      FROM cents c JOIN edges e ON e.event_type = c.event_type
    ), grid AS (
      SELECT e.event_type, b.bin
      FROM (SELECT DISTINCT event_type FROM edges) e
      CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
    ), cnt AS (
      SELECT g.event_type, g.bin,
             COALESCE(SUM(CASE WHEN x.period = 0 THEN 1 ELSE 0 END), 0)
               AS n0,
             COALESCE(SUM(CASE WHEN x.period = 1 THEN 1 ELSE 0 END), 0)
               AS n1
      FROM grid g
      LEFT JOIN binned x
        ON x.event_type = g.event_type AND x.bin = g.bin
      GROUP BY g.event_type, g.bin
    ), tot AS (
      SELECT event_type,
             CAST(SUM(n0) AS BIGINT) AS t0,
             CAST(SUM(n1) AS BIGINT) AS t1
      FROM cnt GROUP BY event_type
    )
    SELECT c.event_type AS event_type, t.t0 AS n_base, t.t1 AS n_cur,
           CAST(round(1000000.0 * SUM(
             ((c.n1 + 1)::DOUBLE / (t.t1 + 10)
              - (c.n0 + 1)::DOUBLE / (t.t0 + 10))
             * ln(((c.n1 + 1)::DOUBLE / (t.t1 + 10))
                  / ((c.n0 + 1)::DOUBLE / (t.t0 + 10)))
           )) AS BIGINT) AS psi_micro
    FROM cnt c JOIN tot t ON t.event_type = c.event_type
    GROUP BY c.event_type, t.t0, t.t1
    ORDER BY c.event_type
    """,
    tags=("stats", "drift", "mlprep"),
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index per event_type: decile edges from
    the BASELINE period (exact percentile_disc over integer cents —
    actual data values), both periods binned against those edges, and
    PSI = Σ (p_cur − p_base)·ln(p_cur/p_base) over the 10 bins with
    add-one smoothing ((n+1)/(N+10)) so empty bins stay finite — the
    standard model-monitoring drift gate (PSI > 0.2 ≈ action). All
    counts exact integers; the per-bin float term is micro-rounded
    after the 10-term sum (the registry's float-parity contract).

    Scale shape: one scan feeds the baseline percentile agg
    (percentile_disc state is per-group, map-side combinable); the
    9-edge-per-type bounds table broadcasts back for row-local
    binning; the (type, bin) count grid is #types × 10 rows —
    config-bounded, never data-volume-bounded. Two shuffles total,
    both on event_type.
    """
    e = t(spark, sf_dir, "events")
    cents = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), 0)
        .otherwise(1)
        .alias("period"),
    )
    cents.where(F.col("period") == 0).createOrReplaceTempView("_psi_base")
    # persisted: the decile-edge table (one row per event type) feeds
    # both the binning join and the bin grid — without the cache each
    # consumer re-ran the base-period percentile aggregation over the
    # full corpus (static audit: 6 scans -> 2 with cnt below)
    edges = spark.sql(
        f"SELECT event_type, {_psi_edge_sql()} FROM _psi_base "
        "GROUP BY event_type"
    ).persist()
    bin_col = sum(
        F.when(F.col("c") > F.col(f"e{i}"), 1).otherwise(0)
        for i in range(1, 10)
    ).alias("bin")
    binned = cents.join(F.broadcast(edges), "event_type").select(
        "event_type", "period", bin_col
    )
    grid = (
        edges.select("event_type")
        .crossJoin(
            spark.range(10).select(F.col("id").cast("int").alias("bin"))
        )
    )
    # persisted: the per-(type, bin) counts (<= types×10 rows) feed
    # the marginal totals AND the PSI join back
    cnt = (
        grid.join(binned, ["event_type", "bin"], "left")
        .groupBy("event_type", "bin")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("period") == 0, 1).otherwise(0)),
                F.lit(0),
            ).alias("n0"),
            F.coalesce(
                F.sum(F.when(F.col("period") == 1, 1).otherwise(0)),
                F.lit(0),
            ).alias("n1"),
        )
        .persist()
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n0").cast("long").alias("t0"),
        F.sum("n1").cast("long").alias("t1"),
    )
    j = cnt.join(F.broadcast(tot), "event_type")
    pc = (F.col("n1") + 1).cast("double") / (F.col("t1") + 10)
    pb = (F.col("n0") + 1).cast("double") / (F.col("t0") + 10)
    return (
        j.groupBy("event_type", "t0", "t1")
        .agg(
            F.round(1000000.0 * F.sum((pc - pb) * F.log(pc / pb)))
            .cast("long")
            .alias("psi_micro")
        )
        .select(
            "event_type",
            F.col("t0").alias("n_base"),
            F.col("t1").alias("n_cur"),
            "psi_micro",
        )
    )


# The signup and first-purchase-after-signup CTEs every survival oracle
# starts from; _signup_purchase_subjects is their Spark side.
_SQL_SIGNUP_PURCHASE = """WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
      GROUP BY e.user_id
    )"""


@register(
    "nelson_aalen_cumhaz",
    f"""
    {_SQL_SIGNUP_PURCHASE}, subjects AS (
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
           round(SUM(CAST(d AS DOUBLE) / n_risk)
                 OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS cumhaz,
           round(SUM(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk))
                 OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS var_est
    FROM risk WHERE d > 0
    ORDER BY t_days
    """,
    tags=("survival", "timeseries", "stats"),
)
def nelson_aalen_cumhaz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard for signup → first purchase
    under right censoring: H(t) = Σ_{{tᵢ≤t}} dᵢ/nᵢ with the standard
    variance estimate Σ dᵢ/nᵢ² (Nelson 1972, Aalen 1978) — the
    counting-process twin of this registry's Kaplan–Meier row, whose
    slope reads directly as the hazard rate and which feeds the
    Breslow baseline in Cox models. Same subjects/grid derivation as
    `kaplan_meier_signup_purchase`; dᵢ and nᵢ are exact integers, the
    two float chains are ordered window sums of identical-operand
    divisions, rounded 6dp.

    Scale shape: per-user reduction (two map-side-combined aggs + one
    keyed join) then the day-grain grid; the unpartitioned windows run
    over that grid — bounded by the observation horizon in days (the
    same allowlisted shape as the KM row), never by user count.
    """
    # the family's shared subject table (_signup_purchase_subjects):
    # same derivation + horizon as KM/log-rank/RMST, one corpus pass
    # per session until the cache is cleared, then one more
    subjects = _signup_purchase_subjects(spark, sf_dir).select(
        "t_days", "event"
    )
    grid = subjects.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    n_total = subjects.agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    wo = Window.orderBy("t_days")
    risk = grid.crossJoin(F.broadcast(n_total)).select(
        "t_days",
        "d",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum("leaving").over(
                    wo.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("n_risk"),
    )
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        risk.where(F.col("d") > 0)
        .select(
            "t_days",
            "n_risk",
            "d",
            F.round(
                F.sum(
                    F.col("d").cast("double") / F.col("n_risk")
                ).over(wc),
                6,
            ).alias("cumhaz"),
            F.round(
                F.sum(
                    F.col("d").cast("double")
                    / (F.col("n_risk").cast("double") * F.col("n_risk"))
                ).over(wc),
                6,
            ).alias("var_est"),
        )
    )


# --------------------------------------------------------------------
# Bootstrap CI via hash-deterministic Poisson resampling.
# --------------------------------------------------------------------
_BOOT_B = 100  # replicates
# P(Poisson(1) <= k) cutoffs for k = 0..5 (then clamp at 6)
_POIS = (0.367879441, 0.735758882, 0.919698603,
         0.981011843, 0.996340153, 0.999405815)


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS)
    )
    return f"(CASE {cases} ELSE 6 END)"


@register(
    "bootstrap_ci_daily_revenue",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ), reps AS (
      SELECT d.day, d.rev, b.b,
             ('0x' || substring(md5(CAST(b.b AS VARCHAR) || ':'
                || strftime(d.day, '%Y-%m-%d')), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM daily d
      CROSS JOIN (SELECT unnest(range(1, {_BOOT_B + 1})) AS b) b
    ), means AS (
      SELECT b,
             CAST(SUM(CAST({_boot_w_sql("u")} AS DECIMAL(38,0)) * rev)
                  AS DOUBLE)
             / CAST(SUM({_boot_w_sql("u")}) AS DOUBLE) AS mean_b
      FROM reps GROUP BY b
    ), point AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS mean_all
      FROM daily
    )
    SELECT p.n_days,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           round(p.mean_all, 3) AS mean_cents,
           round((SELECT percentile_disc(0.05) WITHIN GROUP
                    (ORDER BY mean_b) FROM means), 3) AS ci_lo_cents,
           round((SELECT percentile_disc(0.95) WITHIN GROUP
                    (ORDER BY mean_b) FROM means), 3) AS ci_hi_cents
    FROM point p
    """,
    tags=("stats", "bootstrap", "resampling"),
)
def bootstrap_ci_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bootstrap confidence interval for mean daily revenue via
    hash-deterministic Poisson(1) resampling (Poissonization of the
    multinomial bootstrap — Chamandy et al. 2012, "Estimating
    uncertainty for massive data streams"; the big-data bootstrap
    form, since per-replicate weights need no coordination): each of
    {B} replicates draws each day's weight from the inverse Poisson
    CDF applied to a uniform derived from md5(replicate:day) —
    reproducible across engines and runs, no RNG state. The CI is the
    5th/95th percentile_disc of the replicate means (actual
    elements). All sums are exact integers (weights cast to
    DECIMAL(38,0) before multiplying — the registry's accumulator-
    width discipline); replicate means divide two exactly-
    representable integers, identically in both engines.

    Scale shape: raw orders reduce to the day grain FIRST (map-side
    combined); the ×{B} replicate explosion happens on the
    calendar-bounded daily table, never on raw rows; replicate means
    are one grouped agg over #days×{B} rows and the percentile runs
    over {B} values. At 100 TB the day-grain table is still tiny —
    the bootstrap costs {B}× a small aggregate, not {B}× the scan.
    """
    o = t(spark, sf_dir, "orders")
    # r11: persisted — the replicate explosion and the point estimate
    # both read the day-grain table; without the cache each re-ran
    # the orders scan + day aggregation (the table is #days rows)
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    ).persist()
    reps = daily.crossJoin(
        spark.range(1, _BOOT_B + 1).select(F.col("id").alias("b"))
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.date_format("day", "yyyy-MM-dd"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0),
    )
    wexpr = F.lit(6)
    for k in range(len(_POIS) - 1, -1, -1):
        wexpr = F.when(F.col("u") < _POIS[k], k).otherwise(wexpr)
    means = (
        reps.withColumn("w", wexpr)
        .groupBy("b")
        .agg(
            (
                F.sum(
                    F.col("w").cast("decimal(38,0)") * F.col("rev")
                ).cast("double")
                / F.sum("w").cast("double")
            ).alias("mean_b")
        )
    )
    means.createOrReplaceTempView("_boot_means")
    ci = spark.sql(
        """
        SELECT round(percentile_disc(0.05) WITHIN GROUP
                 (ORDER BY mean_b), 3) AS ci_lo_cents,
               round(percentile_disc(0.95) WITHIN GROUP
                 (ORDER BY mean_b), 3) AS ci_hi_cents
        FROM _boot_means
        """
    )
    point = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.sum("rev").cast("double") / F.count(F.lit(1)), 3
        ).alias("mean_cents"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_days",
        F.lit(_BOOT_B).cast("long").alias("n_replicates"),
        "mean_cents",
        "ci_lo_cents",
        "ci_hi_cents",
    )


bootstrap_ci_daily_revenue.__doc__ = (
    bootstrap_ci_daily_revenue.__doc__.replace("{B}", str(_BOOT_B))
)


# --------------------------------------------------------------------
# Cramér–von Mises two-sample distance (integrated CDF gap).
# --------------------------------------------------------------------
_CVM_BASE = "view"


@register(
    "cramer_von_mises_vs_view",
    f"""
    WITH ev AS (
      -- ECDFs are over OBSERVED values (r9 mixed-null sweep)
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), sides AS (
      SELECT event_type AS pair, c, 1 AS ca, 0 AS cb
      FROM ev WHERE event_type != '{_CVM_BASE}'
      UNION ALL
      SELECT p.pair, c, 0, 1
      FROM ev CROSS JOIN (
        SELECT DISTINCT event_type AS pair FROM ev
        WHERE event_type != '{_CVM_BASE}') p
      WHERE event_type = '{_CVM_BASE}'
    ), grid AS (
      SELECT pair, c,
             CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
      FROM sides GROUP BY pair, c
    ), cum AS (
      SELECT pair, c, ca, cb,
             CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
             CAST(SUM(ca) OVER p AS BIGINT) AS n_a,
             CAST(SUM(cb) OVER p AS BIGINT) AS n_b
      FROM grid
      WINDOW w AS (PARTITION BY pair ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY pair)
    ), terms AS (
      SELECT pair, n_a, n_b,
             SUM(CAST(cum_a * n_b - cum_b * n_a AS DECIMAL(38,0))
                 * CAST(cum_a * n_b - cum_b * n_a AS DECIMAL(38,0))
                 * (ca + cb)) AS s_num
      FROM cum GROUP BY pair, n_a, n_b
    )
    SELECT pair, n_a, n_b,
           CAST(round(1000000.0 *
             (CAST(n_a AS DOUBLE) * n_b
               / ((n_a + n_b) * (n_a + n_b)))
             * (CAST(s_num AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * n_a * n_b * n_b))
           ) AS BIGINT) AS t_micro
    FROM terms
    ORDER BY pair
    """,
    tags=("stats", "hypothesis-test", "drift"),
)
def cramer_von_mises_vs_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Cramér–von Mises distance of each event type's value
    distribution against the '{BASE}' baseline: T = n·m/(n+m)² ·
    Σ_z (F_n(z) − G_m(z))² over every combined observation z — the
    INTEGRATED-gap complement of the registry's KS row (KS reads only
    the max gap; CvM accumulates the whole curve, so it detects many
    small persistent shifts KS misses). Computed on the distinct-
    value grid with counts: each value contributes (ca+cb) copies of
    ((cum_a·n_b − cum_b·n_a)/(n_a·n_b))². The inner sum is EXACT —
    the gap numerator is cast to DECIMAL(38,0) before squaring
    (cum·n ≈ 10¹⁰ squares to 10²⁰, past int64 — the overflow class
    the accumulator-width guard exists for); one float normalization
    at the end, micro-rounded.

    Scale shape: identical to the KS row — one scan → (pair, value)
    grid agg → pair-partitioned cumulative windows (grid size is the
    value domain × #types, not the row count) → one grouped agg. Two
    shuffles, both on bounded keys.
    """
    e = t(spark, sf_dir, "events")
    ev = e.where(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    a = ev.where(F.col("event_type") != _CVM_BASE).select(
        F.col("event_type").alias("pair"),
        "c",
        F.lit(1).alias("ca"),
        F.lit(0).alias("cb"),
    )
    pairs = (
        ev.where(F.col("event_type") != _CVM_BASE)
        .select(F.col("event_type").alias("pair"))
        .distinct()
    )
    b = (
        ev.where(F.col("event_type") == _CVM_BASE)
        .crossJoin(F.broadcast(pairs))
        .select("pair", "c", F.lit(0).alias("ca"), F.lit(1).alias("cb"))
    )
    grid = (
        a.unionAll(b)
        .groupBy("pair", "c")
        .agg(
            F.sum("ca").cast("long").alias("ca"),
            F.sum("cb").cast("long").alias("cb"),
        )
    )
    wo = (
        Window.partitionBy("pair")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("pair")
    cum = grid.select(
        "pair",
        "c",
        "ca",
        "cb",
        F.sum("ca").over(wo).cast("long").alias("cum_a"),
        F.sum("cb").over(wo).cast("long").alias("cum_b"),
        F.sum("ca").over(wp).cast("long").alias("n_a"),
        F.sum("cb").over(wp).cast("long").alias("n_b"),
    )
    gap = (
        F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
    ).cast("decimal(38,0)")
    terms = cum.groupBy("pair", "n_a", "n_b").agg(
        F.sum(gap * gap * (F.col("ca") + F.col("cb"))).alias("s_num")
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    t_stat = (
        na
        * F.col("n_b")
        / ((F.col("n_a") + F.col("n_b")) * (F.col("n_a") + F.col("n_b")))
    ) * (
        F.col("s_num").cast("double")
        / (na * F.col("n_a") * F.col("n_b") * F.col("n_b"))
    )
    return terms.select(
        "pair",
        "n_a",
        "n_b",
        F.round(1000000.0 * t_stat).cast("long").alias("t_micro"),
    )


cramer_von_mises_vs_view.__doc__ = (
    cramer_von_mises_vs_view.__doc__.replace("{BASE}", _CVM_BASE)
)


# --------------------------------------------------------------------
# One-way ANOVA F statistic (exact sufficient statistics).
# --------------------------------------------------------------------
@register(
    "anova_f_value_by_type",
    """
    WITH x AS (
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
      FROM events
    ), g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(c) AS BIGINT) AS s_g,
             SUM(CAST(c AS DECIMAL(38,0)) * c) AS ss_g
      FROM x GROUP BY event_type
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             SUM(ss_g) AS ss,
             SUM(CAST(s_g AS DECIMAL(38,10)) * s_g / n_g) AS sb_part
      FROM g
    )
    SELECT k, n,
           CAST(round(1000000.0 *
             ((CAST(sb_part AS DOUBLE)
               - CAST(s AS DOUBLE) * s / n) / (k - 1))
             / ((CAST(ss AS DOUBLE) - CAST(sb_part AS DOUBLE))
                / (n - k))
           ) AS BIGINT) AS f_micro
    FROM tot
    """,
    tags=("stats", "hypothesis-test"),
)
def anova_f_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across event types (Fisher): F =
    (SSB/(k−1)) / (SSW/(N−k)) from exact per-group sufficient
    statistics — SSB = Σ S_g²/n_g − S²/N, SSW = Σc² − Σ S_g²/n_g.
    Completes the registry's hypothesis-test family (Welch pairwise,
    MWU rank, KS/CvM distributional, χ² categorical) with the k-group
    mean-difference omnibus. All accumulators are exact: counts and
    sums are BIGINT, the c² and S_g² second moments are widened to
    DECIMAL before multiplying (the accumulator-width discipline);
    the single float F is micro-rounded.

    Scale shape: one scan → one map-side-combined groupBy(event_type)
    → one k-row final fold. Nothing grows with data volume past the
    first agg.
    """
    e = t(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    g = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("c").cast("long").alias("s_g"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias(
            "ss_g"
        ),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(
            F.col("s_g").cast("decimal(38,10)")
            * F.col("s_g")
            / F.col("n_g")
        ).alias("sb_part"),
    )
    sbd = F.col("sb_part").cast("double")
    sd = F.col("s").cast("double")
    ssb = sbd - sd * F.col("s") / F.col("n")
    ssw = F.col("ss").cast("double") - sbd
    # try_divide: one row per group makes n = k (zero within-group
    # df) and a single group makes k-1 = 0 — the oracle's double/0
    # is NULL in DuckDB while ANSI Spark raises (n=1-per-group
    # fixture finding, round 8)
    f_stat = F.try_divide(
        F.try_divide(ssb, F.col("k") - 1),
        F.try_divide(ssw, F.col("n") - F.col("k")),
    )
    return tot.select(
        "k",
        "n",
        F.round(1000000.0 * f_stat).cast("long").alias("f_micro"),
    )


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


@register(
    "kruskal_wallis_daily",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), tv AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS ties FROM d GROUP BY s
    ), r AS (
      SELECT d.event_type, d.s,
             RANK() OVER (ORDER BY d.s) AS mn, tv.ties
      FROM d JOIN tv ON tv.s = d.s
    ), rr AS (
      -- midrank in half-units: 2*midrank = 2*minrank + ties - 1
      SELECT event_type, 2 * mn + ties - 1 AS r2
      FROM r
    ), g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(r2) AS BIGINT) AS ranksum_x2
      FROM rr GROUP BY event_type
    ), tot AS (
      SELECT CAST(SUM(n_days) AS BIGINT) AS nn FROM g
    ), tie AS (
      SELECT CAST(SUM(ties * ties * ties - ties) AS BIGINT) AS tcorr
      FROM tv
    ), h AS (
      SELECT (12.0 / (nn * (nn + 1.0)))
             * (SELECT SUM(CAST(ranksum_x2 AS DOUBLE) * ranksum_x2
                           / (4.0 * n_days)) FROM g)
             - 3.0 * (nn + 1.0) AS h_raw,
             1.0 - CAST((SELECT tcorr FROM tie) AS DOUBLE)
                   / (CAST(nn AS DOUBLE) * nn * nn - nn) AS corr
      FROM tot
    )
    SELECT g.event_type, g.n_days, g.ranksum_x2,
           CAST(round(1000.0 * (SELECT h_raw / corr FROM h)) AS BIGINT)
             AS h_milli
    FROM g ORDER BY g.event_type
    """,
    tags=("stats", "nonparametric", "test"),
)
def kruskal_wallis_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test (1952) for "do the k event types draw
    their daily revenue from the same distribution?": exact midranks
    of the per-(type, day) revenue across all types (half-unit
    integers, so no float rank ever), H = 12/(N(N+1))·Σ R_g²/n_g −
    3(N+1), divided by the tie correction 1 − Σ(t³−t)/(N³−N). The
    nonparametric twin of the exact-F one-way ANOVA row.

    Scale shape: event volume collapses in one map-side-combined
    groupBy(type, day) to the calendar-bounded grain; the global
    rank runs over that ~#types×#days summary (150 rows here), never
    over raw data — identical input at 100 TB.
    """
    e = t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    # the day-grain summary feeds BOTH the tie table and the rank
    # join — persist so the raw-events scan + groupBy runs once
    # (round-6 plan audit: 16 exchanges)
    d = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(c).cast("long").alias("s")).persist()
    tv = d.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("ties")
    ).persist()  # read by the rank join AND the tie-correction agg
    r = d.join(tv, "s").select(
        "event_type",
        (
            2 * F.rank().over(Window.orderBy("s")).cast("long")
            + F.col("ties")
            - 1
        ).alias("r2"),
    )
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("r2").cast("long").alias("ranksum_x2"),
    ).persist()  # k rows; read by tot, hsum AND the final projection
    tot = g.agg(F.sum("n_days").cast("long").alias("nn"))
    tie = tv.agg(
        F.sum(
            F.col("ties") * F.col("ties") * F.col("ties") - F.col("ties")
        )
        .cast("long")
        .alias("tcorr")
    )
    hsum = g.agg(
        F.sum(
            F.col("ranksum_x2").cast("double")
            * F.col("ranksum_x2")
            / (4.0 * F.col("n_days"))
        ).alias("rsq")
    )
    h = (
        tot.crossJoin(F.broadcast(tie))
        .crossJoin(F.broadcast(hsum))
        .select(
            (
                (
                    (12.0 / (F.col("nn") * (F.col("nn") + 1.0)))
                    * F.col("rsq")
                    - 3.0 * (F.col("nn") + 1.0)
                )
                / (
                    F.lit(1.0)
                    - F.col("tcorr").cast("double")
                    / (
                        F.col("nn").cast("double")
                        * F.col("nn")
                        * F.col("nn")
                        - F.col("nn")
                    )
                )
            ).alias("h_corr")
        )
    )
    return (
        g.crossJoin(F.broadcast(h))
        .select(
            "event_type",
            "n_days",
            "ranksum_x2",
            F.round(1000.0 * F.col("h_corr")).cast("long").alias(
                "h_milli"
            ),
        )
    )


@register(
    "generalized_means_value",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
      FROM events WHERE CAST(round(value*100) AS BIGINT) > 0
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_pos,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(CAST(round(1000000.0 * ln(CAST(c AS DOUBLE)))
                           AS BIGINT)) AS BIGINT) AS sln_micro,
             CAST(SUM(CAST(round(1000000000000.0 / c) AS BIGINT))
                  AS BIGINT) AS sinv_pico
      FROM v GROUP BY event_type
    )
    SELECT event_type, n_pos,
           CAST(round(1000.0 * CAST(sc AS DOUBLE) / n_pos) AS BIGINT)
             AS arith_milli,
           CAST(round(1000.0 * exp(CAST(sln_micro AS DOUBLE)
                / 1000000.0 / n_pos)) AS BIGINT) AS geo_milli,
           CAST(round(1000.0 * CAST(n_pos AS DOUBLE)
                / (CAST(sinv_pico AS DOUBLE) / 1000000000000.0))
                AS BIGINT) AS harm_milli
    FROM s ORDER BY event_type
    """,
    tags=("stats", "aggregation"),
)
def generalized_means_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic means of positive event
    values (cents) per event type — the AM ≥ GM ≥ HM triple behind
    rate averaging (harmonic for per-unit rates, geometric for
    growth factors). ORDER-INDEPENDENCE is the point: a float
    Σln(x) varies with Spark's partition order, so each row's log is
    pre-rounded to integer MICRO-nats and each reciprocal to integer
    PICO-units, making both accumulators exact BIGINTs (associative,
    commutative — same value on any partitioning or engine); the
    single exp()/division happens once on the final summary.

    Scale shape: row-local arithmetic + one map-side-combined
    groupBy(event_type); nothing after the first shuffle is
    data-sized. The micro/pico quantization error is bounded by
    5e-7·n relative — milli-rounded output absorbs it at any SF.
    """
    e = t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    v = e.select("event_type", c.alias("c")).filter(F.col("c") > 0)
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pos"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(
            F.round(1000000.0 * F.log(F.col("c").cast("double"))).cast(
                "long"
            )
        )
        .cast("long")
        .alias("sln_micro"),
        F.sum(F.round(1000000000000.0 / F.col("c")).cast("long"))
        .cast("long")
        .alias("sinv_pico"),
    )
    return s.select(
        "event_type",
        "n_pos",
        F.round(1000.0 * F.col("sc").cast("double") / F.col("n_pos"))
        .cast("long")
        .alias("arith_milli"),
        F.round(
            1000.0
            * F.exp(
                F.col("sln_micro").cast("double") / 1000000.0 / F.col("n_pos")
            )
        )
        .cast("long")
        .alias("geo_milli"),
        F.round(
            1000.0
            * F.col("n_pos").cast("double")
            / (F.col("sinv_pico").cast("double") / 1000000000000.0)
        )
        .cast("long")
        .alias("harm_milli"),
    )


# ------------------------------------------------------------------
# Jackknife leave-one-nation-out variance of the grand mean.
# ------------------------------------------------------------------
@register(
    "jackknife_nation_mean_se",
    """
    WITH ov AS (
      SELECT c.c_nationkey AS nk,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), g AS (
      SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS s_g
      FROM ov GROUP BY nk
    ), tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n_all,
             CAST(SUM(s_g) AS HUGEINT) AS s_all,
             CAST(COUNT(*) AS BIGINT) AS n_groups
      FROM g
    ), loo AS (
      SELECT CAST(round(1000.0 * (tot.s_all - g.s_g)
                        / (tot.n_all - g.n_g)) AS BIGINT) AS m_milli
      FROM g, tot WHERE tot.n_all > g.n_g
    ), acc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gg,
             CAST(SUM(CAST(m_milli AS HUGEINT)) AS HUGEINT) AS sm,
             CAST(SUM(CAST(m_milli AS HUGEINT) * m_milli) AS HUGEINT)
               AS sm2
      FROM loo
    )
    SELECT tot.n_groups, tot.n_all,
           CAST(round(1000.0 * tot.s_all / tot.n_all) AS BIGINT)
             AS grand_mean_milli,
           CAST(round(sqrt(
             (CAST(acc.gg AS DOUBLE) - 1) / acc.gg
             * (CAST(acc.sm2 AS DOUBLE)
                - CAST(acc.sm AS DOUBLE) * acc.sm / acc.gg)))
             AS BIGINT) AS jack_se_milli
    FROM tot, acc
    """,
    tags=("stats", "uncertainty"),
)
def jackknife_nation_mean_se(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jackknife standard error (Quenouille 1956; Tukey 1958) of the
    grand mean order value, with NATIONS as the delete-one groups
    (the grouped jackknife a clustered pipeline uses when rows within
    a group are dependent): each replicate mean drops one nation and
    re-derives the mean from the complement's EXACT partial sums —
    no second data pass, no resampling. Replicate means are
    quantized to integer milli-cents BEFORE accumulation, so the
    Σm and Σm² sums are exact integers and the variance algebra
    (G−1)/G · Σ(m−m̄)² is one deterministic double chain.

    Scale shape: one orders⨝customer equi-join, one
    map-side-combined groupBy(nation) (25 rows), a 1-row total
    broadcast onto those 25 rows, and a final 25-row agg — the
    delete-one replicates cost ALGEBRA, not scans, exactly why the
    grouped jackknife beats the bootstrap at 100 TB.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    ov = o.join(
        c.select("c_custkey", "c_nationkey"),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nk"),
        cents("o_totalprice").alias("cents"),
    )
    # persisted: the per-nation summary (<= 25 rows) feeds the grand
    # total, the leave-one-out replicates AND (via tot) the final
    # projection — without the cache each branch re-ran the
    # orders⨝customer pass (static audit: 6 scans -> 2)
    g = (
        ov.groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_g"),
        )
        .persist()
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n_all"),
        F.sum("s_g").alias("s_all"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    loo = (
        g.crossJoin(F.broadcast(tot))
        .filter(F.col("n_all") > F.col("n_g"))
        .select(
            F.round(
                1000.0
                * (F.col("s_all") - F.col("s_g")).cast("double")
                / (F.col("n_all") - F.col("n_g"))
            )
            .cast("long")
            .alias("m_milli")
        )
    )
    acc = loo.agg(
        F.count(F.lit(1)).cast("long").alias("gg"),
        F.sum(F.col("m_milli").cast("decimal(38,0)")).alias("sm"),
        F.sum(
            F.col("m_milli").cast("decimal(38,0)") * F.col("m_milli")
        ).alias("sm2"),
    )
    return (
        tot.crossJoin(F.broadcast(acc))
        .select(
            "n_groups",
            "n_all",
            # try_divide: zero leave-one-out replicates (empty input,
            # gg=0) → NULL SE like the oracle's /0, not an ANSI error
            # (all-empty sweep finding)
            F.round(
                F.try_divide(
                    1000.0 * F.col("s_all").cast("double"), F.col("n_all")
                )
            )
            .cast("long")
            .alias("grand_mean_milli"),
            F.round(
                F.sqrt(
                    F.try_divide(
                        F.col("gg").cast("double") - 1, F.col("gg")
                    )
                    * (
                        F.col("sm2").cast("double")
                        - F.try_divide(
                            F.col("sm").cast("double")
                            * F.col("sm").cast("double"),
                            F.col("gg"),
                        )
                    )
                )
            )
            .cast("long")
            .alias("jack_se_milli"),
        )
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


@register(
    "two_proportion_ztest",
    """
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ), g AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM u GROUP BY arm
    ), s AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 0 THEN conv END) AS c0,
             MAX(CASE WHEN arm = 1 THEN conv END) AS c1
      FROM g
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(c0 AS BIGINT) AS conv0, CAST(c1 AS BIGINT) AS conv1,
           CAST(round(1000000.0 * c0 / n0) AS BIGINT) AS p0_micro,
           CAST(round(1000000.0 * c1 / n1) AS BIGINT) AS p1_micro,
           CASE WHEN (c0 + c1) > 0 AND (c0 + c1) < (n0 + n1) THEN
             CAST(round(1000000.0
               * (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
               / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                      * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                      * (1.0 / n0 + 1.0 / n1))) AS BIGINT)
           ELSE 0 END AS z_micro
    FROM s
    """,
    tags=("stats", "experiment", "test"),
)
def two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (the pooled-variance conversion test
    behind every A/B dashboard): arms = user_id % 2, conversion =
    "user has ≥1 purchase event"; z = (p1 − p0)/√(p̂(1−p̂)(1/n0+1/n1))
    with the pooled rate p̂ — completing the registry's experiment
    family (Welch t and Mann-Whitney compare VALUES; CUPED and DiD
    adjust them; this tests the binary outcome those start from).
    Degenerate pools (0% or 100% conversion, zero variance) report
    z = 0 identically on both engines. All counts are exact
    integers; z is one row-local double chain.

    Scale shape: one map-side-combined per-user reduction (MAX of an
    indicator), one 2-row arm agg, then algebra on a pivoted 1-row
    summary — a single scan, no joins, no windows.
    """
    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).alias("arm"), "converted"
    )
    g = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    s = g.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
    )
    pool = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (
        1000000.0
        * (
            F.col("c1").cast("double") / F.col("n1")
            - F.col("c0").cast("double") / F.col("n0")
        )
        / F.sqrt(
            pool * (1.0 - pool) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
        )
    )
    return s.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("c0").cast("long").alias("conv0"),
        F.col("c1").cast("long").alias("conv1"),
        F.round(1000000.0 * F.col("c0") / F.col("n0"))
        .cast("long")
        .alias("p0_micro"),
        F.round(1000000.0 * F.col("c1") / F.col("n1"))
        .cast("long")
        .alias("p1_micro"),
        F.when(
            (F.col("c0") + F.col("c1") > 0)
            & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1")),
            F.round(z).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("z_micro"),
    )


# ------------------------------------------------------------------
# Cohen's d between the two user arms.
# ------------------------------------------------------------------
@register(
    "cohens_d_arms",
    """
    WITH v AS (
      -- effect sizes are over OBSERVED values (r9 mixed-null sweep:
      -- the NULL histogram row joined into every Spark cumulative
      -- prefix via NULLS FIRST; and n must count observations, not
      -- rows, for the moment algebra to be the statistic it claims)
      SELECT user_id % 2 AS arm,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), g AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
      FROM v GROUP BY arm
    ), w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 0 THEN s1 END) AS a0,
             MAX(CASE WHEN arm = 1 THEN s1 END) AS a1,
             MAX(CASE WHEN arm = 0 THEN s2 END) AS q0,
             MAX(CASE WHEN arm = 1 THEN s2 END) AS q1
      FROM g
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(round(1000.0 * CAST(a0 AS DOUBLE) / n0) AS BIGINT)
             AS mean0_milli,
           CAST(round(1000.0 * CAST(a1 AS DOUBLE) / n1) AS BIGINT)
             AS mean1_milli,
           CAST(round(1000000.0
             * (CAST(a1 AS DOUBLE) / n1 - CAST(a0 AS DOUBLE) / n0)
             / sqrt(((CAST(q0 AS DOUBLE)
                      - CAST(a0 AS DOUBLE) * a0 / n0)
                   + (CAST(q1 AS DOUBLE)
                      - CAST(a1 AS DOUBLE) * a1 / n1))
                    / (n0 + n1 - 2))) AS BIGINT) AS d_micro
    FROM w WHERE n0 > 1 AND n1 > 1
    """,
    tags=("stats", "experiment", "effect-size"),
)
def cohens_d_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (Cohen 1988) between the two user arms' purchase
    values: d = (mean1 − mean0)/s_pooled with the pooled SD from the
    exact per-arm sufficient statistics (n, Σx, Σx² as DECIMAL-wide
    integers, the width-guard discipline) — the standardized effect
    size read alongside `welch_ttest_vs_view` (which answers IS
    there a difference; d answers HOW BIG in SD units, the number
    power analyses and meta-analyses consume). One row-local double
    chain; arms needing n ≤ 1 are filtered (pooled SD undefined).

    Scale shape: one map-side-combined 2-row arm agg, one 1-row
    pivot, algebra — a single scan, no joins, no windows.
    """
    e = t(spark, sf_dir, "events")
    v = e.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        (F.col("user_id") % 2).alias("arm"),
        cents("value").alias("x"),
    )
    g = v.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
    )
    w = g.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("s1"))).alias("a0"),
        F.max(F.when(F.col("arm") == 1, F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("q0"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("q1"),
    )
    m0 = F.col("a0").cast("double") / F.col("n0")
    m1 = F.col("a1").cast("double") / F.col("n1")
    ss0 = F.col("q0").cast("double") - F.col("a0").cast("double") * F.col(
        "a0"
    ).cast("double") / F.col("n0")
    ss1 = F.col("q1").cast("double") - F.col("a1").cast("double") * F.col(
        "a1"
    ).cast("double") / F.col("n1")
    # try_divide: identical values in both arms give a pooled SD of
    # exactly 0 — the oracle's double/0 is NULL in DuckDB while ANSI
    # Spark raises (constant-value fixture finding, round 8)
    d_val = F.try_divide(
        1000000.0 * (m1 - m0),
        F.sqrt((ss0 + ss1) / (F.col("n0") + F.col("n1") - 2)),
    )
    return (
        w.filter((F.col("n0") > 1) & (F.col("n1") > 1))
        .select(
            F.col("n0").cast("long").alias("n0"),
            F.col("n1").cast("long").alias("n1"),
            F.round(1000.0 * m0).cast("long").alias("mean0_milli"),
            F.round(1000.0 * m1).cast("long").alias("mean1_milli"),
            F.round(d_val).cast("long").alias("d_micro"),
        )
    )


# ------------------------------------------------------------------
# Cliff's delta between the two user arms (ordinal dominance).
# ------------------------------------------------------------------
@register(
    "cliffs_delta_arms",
    """
    WITH v AS (
      -- effect sizes are over OBSERVED values (r9 mixed-null sweep:
      -- the NULL histogram row joined into every Spark cumulative
      -- prefix via NULLS FIRST; and n must count observations, not
      -- rows, for the moment algebra to be the statistic it claims)
      SELECT user_id % 2 AS arm,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), g AS (
      SELECT arm, x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY arm, x
    ), per_val AS (
      SELECT x, CAST(SUM(cnt) AS BIGINT) AS n_here FROM g GROUP BY x
    ), ranked AS (
      SELECT x,
             CAST(2 * SUM(n_here) OVER (ORDER BY x) - n_here + 1
                  AS BIGINT) AS midrank2
      FROM per_val
    ), sums AS (
      SELECT
        CAST(SUM(CASE WHEN g.arm = 1
                 THEN CAST(r.midrank2 AS HUGEINT) * g.cnt
                 ELSE 0 END) AS HUGEINT) AS r1_2,
        CAST(SUM(CASE WHEN g.arm = 1 THEN g.cnt ELSE 0 END) AS BIGINT)
          AS n1,
        CAST(SUM(CASE WHEN g.arm = 0 THEN g.cnt ELSE 0 END) AS BIGINT)
          AS n0
      FROM g JOIN ranked r ON r.x = g.x
    )
    SELECT n0, n1,
           CAST(r1_2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT)
             AS u1_x2,
           CAST(CAST(n1 AS HUGEINT) * n0 AS BIGINT) AS n_pairs,
           CAST(round(1000000.0
             * (CAST(r1_2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
                - CAST(CAST(n1 AS HUGEINT) * n0 AS DOUBLE))
             / CAST(CAST(n1 AS HUGEINT) * n0 AS DOUBLE)) AS BIGINT)
             AS delta_micro
    FROM sums WHERE n0 > 0 AND n1 > 0
    """,
    tags=("stats", "experiment", "effect-size"),
)
def cliffs_delta_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (Cliff 1993) between the two user arms' purchase
    values: δ = (#{x1 > x0} − #{x1 < x0}) / (n1·n0) — the ordinal
    dominance effect size (the rank-biserial correlation), reported
    alongside the registry's Mann-Whitney U row the way Cohen's d
    rides alongside Welch: U TESTS, δ SIZES, and unlike d it needs
    no normality. Computed WITHOUT enumerating pairs via the exact
    midrank identity δ = (2U1 − n1·n0)/(n1·n0) with 2U1 = R1_2 −
    n1(n1+1) from the 2×-scaled midrank sums (the
    `mann_whitney_u_by_type` tie discipline) — every quantity an
    exact DECIMAL-wide integer until the one final division.

    Scale shape: a value histogram, a cumulative window over that
    VALUE-DOMAIN-bounded histogram (never over rows), one join-back
    on the value key, 1-row output. The raw table is scanned once;
    no pair enumeration anywhere.
    """
    e = t(spark, sf_dir, "events")
    v = e.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        (F.col("user_id") % 2).alias("arm"),
        cents("value").alias("x"),
    )
    g = v.groupBy("arm", "x").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    per_val = g.groupBy("x").agg(F.sum("cnt").cast("long").alias("n_here"))
    from pyspark.sql import Window

    w_cum = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_val.select(
        "x",
        (2 * F.sum("n_here").over(w_cum) - F.col("n_here") + 1)
        .cast("long")
        .alias("midrank2"),
    )
    j = g.join(ranked, "x")
    sums = j.agg(
        F.sum(
            F.when(
                F.col("arm") == 1,
                F.col("midrank2").cast("decimal(38,0)") * F.col("cnt"),
            ).otherwise(0)
        ).alias("r1_2"),
        F.sum(F.when(F.col("arm") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n0"),
    )
    u1_x2 = F.col("r1_2") - F.col("n1").cast("decimal(38,0)") * (
        F.col("n1") + 1
    )
    np = F.col("n1").cast("decimal(38,0)") * F.col("n0")
    return (
        sums.filter((F.col("n0") > 0) & (F.col("n1") > 0))
        .select(
            "n0",
            "n1",
            u1_x2.cast("long").alias("u1_x2"),
            np.cast("long").alias("n_pairs"),
            F.round(
                1000000.0
                * (u1_x2.cast("double") - np.cast("double"))
                / np.cast("double")
            )
            .cast("long")
            .alias("delta_micro"),
        )
    )


# --------------------------------------------------------------------
# Inverse-distribution percentiles (actual-value quantiles).
# --------------------------------------------------------------------
@register(
    "percentile_disc_order_prices",
    """
    SELECT o_orderstatus,
           CAST(quantile_disc(CAST(round(o_totalprice*100) AS BIGINT), 0.25)
                AS BIGINT) AS p25_cents,
           CAST(quantile_disc(CAST(round(o_totalprice*100) AS BIGINT), 0.50)
                AS BIGINT) AS median_cents,
           CAST(quantile_disc(CAST(round(o_totalprice*100) AS BIGINT), 0.75)
                AS BIGINT) AS p75_cents,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg", "stats"),
)
def percentile_disc_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_disc (inverse distribution: returns an ACTUAL data
    value, unlike percentile_cont's interpolation) over integer order
    cents — exact, hash-safe. Spark 3.4+ WITHIN GROUP syntax."""
    o = t(spark, sf_dir, "orders")
    o.select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).createOrReplaceTempView("_pd_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p25_cents,
               CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS median_cents,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p75_cents,
               COUNT(*) AS n
        FROM _pd_orders
        GROUP BY o_orderstatus
        """
    )


# --------------------------------------------------------------------
# Weighted median (cumulative-weight formulation).
# --------------------------------------------------------------------
@register(
    "weighted_median_price_by_flag",
    """
    WITH x AS (
      -- a weighted median needs an OBSERVED (value, weight) pair
      -- (r9 mixed-null sweep: NULL prices rode the cumulative
      -- ordering at opposite ends)
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(round(l_quantity) AS BIGINT) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ), g AS (
      SELECT flag, price_cents, CAST(SUM(w) AS BIGINT) AS w
      FROM x GROUP BY flag, price_cents
    ), c AS (
      SELECT flag, price_cents, w,
             CAST(SUM(w) OVER (PARTITION BY flag ORDER BY price_cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
      FROM g
    )
    SELECT flag,
           MIN(price_cents) AS weighted_median_cents,
           MIN(tw) AS total_weight
    FROM c WHERE 2 * cw >= tw
    GROUP BY flag
    ORDER BY flag
    """,
    tags=("stats", "quantile", "weighted"),
)
def weighted_median_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted median (lower weighted median: smallest value whose
    cumulative weight reaches half the total) of extended price
    weighted by quantity, per return flag — the quantity-weighted
    'typical unit price' plain median misses. Pure cumulative-weight
    formulation: pre-aggregate per distinct value, one running sum,
    pick the crossing point — exact BIGINT throughout.

    Scale shape: the value-level pre-aggregation collapses the fact
    table before any window; the running sum partitions by flag. The
    same shape generalizes to any weighted quantile q by replacing
    ``2*cw >= tw`` with ``cw*denom >= q_num*tw``.
    """
    x = (
        t(spark, sf_dir, "lineitem")
        .where(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_quantity").isNotNull()
        )
        .select(
            F.col("l_returnflag").alias("flag"),
            cents("l_extendedprice").alias("price_cents"),
            F.round("l_quantity").cast("long").alias("w"),
        )
    )
    g = x.groupBy("flag", "price_cents").agg(F.sum("w").alias("w"))
    w_run = (
        Window.partitionBy("flag")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("flag")
    c = g.select(
        "flag",
        "price_cents",
        F.sum("w").over(w_run).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price_cents").alias("weighted_median_cents"),
            F.min("tw").alias("total_weight"),
        )
    )


# --------------------------------------------------------------------
# Mann-Whitney U (rank-sum) statistic with exact midranks.
# --------------------------------------------------------------------
@register(
    "mann_whitney_u_by_type",
    """
    WITH x AS (
      -- ranks are over OBSERVED values (r9 mixed-null sweep)
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL
    ), r AS (
      -- 2x-scaled midrank: min_rank + max_rank over each tie group
      SELECT event_type, grp, v,
             CAST(row_number() OVER (
               PARTITION BY event_type ORDER BY v, grp, row_nr)
             AS BIGINT) AS rn
      FROM (SELECT x.*, row_number() OVER () AS row_nr FROM x) x
    ), ties AS (
      SELECT event_type, v,
             CAST(MIN(rn) + MAX(rn) AS BIGINT) AS midrank2
      FROM r GROUP BY event_type, v
    ), j AS (
      SELECT r.event_type, r.grp, t.midrank2
      FROM r JOIN ties t ON r.event_type = t.event_type AND r.v = t.v
    ), sums AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN grp = 'A' THEN midrank2 ELSE 0 END)
                  AS BIGINT) AS r_a_2,
             CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM j GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           (r_a_2 - n_a * (n_a + 1)) / 2.0 AS u_a
    FROM sums
    ORDER BY event_type
    """,
    tags=("stats", "hypothesis-test"),
)
def mann_whitney_u_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U statistic (two-sided rank-sum input) comparing
    even- vs odd-user event values per event type — the
    nonparametric A/B test primitive. Tied values receive exact
    midranks computed as ``(min_rank + max_rank)`` per tie group
    (2×-scaled so everything stays integer; the single final /2.0 is
    the only float op and is identical on both engines).

    The rank ordering breaks ties deterministically only WITHIN the
    midrank computation (tie groups collapse to one value), so the
    statistic is row-order independent — safe under any partitioning.

    Scale shape: ranks partition by event_type; the tie table is a
    per-(type, value) aggregate joined back on the same key — two
    co-partitioned shuffles, no global window.
    """
    x = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.when(F.col("user_id") % 2 == 0, "A")
            .otherwise("B")
            .alias("grp"),
            cents("value").alias("v"),
        )
    )
    # rank per (type, value) — ties collapse, so the arbitrary
    # within-tie order never affects midrank2 = min_rn + max_rn
    g = (
        x.groupBy("event_type", "grp", "v")
        .agg(F.count("*").alias("cnt"))
    )
    # per-(type,value) total count and cumulative counts give exact
    # min/max rank of the tie group without ranking individual rows
    per_val = g.groupBy("event_type", "v").agg(
        F.sum("cnt").alias("n_here")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked_vals = per_val.select(
        "event_type",
        "v",
        (F.sum("n_here").over(w_cum) - F.col("n_here") + 1).alias("min_rn"),
        F.sum("n_here").over(w_cum).alias("max_rn"),
    ).withColumn("midrank2", F.col("min_rn") + F.col("max_rn"))
    j = g.join(ranked_vals, ["event_type", "v"])
    sums = j.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("grp") == "A", F.col("midrank2") * F.col("cnt"))
            .otherwise(0)
        ).alias("r_a_2"),
        F.sum(F.when(F.col("grp") == "A", F.col("cnt")).otherwise(0)).alias(
            "n_a"
        ),
        F.sum(F.when(F.col("grp") == "B", F.col("cnt")).otherwise(0)).alias(
            "n_b"
        ),
    )
    return sums.select(
        "event_type",
        "n_a",
        "n_b",
        (
            (F.col("r_a_2") - F.col("n_a") * (F.col("n_a") + 1)) / 2.0
        ).alias("u_a"),
    )


# --------------------------------------------------------------------
# Gini coefficient of revenue concentration, per nation.
# --------------------------------------------------------------------
@register(
    "gini_revenue_by_nation",
    """
    WITH rev AS (
      SELECT c_nationkey AS nation, o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, o_custkey
    ), ranked AS (
      SELECT nation, x,
             CAST(row_number() OVER (
               PARTITION BY nation ORDER BY x, o_custkey) AS BIGINT) AS i
      FROM rev
    ), agg AS (
      -- sums stay HUGEINT: the x1e6 micro-scaled numerator exceeds
      -- int64 at sf0.1 (mirrors the Spark side's DECIMAL(38,0))
      SELECT nation,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx,
             SUM(i * x) AS six
      FROM ranked GROUP BY nation
    )
    SELECT CAST(nation AS BIGINT) AS nation, n,
           CAST((CAST(1000000 AS HUGEINT) * (2 * six - (n + 1) * sx))
                // (n * sx) AS BIGINT) AS gini_micro
    FROM agg
    ORDER BY nation
    """,
    tags=("stats", "concentration"),
)
def gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue concentration within
    each nation (micro-units, floor): the standard inequality measure
    for 'how concentrated is our revenue', from the sorted-rank
    identity G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx). Ranks are deterministic
    ((revenue, custkey) order); all arithmetic is BIGINT with one
    final integer division.

    Scale shape: per-customer totals are one shuffle; ranking
    partitions by nation (bounded-cardinality groups). A single
    global Gini at extreme scale would use the two-level banded-rank
    pattern of `orderkey_gap_audit`; per-group partitioning is the
    common case and needs no global sort.
    """
    rev = (
        t(spark, sf_dir, "orders")
        .join(
            t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_nationkey").cast("long").alias("nation"),
            ),
            "o_custkey",
        )
        .groupBy("nation", "o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("x"))
    )
    w_rank = Window.partitionBy("nation").orderBy("x", "o_custkey")
    ranked = rev.select(
        "nation", "x", F.row_number().over(w_rank).cast("long").alias("i")
    )
    # DECIMAL(38,0) accumulators: Σi·x is ~rank×cents per term, and
    # the ×10^6 micro-scaling pushes the numerator past int64 at
    # sf0.1 already (observed ARITHMETIC_OVERFLOW) — decimal math
    # matches DuckDB's HUGEINT exactly, and `div` on decimals keeps
    # the integral-quotient (floor) semantics of the oracle's `//`
    agg = ranked.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        # cast an OPERAND, not the product: i*x evaluated in int64
        # first could wrap silently (ANSI off) before the cast —
        # decimal multiply keeps every per-row term exact
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("x")
        ).alias("six"),
    )
    return agg.select(
        "nation",
        "n",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (2 * six - (n + 1) * sx)) div (n * sx) AS BIGINT)"
        ).alias("gini_micro"),
    )


# ------------------------------------------------------------------
# Cochran-Armitage test for trend in proportions.
# ------------------------------------------------------------------
@register(
    "cochran_armitage_trend",
    """
    WITH g AS (
      SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(r) AS BIGINT) AS rr,
             CAST(SUM(CAST(n AS HUGEINT) * s) AS HUGEINT) AS sns,
             CAST(SUM(CAST(n AS HUGEINT) * s * s) AS HUGEINT) AS sns2,
             CAST(SUM(CAST(r AS HUGEINT) * s) AS HUGEINT) AS srs
      FROM g
    )
    SELECT nn AS n_orders, rr AS n_events,
           CAST(round(1000000.0
             * (CAST(srs AS DOUBLE)
                - CAST(rr AS DOUBLE) * CAST(sns AS DOUBLE) / nn)
             / sqrt((CAST(rr AS DOUBLE) / nn)
                    * (1.0 - CAST(rr AS DOUBLE) / nn)
                    * (CAST(sns2 AS DOUBLE)
                       - CAST(sns AS DOUBLE) * CAST(sns AS DOUBLE)
                         / nn))) AS BIGINT) AS z_micro
    FROM tot WHERE rr > 0 AND rr < nn
    """,
    tags=("stats", "experiment", "test"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for trend (Cochran 1954; Armitage 1955):
    does the rate of finalized orders (status 'F') rise or fall
    MONOTONELY with order priority (scores 1..5 parsed from the
    '1-URGENT'..'5-LOW' labels)? T = Σ sᵢ(rᵢ − nᵢ·R/N) against
    Var(T) = p̂(1−p̂)·(Σnᵢsᵢ² − (Σnᵢsᵢ)²/N) — the dose-response
    companion of `two_proportion_ztest` (2 unordered groups) and the
    Kruskal-Wallis row (unordered k groups, continuous outcome).
    Degenerate pools (all or no events) are filtered. All sufficient
    statistics are exact DECIMAL integers; z is one row-local double
    chain.

    Scale shape: one map-side-combined groupBy over the 5 priority
    levels, then algebra on the 1-row totals — a single scan, no
    joins, no windows.
    """
    o = t(spark, sf_dir, "orders")
    g = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        )
        .cast("long")
        .alias("r"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(d38("n") * F.col("s")).alias("sns"),
        F.sum(d38("n") * F.col("s") * F.col("s")).alias("sns2"),
        F.sum(d38("r") * F.col("s")).alias("srs"),
    )
    p = F.col("rr").cast("double") / F.col("nn")
    z = (
        1000000.0
        * (
            F.col("srs").cast("double")
            - F.col("rr").cast("double")
            * F.col("sns").cast("double")
            / F.col("nn")
        )
        / F.sqrt(
            p
            * (1.0 - p)
            * (
                F.col("sns2").cast("double")
                - F.col("sns").cast("double")
                * F.col("sns").cast("double")
                / F.col("nn")
            )
        )
    )
    return (
        tot.filter((F.col("rr") > 0) & (F.col("rr") < F.col("nn")))
        .select(
            F.col("nn").alias("n_orders"),
            F.col("rr").alias("n_events"),
            F.round(z).cast("long").alias("z_micro"),
        )
    )


# --------------------------------------------------------------------
# Approximate aggregates (sketches) + their exact twins.
# --------------------------------------------------------------------
@register(
    "exact_quantiles_events",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "quantile"),
    # bounded by the event-type domain
    sort="tiny_sorted",
)
def exact_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count + interpolated percentiles per event type —
    the exact twins the approximate sketches are graded against."""
    e = t(spark, sf_dir, "events")
    # distinct-count and percentiles aggregate SEPARATELY: combining
    # them makes Catalyst expand every row for the distinct rewrite
    # and drag the percentile buffers through the expanded stream —
    # two lean aggs are faster (re-measured round 5: combined single
    # agg 0.55 s vs the split form 0.32 s at sf0.1, paired min-of-4;
    # re-confirmed round 8: 0.34-0.36 s combined). The branches meet
    # by UNION + first(ignorenulls) re-agg rather than a broadcast
    # join: same values, but no broadcast-materialization job per
    # action (round-7 paired min-of-5 at sf0.1: join 0.42-0.52 s,
    # union 0.35-0.42 s). The three percentiles are ONE array-form
    # percentile (shared sort buffer, one pass) instead of three
    # scalar calls with three buffers over the same rows — round-8
    # paired min-of-5, both orders: array 0.217 s vs scalar 0.30-0.35.
    nd = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.lit(None).cast("array<double>").alias("ps"),
    )
    pct = e.groupBy("event_type").agg(
        F.lit(None).cast("long").alias("n_users"),
        F.percentile(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
        ).alias("ps"),
    )
    merged = (
        nd.unionByName(pct)
        .groupBy("event_type")
        .agg(
            F.first("n_users", ignorenulls=True).alias("n_users"),
            F.first("ps", ignorenulls=True).alias("ps"),
        )
        .select(
            "event_type",
            "n_users",
            F.round(F.element_at("ps", 1), 6).alias("p50"),
            F.round(F.element_at("ps", 2), 6).alias("p90"),
            F.round(F.element_at("ps", 3), 6).alias("p99"),
        )
    )
    return merged


# --------------------------------------------------------------------
# Robust statistics: median absolute deviation per group.
# --------------------------------------------------------------------
@register(
    "robust_stats_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(MAX(m.med), 6) AS median,
           round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad,
           COUNT(*) AS n
    FROM events e JOIN med m ON m.event_type = e.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    tags=("stats", "robust", "analytics"),
)
def robust_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the outlier-robust
    spread measure (quality-score distributions are heavy-tailed, so
    std-dev-based cutoffs misbehave; MAD-based ones don't). Two exact
    interpolated-percentile passes: group medians, broadcast back,
    then the median of absolute deviations.

    Scale: each pass is a grouped exact percentile (sort within hash
    partition); the join-back is a broadcast of |groups| rows. At
    100 TB swap pass 2's exact percentile for percentile_approx and
    keep pass 1 exact (group count is small).
    """
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 6).alias("median"),
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)),
                6,
            ).alias("mad"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------
# Contingency analysis: chi-square cells for lang × source.
# --------------------------------------------------------------------
@register(
    "contingency_chi2_cells",
    """
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS n FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL
      GROUP BY lang, source
    ),
    margins AS (
      SELECT o.lang, o.source, o.n,
             CAST(SUM(o.n) OVER (PARTITION BY o.lang) AS BIGINT) AS row_total,
             CAST(SUM(o.n) OVER (PARTITION BY o.source) AS BIGINT) AS col_total,
             SUM(o.n) OVER () AS grand_total
      FROM obs o
    )
    SELECT lang, source, n, row_total, col_total,
           round((CAST(row_total AS DOUBLE) * col_total) / grand_total, 6)
             AS expected,
           round(
             ((n - (CAST(row_total AS DOUBLE) * col_total) / grand_total)
              * (n - (CAST(row_total AS DOUBLE) * col_total) / grand_total))
             / ((CAST(row_total AS DOUBLE) * col_total) / grand_total), 6)
             AS chi2_term
    FROM margins ORDER BY lang, source
    """,
    tags=("stats", "analytics"),
)
def contingency_chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence analysis of the lang × source
    contingency table, emitted per cell (observed, margins, expected,
    χ² term) so every float is computed row-locally in one fixed op
    order — no cross-row float summation to perturb hashes; the
    caller folds the rounded terms for the statistic.

    Scale: one exact grouped count over raw rows, then margins via
    broadcast joins of the tiny per-lang/per-source/grand aggregates —
    no window touches raw data and nothing funnels to one partition.
    This is the standard pattern for feature×label dependence
    screening over a corpus.
    """
    # a chi-square contingency table is over OBSERVED categories: a
    # NULL lang/source is no category, declared on both sides (r9
    # null sweep: the oracle's window margins kept NULL cells that
    # Spark's equi-join margins dropped)
    d = t(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    # obs feeds four consumers (margins base + three marginal aggs) —
    # persist the lang×source cell table (tiny) so the corpus count
    # runs once, not once per reference
    obs = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    row_tot = obs.groupBy("lang").agg(F.sum("n").alias("row_total"))
    col_tot = obs.groupBy("source").agg(F.sum("n").alias("col_total"))
    grand = obs.agg(F.sum("n").alias("grand_total"))
    margins = (
        obs.join(F.broadcast(row_tot), "lang")
        .join(F.broadcast(col_tot), "source")
        .crossJoin(F.broadcast(grand))
        .select("lang", "source", "n", "row_total", "col_total", "grand_total")
    )
    expected = (
        F.col("row_total").cast("double") * F.col("col_total")
    ) / F.col("grand_total")
    return margins.select(
        "lang",
        "source",
        "n",
        "row_total",
        "col_total",
        F.round(expected, 6).alias("expected"),
        F.round(
            ((F.col("n") - expected) * (F.col("n") - expected)) / expected, 6
        ).alias("chi2_term"),
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


# Per-user (user_id, t_days, event) subject table — the shared base of
# the whole signup→first-purchase survival family (Kaplan–Meier,
# log-rank, RMST, Nelson–Aalen). Its plan is built once per (session,
# sf_dir) through session.memo and persisted, so the family makes one
# corpus pass per session instead of one (or more) per query; derived
# inside each query, the signup reduction ran up to three times in one
# plan (the static audit showed 8 parquet scans on rmst alone). The
# signup base is persisted too: it feeds both the purchase probe and
# the outer join of the one build pass.
def _signup_purchase_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    subjects, s = memo(
        spark,
        ("signup_purchase_subjects", sf_dir),
        lambda: _subject_plans(spark, sf_dir),
    )
    # clearCache() and cache_scope() release the blocks but leave the
    # memo entry, so persist again whatever the CacheManager no longer
    # holds. df.is_cached is stale after clearCache (it reads the
    # DataFrame's own flag); storageLevel asks the CacheManager. The
    # base goes first, so the subjects' cached plan reads it. Two
    # threads may both persist: Spark keeps one entry per plan.
    for df in (s, subjects):
        lvl = df.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            df.persist()
    return subjects


def _subject_plans(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(subjects, signup base), neither persisted yet."""
    e = t(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
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
    )
    return subjects, s


# --------------------------------------------------------------------
# Kaplan–Meier time-to-event curve (signup → purchase, censored).
# --------------------------------------------------------------------
@register(
    "kaplan_meier_signup_purchase",
    f"""
    {_SQL_SIGNUP_PURCHASE}, subjects AS (
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
# Two-group log-rank test (Mantel 1966).
# --------------------------------------------------------------------
@register(
    "logrank_test_arms",
    f"""
    {_SQL_SIGNUP_PURCHASE}, subjects AS (
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
    {_SQL_SIGNUP_PURCHASE}, subjects AS (
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
