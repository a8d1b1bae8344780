"""Analytics batch 3: running-peak drawdown, Welch's t-test, and a
mergeable Bloom-filter semi-join prune.

Extends the declared analytics surface (SURVEY.md §2 Part B) with
three shapes real monitoring / experimentation / join-pruning
workloads need: the max-drawdown scan every risk dashboard computes
over cumulative series, the unequal-variance two-sample test (the
default A/B-test statistic), and an explicit Bloom-filter sketch used
the way a 100 TB join actually uses one — built from the small
filtered side, broadcast, and probed to prune the fact side before
the expensive join.

All three follow the repo's exactness contract: integer-cents
accumulators end-to-end, derived doubles computed op-for-op
identically in the DuckDB oracle, rounded to milli-units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


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


# --------------------------------------------------------------------
# Bloom-filter semi-join prune (mergeable bit-word sketch).
# --------------------------------------------------------------------
_BLOOM_BITS = 65536  # 2048 words x 32 bits
_BLOOM_WORDS = _BLOOM_BITS // 32


def _bloom_bit_sql(seed: int, key: str) -> str:
    """DuckDB: md5-derived bit position in [0, 65536) for (seed, key)."""
    return (
        f"('0x' || substring(md5('{seed}:' || CAST({key} AS VARCHAR)),"
        f" 1, 5))::INT % {_BLOOM_BITS}"
    )


def _bloom_bit_col(seed: int, key) -> F.Column:
    """Spark: the identical md5-derived bit position."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string"))), 1, 5
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_BITS
    )


@register(
    "bloom_semi_prune_join",
    f"""
    WITH hot AS (
      SELECT o_orderkey FROM orders WHERE o_totalprice > 450000
    ), bloom AS (
      SELECT b // 32 AS word_idx,
             CAST(bit_or(CAST(1 AS BIGINT) << (b % 32)) AS BIGINT) AS word
      FROM (
        SELECT {_bloom_bit_sql(0, 'o_orderkey')} AS b FROM hot
        UNION ALL
        SELECT {_bloom_bit_sql(1, 'o_orderkey')} AS b FROM hot
      ) GROUP BY 1
    ), probe AS (
      SELECT DISTINCT l_orderkey FROM lineitem
    ), probed AS (
      SELECT p.l_orderkey,
             MIN(CASE WHEN (w.word & (CAST(1 AS BIGINT) << (s.b % 32))) != 0
                      THEN 1 ELSE 0 END) AS pass
      FROM probe p
      CROSS JOIN LATERAL (
        SELECT {_bloom_bit_sql(0, 'p.l_orderkey')} AS b
        UNION ALL
        SELECT {_bloom_bit_sql(1, 'p.l_orderkey')} AS b
      ) s
      LEFT JOIN bloom w ON w.word_idx = s.b // 32
      GROUP BY p.l_orderkey
    )
    SELECT COUNT(*) AS n_probe_keys,
           CAST(SUM(pass) AS BIGINT) AS n_pass_bloom,
           CAST(SUM(CASE WHEN h.o_orderkey IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
           CAST(SUM(pass) - SUM(CASE WHEN h.o_orderkey IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos
    FROM probed
    LEFT JOIN hot h ON h.o_orderkey = probed.l_orderkey
    """,
    tags=("sketch", "join", "bloom"),
)
def bloom_semi_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter semi-join prune (Bloom 1970): build a
    65536-bit filter (2048 × 32-bit words, k=2 md5-derived hashes)
    from the orderkeys of high-value orders, probe every distinct
    lineitem orderkey against it, and account exactly for pruning
    quality: keys probed, keys passing the filter, true matches, and
    false positives. Every bit is integer arithmetic on md5 buckets,
    so the oracle recomputes the IDENTICAL filter and counts.

    Scale shape — the reason this exists: at 100 TB the expensive
    side of a selective join is shuffling the fact table; a Bloom
    filter built from the small filtered build side is a few KB of
    *mergeable* state (words OR together across partitions/days —
    same rollup contract as the bitmap/HLL/CMS states) that
    broadcasts to every executor and drops ~all non-matching fact
    rows BEFORE the shuffle. Spark's AQE injects this pattern as
    runtime bloom pruning; the explicit formulation makes the filter
    a first-class, persistable, incrementally-maintainable artifact.
    Here the probe joins the broadcast 2048-row word table on
    word_idx; the false-positive count is the measured cost of the
    65536-bit sizing (≈2 bits/key at sf0.01).
    """
    orders = t(spark, sf_dir, "orders")
    hot = orders.where(F.col("o_totalprice") > 450000).select("o_orderkey")

    bits = hot.select(
        F.explode(
            F.array(
                _bloom_bit_col(0, F.col("o_orderkey")),
                _bloom_bit_col(1, F.col("o_orderkey")),
            )
        ).alias("b")
    )
    # shiftleft() takes a literal bit count, so the per-row mask
    # 1 << (b % 32) goes through expr (still pure JVM codegen).
    # 64-bit shift on BOTH engines: a 32-bit 1<<31 wraps negative in
    # Spark and overflows in DuckDB; BIGINT 1<<31 is +2^31 in both.
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 32 AS INT))")
    bloom = bits.groupBy((F.col("b") / 32).cast("long").alias("word_idx")).agg(
        F.bit_or(mask).cast("long").alias("word")
    )

    probe = (
        t(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    )
    probed = (
        probe.select(
            "l_orderkey",
            F.explode(
                F.array(
                    _bloom_bit_col(0, F.col("l_orderkey")),
                    _bloom_bit_col(1, F.col("l_orderkey")),
                )
            ).alias("b"),
        )
        .join(
            F.broadcast(bloom),
            (F.col("b") / 32).cast("long") == F.col("word_idx"),
            "left",
        )
        .select(
            "l_orderkey",
            F.when(
                F.col("word").bitwiseAND(mask) != 0,
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("l_orderkey")
        .agg(F.min("hit").alias("pass"))
    )
    joined = probed.join(
        F.broadcast(hot.withColumnRenamed("o_orderkey", "hot_key")),
        F.col("l_orderkey") == F.col("hot_key"),
        "left",
    )
    return joined.agg(
        F.count("*").alias("n_probe_keys"),
        F.sum("pass").cast("long").alias("n_pass_bloom"),
        F.sum(F.when(F.col("hot_key").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_true_match"),
        (
            F.sum("pass")
            - F.sum(F.when(F.col("hot_key").isNotNull(), 1).otherwise(0))
        )
        .cast("long")
        .alias("n_false_pos"),
    )
