"""Round-5 coverage batch 8: privacy diversity, ordered-trend
testing, and calibration scalars.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- l-diversity audit (Machanavajjhala et al. 2007): k-anonymity's
  successor check — a class can be large (k-safe) yet expose its
  members if everyone shares the same SENSITIVE value; l-diversity
  requires ≥l distinct sensitive values per quasi-identifier class.
  Completes the governance family (k-anonymity, masking/RLS, GDPR
  erasure, DP ledger).
- Cochran-Armitage trend test (Cochran 1954; Armitage 1955): is a
  binary rate MONOTONE in an ordered factor — the dose-response
  test; the registry's two-proportion z handles 2 groups, this
  handles an ordered ladder of them.
- Brier score + expected calibration error (Brier 1950; Naeini et
  al. 2015): the two scalar calibration numbers a model card
  reports, computed over the same score the
  `calibration_curve_deciles` row bins — quantize-then-accumulate
  exact, zeros and degenerate bins guarded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

# ------------------------------------------------------------------
# l-diversity audit over (nation, balance-band) classes.
# ------------------------------------------------------------------
_LDIV_L = 3


@register(
    "l_diversity_audit",
    f"""
    WITH qi AS (
      SELECT c_nationkey AS nation,
             CAST(round(c_acctbal * 100) AS BIGINT) // 100000
               AS bal_band,
             c_mktsegment AS sensitive
      FROM customer
    ), cls AS (
      SELECT nation, bal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l_distinct
      FROM qi GROUP BY nation, bal_band
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(bal_band AS BIGINT) AS bal_band,
           class_size, l_distinct,
           (l_distinct < {_LDIV_L}) AS violates_l{_LDIV_L}
    FROM cls ORDER BY nation, bal_band
    """,
    tags=("governance", "privacy", "audit"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2007):
    group customers by the quasi-identifier pair (nation, $1000
    balance band) and count DISTINCT market segments — the sensitive
    attribute — per class; classes with fewer than l={L} distinct
    values are flagged, because a linkage attacker who pins a victim
    to such a class learns their segment even when the class is
    k-large (the homogeneity attack k-anonymity misses — this row is
    the follow-on check to `k_anonymity_audit`, which uses segment
    as a QI instead). Counts are exact; banding is integer cents.

    Scale shape: one hash aggregation on the QI tuple with a
    distinct-count — a single shuffle at any scale.
    """
    qi = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.expr(
            "cast(round(c_acctbal * 100) as bigint) div 100000"
        ).alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    return (
        qi.groupBy("nation", "bal_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("class_size"),
            F.countDistinct("sensitive").cast("long").alias("l_distinct"),
        )
        .select(
            "nation",
            "bal_band",
            "class_size",
            "l_distinct",
            (F.col("l_distinct") < _LDIV_L).alias(
                f"violates_l{_LDIV_L}"
            ),
        )
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
