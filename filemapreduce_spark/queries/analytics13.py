"""Round-5 analytics batch 9: paired classifier comparison and
effect sizes.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- McNemar's test (McNemar 1947): the PAIRED comparison of two
  classifiers on the same items — only the discordant cells matter;
  comparing raw accuracies ignores that both models see the same
  examples. Here: the marker-word lang classifier vs the
  majority-class baseline.
- Cohen's d (Cohen 1988): the standardized mean difference — the
  registry's Welch row TESTS whether arm means differ; d reports
  HOW MUCH in pooled-SD units, the number meta-analyses and power
  calculations consume.
- Cliff's delta (Cliff 1993): the ordinal effect size
  2U/(n1·n2) − 1 from the same dominance counts as the registry's
  Mann-Whitney U row — how often does a random arm-1 value beat a
  random arm-0 value, robust to non-normality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.operators.textops import (
    LANG_MARKERS,
    SQL_LANG_SCORES,
    SQL_WORDS,
    words,
)
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


_MCN_BASELINE = "en"  # the majority-class baseline prediction


# ------------------------------------------------------------------
# McNemar's paired test: marker classifier vs majority baseline.
# ------------------------------------------------------------------
@register(
    "mcnemar_langid_vs_baseline",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {SQL_WORDS} AS ws FROM documents
    ), s AS (
      SELECT doc_id, lang, {SQL_LANG_SCORES} FROM d
    ), p AS (
      SELECT lang,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS pred_a,
             '{_MCN_BASELINE}' AS pred_b
      FROM s
    ), cells AS (
      SELECT
        CAST(SUM(CASE WHEN pred_a = lang AND pred_b <> lang
                 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        CAST(SUM(CASE WHEN pred_a <> lang AND pred_b = lang
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN pred_a = lang THEN 1 ELSE 0 END)
             AS BIGINT) AS a_correct,
        CAST(SUM(CASE WHEN pred_b = lang THEN 1 ELSE 0 END)
             AS BIGINT) AS b_correct,
        CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM p
    )
    SELECT n_docs, a_correct, b_correct, b AS a_only, c AS b_only,
           CASE WHEN b + c > 0 THEN
             CAST(round(1000.0 * (b - c) * (b - c) / (b + c))
                  AS BIGINT)
           ELSE 0 END AS chi2_milli
    FROM cells
    """,
    tags=("text", "langid", "eval", "test"),
)
def mcnemar_langid_vs_baseline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar's paired test (McNemar 1947) of the marker-word
    language classifier against the always-'{B}' majority baseline
    on the SAME documents: only the discordant pairs matter —
    b = docs only the classifier gets right, c = docs only the
    baseline gets right — and chi² = (b−c)²/(b+c) on 1 df asks
    whether the improvement survives the pairing (comparing two raw
    accuracy numbers ignores that both predictors see identical
    items, the classic paired-eval mistake). Degenerate b+c = 0
    reports 0. All cells are exact integers; chi² is one row-local
    division.

    Scale shape: one row-local double-prediction per doc, one 1-row
    agg of the four cells — a single scan, no joins, no windows.
    """
    d = t(spark, sf_dir, "documents").select(
        "lang", words("text").alias("ws")
    )

    def marker_hits(markers: tuple[str, ...]):
        return F.size(F.filter(F.col("ws"), lambda w: w.isin(*markers)))

    scores = {lang: marker_hits(m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred_a = (
        F.when(best == 0, "und")
        .when(scores["de"] == best, "de")
        .when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .otherwise("fr")
    )
    p = d.select(
        "lang",
        pred_a.alias("pred_a"),
        F.lit(_MCN_BASELINE).alias("pred_b"),
    )
    cells = p.agg(
        F.sum(
            F.when(
                (F.col("pred_a") == F.col("lang"))
                & (F.col("pred_b") != F.col("lang")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when(
                (F.col("pred_a") != F.col("lang"))
                & (F.col("pred_b") == F.col("lang")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(F.when(F.col("pred_a") == F.col("lang"), 1).otherwise(0))
        .cast("long")
        .alias("a_correct"),
        F.sum(F.when(F.col("pred_b") == F.col("lang"), 1).otherwise(0))
        .cast("long")
        .alias("b_correct"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    bc = F.col("b") + F.col("c")
    return cells.select(
        "n_docs",
        "a_correct",
        "b_correct",
        F.col("b").alias("a_only"),
        F.col("c").alias("b_only"),
        F.when(
            bc > 0,
            F.round(
                1000.0
                * (F.col("b") - F.col("c"))
                * (F.col("b") - F.col("c"))
                / bc
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("chi2_milli"),
    )


mcnemar_langid_vs_baseline.__doc__ = (
    mcnemar_langid_vs_baseline.__doc__.replace("{B}", _MCN_BASELINE)
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
