"""Round-5 coverage batch 7: ranking agreement and boilerplate
detection.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Rank-biased overlap (Webber, Moffat & Zobel 2010): the top-weighted
  agreement measure between two rankings — unlike Kendall/Spearman
  (both in the registry) it handles TOP-K lists that don't share all
  items and discounts disagreement deep in the tail, which is how
  search/recommendation rankings are actually compared.
- Boilerplate prefix mass: which shared document PREFIXES dominate
  the corpus — the template/boilerplate detector (C4-style cleanup
  prep) that the segment-level and span-level dedup rows don't
  surface because they key on whole lines/spans, not document heads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.operators.textops import SQL_WORDS, words
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# ------------------------------------------------------------------
# Rank-biased overlap between the revenue and quantity part rankings.
# ------------------------------------------------------------------
_RBO_K = 15
_RBO_P = 0.9  # the standard top-weightedness parameter
# p^(d-1) = 9^(d-1)/10^(d-1) held as EXACT integer numerator and
# denominator (libm pow(0.9, d) and JVM Math.pow disagree in the
# last ulp, which flips micro-rounding): at K=15 both fit int64.
_RBO_POWS = [(d, 9 ** (d - 1), 10 ** (d - 1)) for d in range(1, _RBO_K + 1)]
_RBO_POWS_SQL = ", ".join(f"({d}, {p9}, {p10})" for d, p9, p10 in _RBO_POWS)


@register(
    "rbo_rank_agreement",
    f"""
    WITH agg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY l_partkey
    ), ra AS (
      SELECT l_partkey, rn FROM (
        SELECT l_partkey, row_number() OVER (
          ORDER BY rev DESC, l_partkey) AS rn FROM agg)
      WHERE rn <= {_RBO_K}
    ), rb AS (
      SELECT l_partkey, rn FROM (
        SELECT l_partkey, row_number() OVER (
          ORDER BY qty DESC, l_partkey) AS rn FROM agg)
      WHERE rn <= {_RBO_K}
    ), shared AS (
      SELECT greatest(ra.rn, rb.rn) AS dmax
      FROM ra JOIN rb ON rb.l_partkey = ra.l_partkey
    ), bycut AS (
      SELECT dmax, CAST(COUNT(*) AS BIGINT) AS n
      FROM shared GROUP BY dmax
    ), pows(d, p9, p10) AS (
      VALUES {_RBO_POWS_SQL}
    ), grid AS (
      SELECT CAST(p.d AS BIGINT) AS d,
             CAST(p.p9 AS HUGEINT) AS p9, CAST(p.p10 AS HUGEINT) AS p10,
             CAST(COALESCE(SUM(b.n) OVER (ORDER BY p.d), 0) AS BIGINT)
               AS overlap_d
      FROM pows p LEFT JOIN bycut b ON b.dmax = p.d
    ), terms AS (
      -- term = 1e6*(1-p)*overlap/d*p^(d-1) = 1e5*overlap*p9/(d*p10),
      -- rounded half-up EXACTLY: round(a/b) = (2a+b) // (2b)
      SELECT d, overlap_d,
             (2 * (100000 * CAST(overlap_d AS HUGEINT) * p9)
              + d * p10) // (2 * d * p10) AS term_micro
      FROM grid
    )
    SELECT d, overlap_d,
           CAST(round(1000.0 * overlap_d / d) AS BIGINT)
             AS agreement_milli,
           CAST(SUM(term_micro) OVER (ORDER BY d) AS BIGINT)
             AS rbo_partial_micro
    FROM terms ORDER BY d
    """,
    tags=("ranking", "eval", "agreement"),
)
def rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between the
    top-{K} parts BY REVENUE and the top-{K} parts BY QUANTITY:
    agreement at depth d is |A_d ∩ B_d|/d, and the truncated
    RBO = (1−p)·Σ_d agreement_d·p^(d−1) (p={P}) reports cumulative
    top-weighted agreement per depth — the measure search evaluation
    uses where Kendall/Spearman (whole-permutation, both in the
    registry) don't apply to non-conjoint top-k lists. Overlaps are
    exact integers via the max(rank_a, rank_b) cut trick (an item
    enters every depth ≥ its later appearance); the geometric weights
    9^(d−1)/10^(d−1) are EXACT integer rationals from a literal
    power table, with round-half-up done as integer algebra
    ((2a+b) div 2b) — libm and JVM pow(0.9, d) disagree in the last
    ulp, which would flip micro-rounding.

    Scale shape: both rankings come from ONE part-grain aggregate,
    topped by TakeOrderedAndProject (never a global sort of the part
    dimension); the rank windows and the depth-grid cumulative sums
    run over ≤{K}-row bounded relations. The lineitem table is
    scanned once (the part agg is shared by both rankings).
    """
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        F.sum(cents("l_extendedprice")).cast("long").alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
    )

    def topk(order_col: str):
        top = agg.orderBy(
            F.col(order_col).desc(), "l_partkey"
        ).limit(_RBO_K)
        w = Window.orderBy(F.col(order_col).desc(), "l_partkey")
        return top.select(
            "l_partkey", F.row_number().over(w).cast("long").alias("rn")
        )

    ra = topk("rev").select(
        "l_partkey", F.col("rn").alias("ra")
    )
    rb = topk("qty").select(
        "l_partkey", F.col("rn").alias("rb")
    )
    shared = ra.join(rb, "l_partkey").select(
        F.greatest("ra", "rb").alias("dmax")
    )
    bycut = shared.groupBy("dmax").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    grid = spark.createDataFrame(_RBO_POWS, "d long, p9 long, p10 long")
    wcum = Window.orderBy("d")
    joined = (
        grid.join(bycut, grid.d == bycut.dmax, "left")
        .select(
            "d",
            "p9",
            "p10",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        .select(
            "d",
            "p9",
            "p10",
            F.coalesce(F.sum("n").over(wcum), F.lit(0))
            .cast("long")
            .alias("overlap_d"),
        )
    )
    # term = 1e5*overlap*9^(d-1)/(d*10^(d-1)) in EXACT integer
    # rationals; round-half-up as (2a+b) div (2b) so no float (and no
    # libm-vs-JVM pow ulp) ever enters the cumulative sum
    a = (
        F.lit(100000).cast("decimal(38,0)")
        * F.col("overlap_d")
        * F.col("p9")
    )
    b = (F.col("d").cast("decimal(38,0)") * F.col("p10")).cast(
        "decimal(38,0)"
    )
    term_micro = F.expr(
        "CAST((2 * rbo_a + rbo_b) div (2 * rbo_b) AS BIGINT)"
    )
    return (
        joined.withColumn("rbo_a", a)
        .withColumn("rbo_b", b)
        .withColumn("term_micro", term_micro)
        .select(
            "d",
            "overlap_d",
            F.round(1000.0 * F.col("overlap_d") / F.col("d"))
            .cast("long")
            .alias("agreement_milli"),
            F.sum("term_micro")
            .over(wcum)
            .cast("long")
            .alias("rbo_partial_micro"),
        )
    )


rbo_rank_agreement.__doc__ = (
    rbo_rank_agreement.__doc__.replace("{K}", str(_RBO_K))
    .replace("{P}", str(_RBO_P))
)


# ------------------------------------------------------------------
# Boilerplate prefix mass (shared document heads).
# ------------------------------------------------------------------
_BP_TOKENS = 3
_BP_TOP = 10


@register(
    "boilerplate_prefix_mass",
    f"""
    WITH doc AS (
      SELECT {SQL_WORDS} AS ws FROM documents
    ), p AS (
      SELECT array_to_string(ws[1:{_BP_TOKENS}], ' ') AS prefix
      FROM doc WHERE len(ws) >= {_BP_TOKENS}
    ), c AS (
      SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM p GROUP BY prefix
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c
    )
    SELECT c.prefix, c.n_docs,
           CAST(round(1000.0 * c.n_docs / tot.total) AS BIGINT)
             AS share_milli
    FROM c, tot
    ORDER BY c.n_docs DESC, c.prefix
    LIMIT {_BP_TOP}
    """,
    tags=("llm", "corpus", "boilerplate"),
)
def boilerplate_prefix_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection by document-HEAD mass: the
    top-{K} {N}-token prefixes by document count, with each prefix's
    share of the corpus — the screen that surfaces injected
    templates, scraped navigation headers and licence blurbs, which
    a cleanup pipeline strips BEFORE dedup (C4's practice; whole-doc
    and span dedup won't flag a varying document with a constant
    head). Counts are exact; the share is one row-local division.

    Scale shape: one row-local prefix projection (no explode — only
    the first {N} tokens are materialized), one map-side-combined
    groupBy(prefix), a 1-row total broadcast, and a
    TakeOrderedAndProject — the corpus is scanned once.
    """
    d = t(spark, sf_dir, "documents").select(words("text").alias("ws"))
    p = d.filter(F.size("ws") >= _BP_TOKENS).select(
        F.concat_ws(
            " ", *[F.element_at("ws", i + 1) for i in range(_BP_TOKENS)]
        ).alias("prefix")
    )
    c = p.groupBy("prefix").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = c.agg(F.sum("n_docs").cast("long").alias("total"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "prefix",
            "n_docs",
            F.round(1000.0 * F.col("n_docs") / F.col("total"))
            .cast("long")
            .alias("share_milli"),
        )
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(_BP_TOP)
    )


boilerplate_prefix_mass.__doc__ = (
    boilerplate_prefix_mass.__doc__.replace("{K}", str(_BP_TOP))
    .replace("{N}", str(_BP_TOKENS))
)
