"""Round-5 LLM batch 9: Kneser-Ney smoothed bigram probabilities.

Reference parity: none of this exists in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension row for SURVEY.md §2 Part B.

Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1999) is the standard
n-gram smoother: absolute discounting of observed bigram counts plus
a CONTINUATION-probability backoff ("how many distinct contexts does
this word complete" rather than raw frequency). It completes the
registry's LM family: `stupid_backoff_trigram_score` (score-only
backoff), `good_turing_smoothed_counts` (count re-estimation),
`bigram_lm_doc_scores` (MLE scoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.operators.textops import SQL_WORDS, words
from filemapreduce_spark.sources.tables import load_table as t


_KN_D = 0.75  # the standard absolute discount
_KN_TOP = 20


@register(
    "kneser_ney_bigram_probs",
    f"""
    WITH doc AS (
      SELECT {SQL_WORDS} AS ws FROM documents
    ), bg AS (
      SELECT ws[i] AS v, ws[i+1] AS w
      FROM doc, unnest(range(1, len(ws))) AS u(i)
    ), c AS (
      SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c_vw
      FROM bg GROUP BY v, w
    ), vstat AS (
      SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v,
             CAST(COUNT(*) AS BIGINT) AS n1p_v
      FROM c GROUP BY v
    ), wstat AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n1p_w
      FROM c GROUP BY w
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM c
    )
    SELECT c.v, c.w, c.c_vw,
           CAST(round(1000000.0 * (
             greatest(c.c_vw - {_KN_D}, 0) / vs.c_v
             + {_KN_D} * vs.n1p_v / vs.c_v
               * ws.n1p_w / tot.n_types)) AS BIGINT) AS p_kn_micro
    FROM c
    JOIN vstat vs ON vs.v = c.v
    JOIN wstat ws ON ws.w = c.w
    CROSS JOIN tot
    ORDER BY c.c_vw DESC, c.v, c.w
    LIMIT {_KN_TOP}
    """,
    tags=("llm", "language-model", "smoothing"),
)
def kneser_ney_bigram_probs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney
    1995; Chen & Goodman 1999 eq. 4.24, discount d={D}):
    P(w|v) = max(c(vw)−d, 0)/c(v) + d·N1+(v·)/c(v) · N1+(·w)/N1+(··)
    — the observed bigram mass after absolute discounting, plus the
    freed mass routed to the CONTINUATION unigram (how many distinct
    contexts w completes, the insight that makes KN the standard
    n-gram smoother). Reported for the top-{K} bigrams by raw count.
    Every input to the formula is an exact integer count; the
    probability is one row-local double chain rounded to micro.

    Scale shape: the corpus collapses to the bigram-TYPE table in one
    map-side-combined agg, and that table is PERSISTED — four
    branches consume it (the scored join plus the v/w/total stats),
    and without the cache each one re-ran the corpus scan + bigram
    explode (the static audit showed 4 parquet scans). The type
    table is sub-linear in the corpus (Heaps-law distinct bigrams)
    and spillable, so caching it is the right 100 TB trade — unlike
    the token-stream intermediates left two-pass by choice. Context
    stats (per v), continuation stats (per w) and the 1-row type
    total are aggregates OF that cache joined back by
    vocabulary-bounded equi-joins; top-k is a TakeOrderedAndProject.
    """
    d = t(spark, sf_dir, "documents").select(words("text").alias("ws"))
    idx = F.when(
        F.size("ws") >= 2, F.sequence(F.lit(1), F.size("ws") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = d.select(
        F.explode(idx).alias("i"), F.col("ws")
    ).select(
        F.element_at("ws", F.col("i")).alias("v"),
        F.element_at("ws", F.col("i") + 1).alias("w"),
    )
    c = (
        bg.groupBy("v", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_vw"))
        .persist()
    )
    vstat = c.groupBy("v").agg(
        F.sum("c_vw").cast("long").alias("c_v"),
        F.count(F.lit(1)).cast("long").alias("n1p_v"),
    )
    wstat = c.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n1p_w")
    )
    tot = c.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    p_kn = (
        F.greatest(F.col("c_vw") - F.lit(_KN_D), F.lit(0.0))
        / F.col("c_v")
        + F.lit(_KN_D)
        * F.col("n1p_v")
        / F.col("c_v")
        * F.col("n1p_w")
        / F.col("n_types")
    )
    return (
        c.join(vstat, "v")
        .join(wstat, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "v",
            "w",
            "c_vw",
            F.round(1000000.0 * p_kn).cast("long").alias("p_kn_micro"),
        )
        .orderBy(F.col("c_vw").desc(), "v", "w")
        .limit(_KN_TOP)
    )


kneser_ney_bigram_probs.__doc__ = (
    kneser_ney_bigram_probs.__doc__.replace("{D}", str(_KN_D))
    .replace("{K}", str(_KN_TOP))
)
