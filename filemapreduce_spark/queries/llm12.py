"""Round-5 LLM batch 12: per-class classifier metrics and term
burstiness.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Per-class precision/recall/F1: the one-vs-rest readout of the
  lang-ID confusion matrix — `langid_confusion_matrix` shows the
  cells and `cohens_kappa_langid` the chance-corrected scalar; this
  row gives the per-class numbers a model card reports.
- Term burstiness (Church & Gale 1995): variance-to-mean ratio of a
  term's per-document counts — content words are "bursty" (VMR >> 1,
  they pile into few documents) while function words are Poisson-like
  (VMR ~ 1); the statistic behind burstiness-aware term weighting
  and stopword induction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.operators.textops import (
    LANG_MARKERS,
    SQL_LANG_SCORES,
    SQL_WORDS,
    words,
)
from filemapreduce_spark.sources.tables import load_table as t


# ------------------------------------------------------------------
# Per-class precision / recall / F1 of the lang-ID classifier.
# ------------------------------------------------------------------
@register(
    "langid_precision_recall_f1",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {SQL_WORDS} AS ws FROM documents
    ), s AS (
      SELECT doc_id, lang, {SQL_LANG_SCORES} FROM d
    ), p AS (
      SELECT lang AS actual,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS predicted
      FROM s
    ), cm AS (
      SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
      FROM p GROUP BY actual, predicted
    ), classes AS (
      SELECT actual AS k FROM cm UNION SELECT predicted AS k FROM cm
    ), m AS (
      SELECT c.k,
             CAST(COALESCE((SELECT SUM(n) FROM cm
               WHERE actual = c.k AND predicted = c.k), 0) AS BIGINT)
               AS tp,
             CAST(COALESCE((SELECT SUM(n) FROM cm
               WHERE predicted = c.k), 0) AS BIGINT) AS pred_n,
             CAST(COALESCE((SELECT SUM(n) FROM cm
               WHERE actual = c.k), 0) AS BIGINT) AS actual_n
      FROM classes c
    )
    SELECT k AS class, tp,
           CAST(pred_n - tp AS BIGINT) AS fp,
           CAST(actual_n - tp AS BIGINT) AS fn,
           CASE WHEN pred_n > 0
                THEN CAST(round(1000.0 * tp / pred_n) AS BIGINT)
                ELSE 0 END AS precision_milli,
           CASE WHEN actual_n > 0
                THEN CAST(round(1000.0 * tp / actual_n) AS BIGINT)
                ELSE 0 END AS recall_milli,
           CASE WHEN pred_n + actual_n > 0
                THEN CAST(round(2000.0 * tp / (pred_n + actual_n))
                          AS BIGINT)
                ELSE 0 END AS f1_milli
    FROM m ORDER BY class
    """,
    tags=("text", "langid", "eval"),
)
def langid_precision_recall_f1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-vs-rest precision, recall and F1 per class for the
    marker-word language classifier (same predictor as
    `langid_confusion_matrix` / `cohens_kappa_langid`): per class k,
    tp = cm(k,k), precision = tp/predicted_k, recall = tp/actual_k,
    and F1 = 2tp/(predicted_k + actual_k) (the harmonic mean in its
    division-safe form) — the per-class model-card numbers, over the
    UNION of actual and predicted classes so never-predicted labels
    ('zh') surface with recall 0 rather than silently vanishing.
    All inputs are exact integers; each metric is one row-local
    division rounded to milli, with explicit zero-denominator guards.

    Scale shape: one row-local score per doc, one map-side-combined
    groupBy over the ≤36-cell confusion matrix, marginal algebra on
    class-bounded summaries — the corpus is scanned once.
    """
    d = t(spark, sf_dir, "documents").select(
        "lang", words("text").alias("ws")
    )

    def marker_hits(markers: tuple[str, ...]):
        return F.size(F.filter(F.col("ws"), lambda w: w.isin(*markers)))

    scores = {lang: marker_hits(m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = (
        F.when(best == 0, "und")
        .when(scores["de"] == best, "de")
        .when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .otherwise("fr")
    )
    cm = (
        d.select(F.col("lang").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # persisted: FIVE branches read the confusion matrix (the
        # class-union twice, diagonal, both marginals) — without the
        # cache each branch re-runs the corpus scan + scoring (the
        # static audit showed 5 parquet scans); the cache is <=
        # classes² rows (~36), constant at any corpus size
        .persist()
    )
    classes = (
        cm.select(F.col("actual").alias("k"))
        .union(cm.select(F.col("predicted").alias("k")))
        .distinct()
    )
    diag = cm.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("k"), F.col("n").alias("tp")
    )
    pred_n = cm.groupBy(F.col("predicted").alias("k")).agg(
        F.sum("n").cast("long").alias("pred_n")
    )
    act_n = cm.groupBy(F.col("actual").alias("k")).agg(
        F.sum("n").cast("long").alias("actual_n")
    )
    m = (
        classes.join(diag, "k", "left")
        .join(pred_n, "k", "left")
        .join(act_n, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            F.coalesce(F.col("pred_n"), F.lit(0))
            .cast("long")
            .alias("pred_n"),
            F.coalesce(F.col("actual_n"), F.lit(0))
            .cast("long")
            .alias("actual_n"),
        )
    )
    return m.select(
        F.col("k").alias("class"),
        "tp",
        (F.col("pred_n") - F.col("tp")).cast("long").alias("fp"),
        (F.col("actual_n") - F.col("tp")).cast("long").alias("fn"),
        F.when(
            F.col("pred_n") > 0,
            F.round(1000.0 * F.col("tp") / F.col("pred_n")).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("precision_milli"),
        F.when(
            F.col("actual_n") > 0,
            F.round(1000.0 * F.col("tp") / F.col("actual_n")).cast(
                "long"
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("recall_milli"),
        F.when(
            F.col("pred_n") + F.col("actual_n") > 0,
            F.round(
                2000.0
                * F.col("tp")
                / (F.col("pred_n") + F.col("actual_n"))
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("f1_milli"),
    )


# ------------------------------------------------------------------
# Term burstiness (variance-to-mean of per-doc counts).
# ------------------------------------------------------------------
_BURST_TOP = 20


@register(
    "term_burstiness_top20",
    f"""
    WITH doc AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM doc
    ), tok AS (
      SELECT doc_id, unnest(ws) AS w FROM doc
    ), td AS (
      SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY w, doc_id
    ), ts AS (
      SELECT w,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS total_c,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sum_c2
      FROM td GROUP BY w
    )
    SELECT ts.w AS term, ts.total_c, ts.df,
           CAST(round(1000.0
             * (CAST(ts.sum_c2 AS DOUBLE)
                - CAST(ts.total_c AS DOUBLE) * ts.total_c / nn.n_docs)
             / ts.total_c) AS BIGINT) AS vmr_milli
    FROM ts CROSS JOIN nn
    ORDER BY ts.total_c DESC, ts.w
    LIMIT {_BURST_TOP}
    """,
    tags=("llm", "corpus", "weighting"),
    order=("total_c DESC", "term"),
)
def term_burstiness_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995; Katz 1996) for the
    top-{K} terms by corpus count: the variance-to-mean ratio of a
    term's per-document counts over ALL documents (zeros included —
    handled algebraically: Var·N = Σc² − (Σc)²/N, so absent docs
    never materialize). VMR ≈ 1 is Poisson scatter (function words);
    VMR >> 1 marks content words that pile into few documents — the
    signal behind burstiness-aware weighting and stopword induction.
    All sufficient statistics are exact integers (Σc² DECIMAL-wide
    per the width guard); the VMR is one row-local double chain.

    Scale shape: corpus → (term, doc) counts → per-term sufficient
    statistics, both map-side-combined aggs; one 1-row doc-count
    broadcast; TakeOrderedAndProject for the top-k. Single scan.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("ws")
    )
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tok = d.select("doc_id", F.explode("ws").alias("w"))
    td = tok.groupBy("w", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ts = td.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("total_c"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias(
            "sum_c2"
        ),
    )
    vmr = (
        F.col("sum_c2").cast("double")
        - F.col("total_c").cast("double")
        * F.col("total_c")
        / F.col("n_docs")
    ) / F.col("total_c")
    return (
        ts.crossJoin(F.broadcast(nn))
        .select(
            F.col("w").alias("term"),
            "total_c",
            "df",
            F.round(1000.0 * vmr).cast("long").alias("vmr_milli"),
        )
        .orderBy(F.col("total_c").desc(), "term")
        .limit(_BURST_TOP)
    )


term_burstiness_top20.__doc__ = term_burstiness_top20.__doc__.replace(
    "{K}", str(_BURST_TOP)
)
