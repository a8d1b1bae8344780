"""Round-5 LLM batch 11: binary-relevance retrieval evaluation and
importance-weight diagnostics.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Mean average precision (Buckley & Voorhees 2000 lineage): the
  binary-relevance companion of the registry's graded `ndcg` row —
  AP rewards putting relevant docs EARLY, the metric IR evaluation
  reports alongside nDCG when relevance is a yes/no judgment.
- Effective sample size of importance weights (Kish 1965): ESS =
  (Σw)²/Σw² — how many "real" documents a weighted sample is worth;
  the diagnostic every importance-resampling pipeline (DSIR,
  temperature mixtures) checks before trusting its weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.operators.textops import SQL_WORDS, words
from filemapreduce_spark.sources.tables import load_table as t


# Same fixed query set as the ndcg row (llm6.py) — the two metrics
# are meant to be read side by side over the same ranking.
_MAP_QUERIES = {
    1: ("spark", "join", "merge"),
    2: ("scan", "filter", "column"),
    3: ("stream", "window", "batch"),
}
_MAP_REL = 2  # binary relevance: doc contains >= 2 distinct terms


def _map_oracle() -> str:
    qrows = " UNION ALL ".join(
        f"SELECT {qid} AS qid, '{term}' AS term"
        for qid, terms in _MAP_QUERIES.items()
        for term in terms
    )
    return f"""
    WITH q AS ({qrows}),
    tok AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS w FROM documents
    ), hits AS (
      SELECT q.qid, tok.doc_id, q.term,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok JOIN q ON q.term = tok.w
      GROUP BY q.qid, tok.doc_id, q.term
    ), scored AS (
      SELECT qid, doc_id,
             CAST(SUM(tf) AS BIGINT) AS tf_sum,
             CASE WHEN COUNT(*) >= {_MAP_REL} THEN 1 ELSE 0 END AS rel
      FROM hits GROUP BY qid, doc_id
    ), ranked AS (
      SELECT qid, rel,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY tf_sum DESC, doc_id) AS pos
      FROM scored
    ), cum AS (
      SELECT qid, rel, pos,
             SUM(rel) OVER (PARTITION BY qid ORDER BY pos) AS cum_rel
      FROM ranked
    ), pk AS (
      SELECT qid,
             CAST(SUM(CASE WHEN rel = 1 THEN
               CAST(round(1000000.0 * cum_rel / pos) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS ap_num,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM cum GROUP BY qid
    )
    SELECT CAST(qid AS BIGINT) AS qid, n_candidates, n_rel,
           CAST(round(CAST(ap_num AS DOUBLE) / n_rel) AS BIGINT)
             AS ap_micro
    FROM pk WHERE n_rel > 0 ORDER BY qid
    """


@register(
    "map_retrieval_audit",
    _map_oracle(),
    tags=("llm", "retrieval", "eval", "search"),
)
def map_retrieval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision per fixed query (the per-query summand of
    MAP): rank candidates by term-frequency score, call a document
    RELEVANT when it contains ≥{R} distinct query terms, and compute
    AP = (1/R_q)·Σ_{{relevant positions k}} P@k — the binary-
    relevance twin of `ndcg_retrieval_audit` over the SAME ranking
    (read together: nDCG grades positions, AP grades early
    precision). Every P@k = cum_rel/pos is quantized to integer
    micro BEFORE the per-query sum (a float Σ over candidates is
    partition-order-dependent), then one exact integer sum divides
    by the relevant count.

    Scale shape: fixed query terms broadcast onto the exploded token
    stream; per-(query, doc) scores map-side-combine; rank and
    cumulative windows partition by query id over the MATCHING
    candidate set only (never the corpus); output is #queries rows.
    """
    d = t(spark, sf_dir, "documents")
    qrows = [
        (qid, term)
        for qid, terms in _MAP_QUERIES.items()
        for term in terms
    ]
    q = spark.createDataFrame(qrows, "qid long, term string")
    tok = d.select("doc_id", F.explode(words("text")).alias("w"))
    hits = (
        tok.join(F.broadcast(q), F.col("term") == F.col("w"))
        .groupBy("qid", "doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    scored = hits.groupBy("qid", "doc_id").agg(
        F.sum("tf").cast("long").alias("tf_sum"),
        F.when(F.count(F.lit(1)) >= _MAP_REL, 1).otherwise(0).alias("rel"),
    )
    wq = Window.partitionBy("qid")
    ranked = scored.select(
        "qid",
        "rel",
        F.row_number()
        .over(wq.orderBy(F.col("tf_sum").desc(), "doc_id"))
        .alias("pos"),
    )
    cum = ranked.select(
        "qid",
        "rel",
        "pos",
        F.sum("rel").over(wq.orderBy("pos")).alias("cum_rel"),
    )
    p_at_k_micro = F.round(
        1000000.0 * F.col("cum_rel") / F.col("pos")
    ).cast("long")
    pk = cum.groupBy("qid").agg(
        F.sum(
            F.when(F.col("rel") == 1, p_at_k_micro).otherwise(0)
        )
        .cast("long")
        .alias("ap_num"),
        F.sum("rel").cast("long").alias("n_rel"),
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
    )
    return (
        pk.filter(F.col("n_rel") > 0)
        .select(
            F.col("qid").cast("long").alias("qid"),
            "n_candidates",
            "n_rel",
            F.round(F.col("ap_num").cast("double") / F.col("n_rel"))
            .cast("long")
            .alias("ap_micro"),
        )
    )


map_retrieval_audit.__doc__ = map_retrieval_audit.__doc__.replace(
    "{R}", str(_MAP_REL)
)


# ------------------------------------------------------------------
# Effective sample size of length-proportional importance weights.
# ------------------------------------------------------------------
@register(
    "ess_importance_weights",
    f"""
    WITH d AS (
      SELECT source,
             CAST(len({SQL_WORDS}) AS BIGINT) AS w
      FROM documents
    ), g AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(w AS HUGEINT)) AS HUGEINT) AS sw,
             CAST(SUM(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sw2
      FROM d GROUP BY source
    )
    SELECT source, n_docs,
           CAST(round(1000.0 * CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                      / CAST(sw2 AS DOUBLE)) AS BIGINT) AS ess_milli,
           CAST(round(1000.0 * CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                      / CAST(sw2 AS DOUBLE) / n_docs) AS BIGINT)
             AS ess_ratio_milli
    FROM g ORDER BY source
    """,
    tags=("llm", "sampling", "diagnostics"),
)
def ess_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size (Kish 1965) of length-proportional
    sampling weights per source: ESS = (Σw)²/Σw² with w = token
    count — if a source's documents were sampled proportional to
    length (the common LM-pretraining choice), how many EQUAL-WEIGHT
    documents is that worth? ESS/n near 1 means lengths are uniform;
    a low ratio warns that a few long documents dominate the
    source's effective mass — the diagnostic importance-resampling
    pipelines (the registry's DSIR and temperature-mixture rows)
    check before trusting their weights. Σw and Σw² accumulate as
    exact DECIMAL integers (the width-guard discipline); the ESS
    algebra is one row-local double chain.

    Scale shape: one row-local token count, one map-side-combined
    groupBy(source) — a single scan, #sources output rows, no joins,
    no windows.
    """
    d = t(spark, sf_dir, "documents").select(
        "source", F.size(words("text")).cast("long").alias("w")
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("w").cast("decimal(38,0)")).alias("sw"),
        F.sum(
            F.col("w").cast("decimal(38,0)") * F.col("w")
        ).alias("sw2"),
    )
    ess = (
        F.col("sw").cast("double")
        * F.col("sw").cast("double")
        / F.col("sw2").cast("double")
    )
    return g.select(
        "source",
        "n_docs",
        F.round(1000.0 * ess).cast("long").alias("ess_milli"),
        F.round(1000.0 * ess / F.col("n_docs"))
        .cast("long")
        .alias("ess_ratio_milli"),
    )
