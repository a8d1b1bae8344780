"""Round-5 LLM batch 13: sorted-neighborhood candidate generation
and Simpson diversity.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Sorted-neighborhood method (Hernández & Stolfo 1995): the OTHER
  classic entity-resolution candidate generator — sort by a key and
  compare each record with its w nearest neighbors in sort order.
  It finds pairs that hash blocking (the registry's
  `fuzzy_pairs_levenshtein` length-bucket blocks and Fellegi-Sunter
  blocks) structurally misses: near-duplicates that straddle a
  block boundary but sit adjacent lexicographically.
- Simpson diversity (Simpson 1949): the "probability two random
  tokens are the same type" concentration index — the quadratic
  companion of the registry's Shannon token entropy (entropy weighs
  rare types logarithmically; Simpson is dominated by the head),
  in the unbiased Σc(c−1)/(N(N−1)) form that is exact integer
  arithmetic until one final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.operators.textops import SQL_WORDS, ascii_fold, words
from filemapreduce_spark.sources.tables import load_table as t


# ------------------------------------------------------------------
# Sorted-neighborhood near-duplicate candidates.
# ------------------------------------------------------------------
_SNM_W = 3  # compare each doc with its next w neighbors in sort order
_SNM_HEAD = 96
_SNM_MAXDIST = 24


@register(
    "sorted_neighborhood_pairs",
    f"""
    WITH d AS (
      SELECT doc_id, lang, substr(text, 1, {_SNM_HEAD}) AS head,
             substr(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 1, 2) AS pre
      FROM documents
    ), ranked AS (
      SELECT doc_id, lang, head, pre,
             lead(doc_id, 1) OVER w AS id1,
             lead(head, 1) OVER w AS h1,
             lead(doc_id, 2) OVER w AS id2,
             lead(head, 2) OVER w AS h2,
             lead(doc_id, 3) OVER w AS id3,
             lead(head, 3) OVER w AS h3
      FROM d
      WINDOW w AS (PARTITION BY lang, pre ORDER BY head, doc_id)
    ), pairs AS (
      SELECT doc_id AS doc_a, id1 AS doc_b, lang,
             levenshtein(head, h1) AS edit_dist
      FROM ranked WHERE id1 IS NOT NULL
      UNION ALL
      SELECT doc_id, id2, lang, levenshtein(head, h2)
      FROM ranked WHERE id2 IS NOT NULL
      UNION ALL
      SELECT doc_id, id3, lang, levenshtein(head, h3)
      FROM ranked WHERE id3 IS NOT NULL
    )
    SELECT least(doc_a, doc_b) AS doc_a,
           greatest(doc_a, doc_b) AS doc_b, lang,
           CAST(edit_dist AS BIGINT) AS edit_dist
    FROM pairs WHERE edit_dist <= {_SNM_MAXDIST}
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "fuzzy", "blocking", "llm"),
)
def sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood near-duplicate candidates (Hernández &
    Stolfo 1995): within each (lang, 2-char-prefix) block, documents
    are SORTED by their {H}-char head and each is compared with its
    next {W} neighbors in sort order; pairs with Levenshtein ≤ {D}
    survive. This is the windowed-sort alternative to the registry's
    equi-blocked `fuzzy_pairs_levenshtein`: hash blocks miss
    near-dups that fall in different length buckets, SNM misses ones
    that sort far apart — production ER runs both and unions
    candidates (the multi-pass SNM of the original paper).

    Scale shape: the sort is PARTITIONED by (lang, prefix) — never a
    global order — and the {W} lead() comparisons are a constant
    fan-out inside the window, with Levenshtein on fixed {H}-char
    heads in whole-stage codegen. At 100 TB, widen the prefix to
    bound block size and add the classic boundary-overlap pass
    (pairs straddling a block edge are the documented trade-off).
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, _SNM_HEAD).alias("head"),
        F.substring(ascii_fold("text"), 1, 2).alias("pre"),
    )
    w = Window.partitionBy("lang", "pre").orderBy("head", "doc_id")
    ranked = d.select(
        "doc_id",
        "lang",
        "head",
        *[
            c
            for k in range(1, _SNM_W + 1)
            for c in (
                F.lead("doc_id", k).over(w).alias(f"id{k}"),
                F.lead("head", k).over(w).alias(f"h{k}"),
            )
        ],
    )
    parts = []
    for k in range(1, _SNM_W + 1):
        parts.append(
            ranked.filter(F.col(f"id{k}").isNotNull()).select(
                F.col("doc_id").alias("doc_a"),
                F.col(f"id{k}").alias("doc_b"),
                "lang",
                F.levenshtein("head", f"h{k}").alias("edit_dist"),
            )
        )
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionAll(p)
    return (
        pairs.filter(F.col("edit_dist") <= _SNM_MAXDIST)
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "lang",
            F.col("edit_dist").cast("long").alias("edit_dist"),
        )
    )


sorted_neighborhood_pairs.__doc__ = (
    sorted_neighborhood_pairs.__doc__.replace("{W}", str(_SNM_W))
    .replace("{H}", str(_SNM_HEAD))
    .replace("{D}", str(_SNM_MAXDIST))
)


# ------------------------------------------------------------------
# Simpson diversity per source (unbiased form).
# ------------------------------------------------------------------
@register(
    "simpson_diversity_by_source",
    f"""
    WITH doc AS (
      SELECT source, {SQL_WORDS} AS ws FROM documents
    ), tok AS (
      SELECT source, unnest(ws) AS w FROM doc
    ), tc AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ), g AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT)
               AS sum_cc
      FROM tc GROUP BY source
    )
    SELECT source, n_tokens, vocab,
           CAST(round(1000000.0 * CAST(sum_cc AS DOUBLE)
                      / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)))
                AS BIGINT) AS simpson_micro,
           CAST(round(1000000.0 * (1.0 - CAST(sum_cc AS DOUBLE)
                      / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1))))
                AS BIGINT) AS diversity_micro
    FROM g WHERE n_tokens > 1 ORDER BY source
    """,
    tags=("llm", "corpus", "diversity"),
)
def simpson_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson concentration / diversity per source (Simpson 1949,
    unbiased form): D = Σ c(c−1) / (N(N−1)) — the probability two
    tokens drawn WITHOUT replacement are the same type — and
    1−D, the Gini-Simpson diversity. The quadratic companion of the
    registry's Shannon `token_entropy` row: entropy weighs the rare
    tail logarithmically, Simpson is dominated by head types, and a
    corpus audit reads both (high entropy + high Simpson
    concentration = a fat head over a long diverse tail). Σc(c−1)
    accumulates as exact DECIMAL integers (the width-guard
    discipline); the one division is row-local on the #sources
    summary.

    Scale shape: explode + two map-side-combined aggs (corpus →
    per-source vocab → #sources rows). Single scan, no joins, no
    windows.
    """
    tok = t(spark, sf_dir, "documents").select(
        "source", F.explode(words("text")).alias("w")
    )
    tc = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    g = tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * (F.col("c") - 1)
        ).alias("sum_cc"),
    )
    d_conc = F.col("sum_cc").cast("double") / (
        F.col("n_tokens").cast("double") * (F.col("n_tokens") - 1)
    )
    return (
        g.filter(F.col("n_tokens") > 1)
        .select(
            "source",
            "n_tokens",
            "vocab",
            F.round(1000000.0 * d_conc).cast("long").alias(
                "simpson_micro"
            ),
            F.round(1000000.0 * (1.0 - d_conc))
            .cast("long")
            .alias("diversity_micro"),
        )
    )
