"""Round-5 LLM batch 8: corpus richness estimation, count smoothing,
keyness contrast, and T5-style span-corruption planning.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Chao1 vocabulary richness (Chao 1984): the classic nonparametric
  "how many word types does this source REALLY have" estimator from
  singleton/doubleton counts — the coverage question a corpus audit
  asks before claiming a source is linguistically diverse.
- Good-Turing smoothed counts (Good 1953): the frequency-of-
  frequencies re-estimation r* = (r+1)·N_{r+1}/N_r behind Katz
  backoff and absolute discounting — the language-modeling twin of
  the registry's stupid-backoff row.
- Log-likelihood keyness (Dunning 1993): the G² likelihood-ratio
  test for "which terms are over-represented in group A vs the
  rest" — the corpus-linguistics standard that, unlike the
  Dirichlet log-odds `fightin_words_terms` row, needs no prior and
  contrasts a LANGUAGE slice against the whole corpus.
- T5 span-corruption plan (Raffel et al. 2020 §3.1.4): the 15%
  span-masking schedule (mean span ~3) that seq2seq denoisers
  train on, derived from a content hash so the plan is reproducible
  across runs and engines — the span-level sibling of the BERT
  `mlm_masking_plan` row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.operators.textops import SQL_WORDS, words
from filemapreduce_spark.sources.tables import load_table as t


# Non-distinct word trigrams (every OCCURRENCE, unlike the dedup
# family's per-doc-distinct shingles): the type unit for the richness
# and smoothing estimators below — the whitespace unigram vocabulary
# of the synthetic corpus is ~31 types with no singleton tail, which
# would make f1/f2/N_r-based estimators vacuous at every SF.
# range(1, greatest(len-1, 1)) is empty for <3-token docs (the
# short-doc sequence() guard discipline).
_SQL_TRIGRAMS = (
    "list_transform(range(1, greatest(len(ws) - 1, 1)), "
    "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])"
)


def _trigrams(ws):
    """Every word-trigram occurrence (non-distinct), space-joined."""
    idx = F.when(
        F.size(ws) >= 3, F.sequence(F.lit(1), F.size(ws) - 2)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(ws, i),
            F.element_at(ws, i + 1),
            F.element_at(ws, i + 2),
        ),
    )


# ------------------------------------------------------------------
# Chao1 vocabulary richness per source.
# ------------------------------------------------------------------
@register(
    "chao1_vocab_richness",
    f"""
    WITH doc AS (
      SELECT source, {SQL_WORDS} AS ws FROM documents
    ), tok AS (
      SELECT source, unnest({_SQL_TRIGRAMS}) AS w FROM doc
    ), tc AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS f1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS f2,
           CAST(round(1000.0 * (COUNT(*)
             + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
               * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
               / (2.0 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))))
             AS BIGINT) AS chao1_milli
    FROM tc GROUP BY source ORDER BY source
    """,
    tags=("llm", "corpus", "richness"),
)
def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of each source's trigram
    vocabulary (Chao 1984, bias-corrected form): observed types V
    plus the unseen-mass correction f1·(f1−1)/(2·(f2+1)) from the
    singleton (f1) and doubleton (f2) type counts — the standard
    lower bound on how many types a source would show with unbounded
    sampling. The type unit is the word TRIGRAM occurrence (the
    corpus's unigram vocabulary has no singleton tail, which would
    leave the estimator vacuously equal to V). Counts are exact
    integers; the correction is one row-local double of those
    integers, rounded to milli.

    Scale shape: explode + map-side-combined groupBy(source, type)
    collapses the corpus to per-source vocabulary size; the second
    agg collapses that to #sources rows. Two key-bounded shuffles,
    no joins, no windows.
    """
    tok = t(spark, sf_dir, "documents").select(
        "source", F.explode(_trigrams(words("text"))).alias("w")
    )
    tc = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
    v = F.count(F.lit(1)).cast("long")
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            v.alias("vocab"),
            f1.alias("f1"),
            f2.alias("f2"),
            F.round(
                1000.0
                * (
                    v.cast("double")
                    + f1.cast("double")
                    * (f1 - 1).cast("double")
                    / (2.0 * (f2 + 1).cast("double"))
                )
            )
            .cast("long")
            .alias("chao1_milli"),
        )
    )


# ------------------------------------------------------------------
# Good-Turing smoothed counts (global frequency-of-frequencies).
# ------------------------------------------------------------------
_GT_MAX_R = 10  # smooth the low-count region only (the GT regime)


@register(
    "good_turing_smoothed_counts",
    f"""
    WITH doc AS (
      SELECT {SQL_WORDS} AS ws FROM documents
    ), tok AS (
      SELECT unnest({_SQL_TRIGRAMS}) AS w FROM doc
    ), tc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
    ), fof AS (
      SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
      FROM tc GROUP BY c
    )
    SELECT lo.r, lo.n_r,
           CAST(COALESCE(hi.n_r, 0) AS BIGINT) AS n_next,
           CAST(round(1000000.0 * (lo.r + 1) * COALESCE(hi.n_r, 0)
                      / lo.n_r) AS BIGINT) AS r_star_micro
    FROM fof lo LEFT JOIN fof hi ON hi.r = lo.r + 1
    WHERE lo.r <= {_GT_MAX_R}
    ORDER BY lo.r
    """,
    tags=("llm", "corpus", "smoothing"),
)
def good_turing_smoothed_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Good-Turing count re-estimation (Good 1953) over the corpus
    frequency-of-frequencies: for each raw count r ≤ {R}, the
    smoothed count r* = (r+1)·N_{{r+1}}/N_r that Katz backoff and
    held-out LM estimation use in the sparse low-count regime (when
    N_{{r+1}} = 0 the estimate is reported as 0 — the point where
    practical smoothers switch to the unsmoothed tail). The count
    unit is the word TRIGRAM occurrence (see `chao1_vocab_richness`
    — the unigram vocabulary has no low-count regime at any SF).
    All counts are exact integers; r* is one row-local division
    rounded to micro.

    Scale shape: two map-side-combined aggs (corpus → vocabulary →
    frequency-of-frequencies, whose size is bounded by the number of
    DISTINCT count values, not data) and one self-join of the ≤{R}-row
    low-count slice against that summary — Catalyst broadcasts the
    bounded side from stats, no hint needed.
    """
    tok = t(spark, sf_dir, "documents").select(
        F.explode(_trigrams(words("text"))).alias("w")
    )
    tc = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    fof = tc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    lo = fof.filter(F.col("r") <= _GT_MAX_R).alias("lo")
    hi = fof.select(
        F.col("r").alias("hr"), F.col("n_r").alias("hn")
    ).alias("hi")
    return (
        lo.join(hi, F.col("hr") == F.col("lo.r") + 1, "left")
        .select(
            F.col("lo.r").alias("r"),
            F.col("lo.n_r").alias("n_r"),
            F.coalesce(F.col("hn"), F.lit(0)).cast("long").alias("n_next"),
            F.round(
                1000000.0
                * (F.col("lo.r") + 1).cast("double")
                * F.coalesce(F.col("hn"), F.lit(0)).cast("double")
                / F.col("lo.n_r").cast("double")
            )
            .cast("long")
            .alias("r_star_micro"),
        )
    )


good_turing_smoothed_counts.__doc__ = (
    good_turing_smoothed_counts.__doc__.replace("{R}", str(_GT_MAX_R))
)


# ------------------------------------------------------------------
# Log-likelihood (G²) keyness: one language slice vs the rest.
# ------------------------------------------------------------------
_KEY_LANG = "en"  # focus slice: English docs vs everything else
_KEY_MIN = 5  # drop terms rarer than this (G² noise floor)
_KEY_TOP = 25


@register(
    "keyness_loglik_terms",
    f"""
    WITH tok AS (
      SELECT lang, unnest({SQL_WORDS}) AS w FROM documents
    ), c AS (
      SELECT w,
             CAST(SUM(CASE WHEN lang = '{_KEY_LANG}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN lang <> '{_KEY_LANG}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM tok GROUP BY w
    ), tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS ta,
             CAST(SUM(b) AS BIGINT) AS tb
      FROM c
    ), scored AS (
      SELECT c.w, c.a, c.b,
             2.0 * (CASE WHEN c.a > 0 THEN c.a * ln(
                      c.a / ((c.a + c.b) * CAST(tot.ta AS DOUBLE)
                             / (tot.ta + tot.tb))) ELSE 0.0 END
                  + CASE WHEN c.b > 0 THEN c.b * ln(
                      c.b / ((c.a + c.b) * CAST(tot.tb AS DOUBLE)
                             / (tot.ta + tot.tb))) ELSE 0.0 END)
               * CASE WHEN CAST(c.a AS HUGEINT) * tot.tb
                        >= CAST(c.b AS HUGEINT) * tot.ta
                      THEN 1.0 ELSE -1.0 END AS g2
      FROM c, tot WHERE c.a + c.b >= {_KEY_MIN}
    )
    SELECT w, a, b,
           CAST(round(1000000.0 * g2) AS BIGINT) AS g2_micro
    FROM scored ORDER BY g2 DESC, w LIMIT {_KEY_TOP}
    """,
    tags=("llm", "text", "contrastive"),
    order=("g2_micro DESC", "w"),
    sort="body",
)
def keyness_loglik_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-likelihood keyness (Dunning 1993): for each term, the G²
    likelihood-ratio statistic comparing its rate in the
    '{LANG}'-language slice (count a, total A) against the rest of
    the corpus (b, B), G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)) with
    expectations E from the pooled rate — signed by the EXACT
    integer cross-product comparison a·B ≷ b·A (wide-cast so the
    products cannot wrap at corpus scale), so positive rows are
    '{LANG}' keywords. The top-{K} terms with ≥{M} occurrences.
    Counts are exact integers; G² is a row-local double of those
    integers, identical op-for-op on both engines.

    Scale shape: explode + map-side-combined groupBy(term) collapses
    the corpus to vocabulary size; the 1-row total is broadcast;
    the top-k is a TakeOrdered, never a global vocab sort.
    """
    tok = t(spark, sf_dir, "documents").select(
        "lang", F.explode(words("text")).alias("w")
    )
    c = tok.groupBy("w").agg(
        F.sum(F.when(F.col("lang") == _KEY_LANG, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("lang") != _KEY_LANG, 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    tot = c.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
    )
    j = c.filter(F.col("a") + F.col("b") >= _KEY_MIN).crossJoin(
        F.broadcast(tot)
    )
    n = (F.col("a") + F.col("b")).cast("double")
    tt = (F.col("ta") + F.col("tb")).cast("double")
    ea = n * F.col("ta").cast("double") / tt
    eb = n * F.col("tb").cast("double") / tt
    g2_mag = 2.0 * (
        F.when(
            F.col("a") > 0,
            F.col("a") * F.log(F.col("a").cast("double") / ea),
        ).otherwise(0.0)
        + F.when(
            F.col("b") > 0,
            F.col("b") * F.log(F.col("b").cast("double") / eb),
        ).otherwise(0.0)
    )
    # exact integer sign: a/A >= b/B  <=>  a*B >= b*A (DECIMAL-wide
    # so the cross products cannot wrap at 100-TB token counts)
    sign = F.when(
        F.col("a").cast("decimal(38,0)") * F.col("tb")
        >= F.col("b").cast("decimal(38,0)") * F.col("ta"),
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    g2 = (g2_mag * sign).alias("g2")
    return (
        j.select("w", "a", "b", g2)
        .orderBy(F.col("g2").desc(), "w")
        .limit(_KEY_TOP)
        .select(
            "w",
            "a",
            "b",
            F.round(1000000.0 * F.col("g2")).cast("long").alias("g2_micro"),
        )
    )


keyness_loglik_terms.__doc__ = (
    keyness_loglik_terms.__doc__.replace("{LANG}", _KEY_LANG)
    .replace("{K}", str(_KEY_TOP))
    .replace("{M}", str(_KEY_MIN))
)


# ------------------------------------------------------------------
# T5 span-corruption plan (deterministic block schedule).
# ------------------------------------------------------------------
_T5_BLOCK = 20  # one span per 20-token block → ~15% corruption
_T5_OFF_MOD = 16  # start offset 0..15 (max span 4 fits the block)


@register(
    "t5_span_corruption_plan",
    f"""
    WITH doc AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), tok AS (
      SELECT doc_id, i, (i - 1) // {_T5_BLOCK} AS blk
      FROM doc, unnest(range(1, len(ws) + 1)) AS u(i)
    ), h AS (
      SELECT doc_id, i, blk,
             blk * {_T5_BLOCK} + 1 + ('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || ':'
                   || CAST(blk AS VARCHAR)), 1, 4))::INT
               % {_T5_OFF_MOD} AS start_pos,
             2 + ('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || ':'
                   || CAST(blk AS VARCHAR)), 5, 4))::INT % 3 AS sp_len
      FROM tok
    ), m AS (
      SELECT doc_id, blk,
             CASE WHEN i >= start_pos AND i < start_pos + sp_len
                  THEN 1 ELSE 0 END AS masked
      FROM h
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT CASE WHEN masked = 1 THEN blk END)
                AS BIGINT) AS n_spans,
           CAST(SUM(masked) AS BIGINT) AS n_masked,
           CAST(round(1000.0 * SUM(masked) / COUNT(*)) AS BIGINT)
             AS pct_masked_milli
    FROM m GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "masking", "training-prep"),
)
def t5_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption plan (Raffel et al. 2020 §3.1.4):
    within every {B}-token block of a document, one contiguous span
    of 2-4 tokens (mean 3 → ~15% corruption rate) is scheduled for
    masking; the span's start offset and length come from the first
    32 md5 bits of doc_id:block, so the plan is fully deterministic
    and engine-portable (same discipline as the BERT
    `mlm_masking_plan` row; spans never cross a block boundary by
    construction, so no overlap-merge pass is needed). Output is the
    per-document corruption ledger: token count, scheduled spans
    (one sentinel each), masked-token count, and the realized
    corruption rate in milli.

    Scale shape: posexplode + row-local md5 lanes in whole-stage
    codegen, then ONE map-side-combined groupBy(doc_id) — the only
    shuffle carries per-doc partials, never tokens. The span
    schedule depends only on (doc_id, block), never on partitioning.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("ws")
    )
    tok = d.select(
        "doc_id", F.posexplode("ws").alias("i0", "w")
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("i0") / _T5_BLOCK).cast("long").alias("blk"),
    )
    key = F.concat_ws(
        ":", F.col("doc_id").cast("string"), F.col("blk").cast("string")
    )
    md5 = F.md5(key)
    h1 = F.conv(F.substring(md5, 1, 4), 16, 10).cast("int")
    h2 = F.conv(F.substring(md5, 5, 4), 16, 10).cast("int")
    start_pos = F.col("blk") * _T5_BLOCK + 1 + (h1 % _T5_OFF_MOD)
    sp_len = F.lit(2) + (h2 % 3)
    masked = F.when(
        (F.col("i") >= start_pos) & (F.col("i") < start_pos + sp_len), 1
    ).otherwise(0)
    m = tok.select("doc_id", "blk", masked.alias("masked"))
    return (
        m.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct(
                F.when(F.col("masked") == 1, F.col("blk"))
            )
            .cast("long")
            .alias("n_spans"),
            F.sum("masked").cast("long").alias("n_masked"),
            F.round(
                1000.0 * F.sum("masked") / F.count(F.lit(1))
            )
            .cast("long")
            .alias("pct_masked_milli"),
        )
    )


t5_span_corruption_plan.__doc__ = t5_span_corruption_plan.__doc__.replace(
    "{B}", str(_T5_BLOCK)
)
