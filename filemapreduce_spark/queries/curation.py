"""LLM data curation: quality scoring and filters, sampling and
mixture weights, splits, sequence packing and chunking, masking plans,
sharding and batching of the training corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import (
    SQL_WORDS,
    STOPWORDS,
    ascii_fold,
    words,
)
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# Temperature-scaled mixture weights (multilingual alpha-sampling).
# --------------------------------------------------------------------
@register(
    "temperature_mixture_weights",
    """
    WITH m AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
             SUM(sqrt(CAST(n_docs AS DOUBLE))) AS z
      FROM m
    )
    SELECT lang, n_docs,
           CAST(round(1e6 * CAST(n_docs AS DOUBLE) / total) AS BIGINT)
             AS p_micro,
           CAST(round(1e6 * sqrt(CAST(n_docs AS DOUBLE)) / z) AS BIGINT)
             AS w_micro,
           CAST(round(1000.0 * (sqrt(CAST(n_docs AS DOUBLE)) / z)
                      / (CAST(n_docs AS DOUBLE) / total)) AS BIGINT)
             AS boost_milli
    FROM m CROSS JOIN tot
    ORDER BY lang
    """,
    tags=("curation", "sampling", "llm"),
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language: w_l ∝
    n_l^α with α = 0.5 — the standard multilingual rebalancing
    (mBERT/XLM-R exponential smoothing; T5's mixing rate) that
    upweights tail languages without flattening the mixture. Reports
    each language's natural share (p), its temperature-scaled weight
    (w), and the boost factor w/p — >1 means the temperature feeds
    that language more than its natural share.

    Scale: one map-side-combined count to #langs rows; the
    normalizer is a 1-row aggregate broadcast back over the tiny
    summary (BNLJ on a 1-row side — a filter, not a join explosion).
    Row count never touches the math after the first agg.
    """
    m = t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").alias("n_docs")
    )
    tot = m.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("z"),
    )
    j = m.crossJoin(F.broadcast(tot))
    nd = F.col("n_docs").cast("double")
    return j.select(
        "lang",
        "n_docs",
        F.round(1e6 * nd / F.col("total")).cast("long").alias("p_micro"),
        F.round(1e6 * F.sqrt(nd) / F.col("z")).cast("long").alias("w_micro"),
        F.round(
            1000.0 * (F.sqrt(nd) / F.col("z")) / (nd / F.col("total"))
        )
        .cast("long")
        .alias("boost_milli"),
    )


# ------------------------------------------------------------------
# MLM masking plan (BERT 15% / 80-10-10).
# ------------------------------------------------------------------
_MLM_SEL = 9830  # floor(0.15 * 65536): select 15% of tokens
_MLM_MASK = 52429  # floor(0.80 * 65536) of selected → [MASK]
_MLM_RAND = 58982  # floor(0.90 * 65536) of selected → random token


@register(
    "mlm_masking_plan",
    f"""
    WITH doc AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), tok AS (
      SELECT doc_id, i, ws[i] AS tok
      FROM doc, unnest(range(1, len(ws) + 1)) AS u(i)
    ), h AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
               || CAST(i AS VARCHAR) || ':' || tok), 1, 4))::INT AS h1,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
               || CAST(i AS VARCHAR) || ':' || tok), 5, 4))::INT AS h2
      FROM tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN h1 < {_MLM_SEL} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN h1 < {_MLM_SEL} AND h2 < {_MLM_MASK}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mask,
           CAST(SUM(CASE WHEN h1 < {_MLM_SEL} AND h2 >= {_MLM_MASK}
                AND h2 < {_MLM_RAND} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_random,
           CAST(SUM(CASE WHEN h1 < {_MLM_SEL} AND h2 >= {_MLM_RAND}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM h GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "masking", "training-prep"),
)
def mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT masked-language-model masking plan (Devlin et al. 2019
    §3.1): select 15% of each document's tokens by content hash
    (first 16 md5 bits of doc_id:position:token), then split the
    selected set 80/10/10 into [MASK] / random-replacement / keep
    by the next 16 md5 bits — a fully deterministic, engine-portable
    masking ledger (re-runs and backfills mask the exact same
    positions). Reports per document the token count and the
    selected/mask/random/keep counts.

    Scale shape: posexplode + row-local md5 + one map-side-combined
    groupBy(doc_id) — tokens never shuffle raw (only the per-doc
    partial counts do). The hash-bucket thresholds are exact integer
    compares on the same 16-bit lanes in both engines.
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(words("text")).alias("pos", "tok")
    )
    key = F.concat_ws(
        ":",
        F.col("doc_id").cast("string"),
        (F.col("pos") + 1).cast("string"),
        F.col("tok"),
    )
    md5 = F.md5(key)
    h1 = F.conv(F.substring(md5, 1, 4), 16, 10).cast("int")
    h2 = F.conv(F.substring(md5, 5, 4), 16, 10).cast("int")
    sel = h1 < _MLM_SEL
    return (
        tok.select(
            "doc_id",
            sel.cast("int").alias("is_sel"),
            (sel & (h2 < _MLM_MASK)).cast("int").alias("is_mask"),
            (sel & (h2 >= _MLM_MASK) & (h2 < _MLM_RAND))
            .cast("int")
            .alias("is_rand"),
            (sel & (h2 >= _MLM_RAND)).cast("int").alias("is_keep"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("is_sel").cast("long").alias("n_selected"),
            F.sum("is_mask").cast("long").alias("n_mask"),
            F.sum("is_rand").cast("long").alias("n_random"),
            F.sum("is_keep").cast("long").alias("n_keep"),
        )
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


# --------------------------------------------------------------------
# Per-language top-p (nucleus) token budgeting.
# --------------------------------------------------------------------
@register(
    "corpus_topp_tokens_by_lang",
    f"""
    WITH d AS (
      SELECT doc_id, lang, CAST(len({SQL_WORDS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang) AS BIGINT) AS total_tokens
      FROM d
    )
    SELECT doc_id, lang, n_tokens, cum_tokens,
           CASE WHEN cum_tokens * 10 <= total_tokens * 8
                THEN 1 ELSE 0 END AS kept
    FROM ranked ORDER BY doc_id
    """,
    tags=("sampling", "selection", "llm"),
)
def corpus_topp_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) corpus selection with a per-language token
    budget: rank documents by token count (unique (count, doc_id)
    order), take the prefix holding ≤ 80% of that language's tokens.
    The 80% test is exact integer arithmetic (cum·10 ≤ total·8).

    Scale: the cumulative window partitions BY LANGUAGE, so no global
    single-partition sort; the per-language total reuses the same
    partitioning (one shuffle serves both windows). For a truly
    skewed partition (one language = 90% of corpus) the scale fix is
    a two-pass threshold: aggregate a per-quality-bucket histogram,
    pick the cutoff bucket on the driver, then filter — same answer,
    no wide window.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(words("text")).cast("long").alias("n_tokens")
    )
    cum_w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("lang")
    ranked = d.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.sum("n_tokens").over(cum_w).alias("cum_tokens"),
        F.sum("n_tokens").over(tot_w).alias("total_tokens"),
    )
    return ranked.select(
        "doc_id",
        "lang",
        "n_tokens",
        "cum_tokens",
        F.when(
            F.col("cum_tokens") * 10 <= F.col("total_tokens") * 8, 1
        )
        .otherwise(0)
        .alias("kept"),
    )


# --------------------------------------------------------------------
# Fixed-size uniform sample per group (deterministic reservoir twin).
# --------------------------------------------------------------------
@register(
    "sample_fixed_k_per_lang",
    """
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('fix:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang, rn FROM r WHERE rn <= 20
    ORDER BY lang, rn
    """,
    tags=("sampling", "llm"),
)
def sample_fixed_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform sample per group, deterministically: rank
    rows within each language by a seeded content hash (md5 hex
    strings compare identically everywhere) and keep the first 20.
    This is the reproducible twin of reservoir sampling — same
    marginal uniformity, but stable across runs, engines, and
    partitionings.

    Scale: one shuffle on the group key; the per-group sort is
    top-k-pruned (WindowGroupLimit pushes rn<=20 below the sort, so
    each partition keeps a 20-row heap, not the full group).
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("fix:"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    return (
        d.select(
            "doc_id", "lang", F.row_number().over(w).cast("long").alias("rn")
        )
        .where(F.col("rn") <= 20)
    )


# --------------------------------------------------------------------
# Weighted Bernoulli sampling: inclusion probability ∝ row weight.
# --------------------------------------------------------------------
@register(
    "weighted_sample_by_length",
    """
    WITH h AS (
      SELECT doc_id, lang, n_chars,
             ('0x' || substring(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 4))::INT
               AS bucket
      FROM documents
    )
    SELECT doc_id, lang, n_chars, bucket
    FROM h
    -- CASE, not OR short-circuit: n_chars*32 overflows int64 at
    -- 2^62-scale counts, and OR-branch evaluation order is
    -- plan-dependent, not contractual (r10 ADVICE) — CASE evaluates
    -- only the taken branch on both engines. A 16-bit bucket is
    -- always < 65536, so the saturated branch is P=1. NULL n_chars
    -- = unknown weight: the comparison is NULL and the row is
    -- DROPPED (weight-0 semantics, declared on both engines).
    WHERE bucket < CASE WHEN n_chars >= 2048 THEN 65536
                        ELSE n_chars * 32 END
    ORDER BY doc_id
    """,
    tags=("sampling", "llm"),
)
def weighted_sample_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling with inclusion probability
    proportional to document length (P = min(1, n_chars·32/65536)):
    a seeded 16-bit hash bucket compared against a per-row threshold.
    Token-weighted corpus sampling is this exact shape (weight =
    token count), and the hash seed makes the draw reproducible and
    engine-independent, unlike rand()-based sampling.

    Scale: entirely row-local (hash + compare — no shuffle, no
    state); survives any repartitioning because the draw depends
    only on the row's key.
    """
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    return (
        d.select("doc_id", "lang", "n_chars", bucket.alias("bucket"))
        .where(
            # CASE, not OR short-circuit, mirroring the oracle:
            # n_chars*32 overflows int64 for 2^62-scale counts and
            # only CASE contracts taken-branch-only evaluation on
            # both engines; NULL n_chars -> NULL compare -> dropped
            # (declared weight-0 semantics)
            F.col("bucket")
            < F.when(F.col("n_chars") >= 2048, F.lit(65536)).otherwise(
                F.col("n_chars") * 32
            )
        )
    )


# --------------------------------------------------------------------
# Decile tiering: ntile over per-language quality order.
# --------------------------------------------------------------------
@register(
    "quality_tiers_ntile",
    """
    SELECT doc_id, lang,
           ntile(10) OVER (
             PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS tier
    FROM documents ORDER BY doc_id
    """,
    tags=("sampling", "window", "llm"),
)
def quality_tiers_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile tier assignment per language (the shape used to mix
    training data by quality tier): ``ntile(10)`` over a unique
    (score desc, doc_id) order — deterministic because the order has
    no ties, and both engines share the ANSI remainder rule (earlier
    buckets get the extra rows).

    Scale: window partitioned by language; for the histogram-sized
    version at 100 TB, replace ntile with precomputed quantile cuts
    (one agg) + a row-local bucket lookup, avoiding the sort.
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return d.select(
        "doc_id", "lang", F.ntile(10).over(w).cast("long").alias("tier")
    )


# --------------------------------------------------------------------
# Weighted sampling WITHOUT replacement (Efraimidis–Spirakis top-k).
# --------------------------------------------------------------------
@register(
    "weighted_sample_without_replacement",
    """
    WITH u AS (
      -- w = 0 (empty doc) draws with probability zero and w = NULL is
      -- off-domain: both are excluded, never a divide-by-zero
      SELECT doc_id, lang, n_chars,
             (('0x' || substring(md5('es:' || CAST(doc_id AS VARCHAR)),
                1, 13))::BIGINT + 1) / 4503599627370496.0 AS unif
      FROM documents
      WHERE n_chars > 0
    ), keyed AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY ln(unif) / n_chars DESC, doc_id) AS rn
      FROM u
    )
    SELECT lang, rn, doc_id, n_chars
    FROM keyed WHERE rn <= 10
    ORDER BY lang, rn
    """,
    tags=("llm", "sampling"),
)
def weighted_sample_without_replacement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–
    Spirakis key (2006): each doc draws a deterministic md5-derived
    uniform u and is ranked by u^(1/w) — taking the top-k per
    language yields an exact weighted sample where longer documents
    (w = n_chars) are proportionally likelier, with no replacement by
    construction (complements `weighted_sample_by_length`'s Bernoulli
    design, which can't bound the sample size). Ranking uses
    ln(u)/w — monotone in the key — on a 52-bit integer-derived
    uniform, so the doubles are bit-identical across engines; output
    columns are all integers/strings.

    Scale shape: row-local key computation, one per-language window
    (never global), top-k pruned by WindowGroupLimit. The same key
    ranks a 100 TB corpus with a per-partition top-k + merge.

    A zero-weight doc (n_chars = 0: the r10 unicode axis's empty-text
    payload) has zero draw probability in the ES scheme and NULL
    weight is off-domain — both are excluded on both engines; without
    the filter ln(u)/0 is an ANSI DIVIDE_BY_ZERO abort."""
    d = t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("es:"), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    unif = (v + 1) / F.lit(4503599627370496.0)
    w = Window.partitionBy("lang").orderBy(
        (F.log(unif) / F.col("n_chars")).desc(), "doc_id"
    )
    return (
        d.select("doc_id", "lang", "n_chars")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 10)
        .select("lang", "rn", "doc_id", "n_chars")
    )


_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "quality_scores",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           round(len(list_distinct(ws)) / greatest(len(ws), 1), 6) AS uniq_ratio,
           round(len(list_filter(ws, w -> w IN ({_SW_LIST}))) / greatest(len(ws), 1), 6) AS stopword_ratio,
           round(0.7 * (len(list_distinct(ws)) / greatest(len(ws), 1))
               + 0.3 * (len(list_filter(ws, w -> w IN ({_SW_LIST}))) / greatest(len(ws), 1)), 6) AS quality
    FROM d ORDER BY doc_id
    """,
    tags=("text", "quality", "llm"),
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: uniqueness + stopword signals."""
    d = t(spark, sf_dir, "documents").select("doc_id", words("text").alias("ws"))
    denom = F.greatest(F.size("ws"), F.lit(1))
    uniq = F.size(F.array_distinct("ws")) / denom
    stop = F.size(F.filter(F.col("ws"), lambda w: w.isin(*STOPWORDS))) / denom
    return d.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        F.round(uniq, 6).alias("uniq_ratio"),
        F.round(stop, 6).alias("stopword_ratio"),
        F.round(0.7 * uniq + 0.3 * stop, 6).alias("quality"),
    )


# --------------------------------------------------------------------
# Text cleaning / redaction (training-data scrubbing).
# --------------------------------------------------------------------
_NUM_PAT = "[0-9][0-9][0-9]+"


@register(
    "text_clean_redact",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{_NUM_PAT}')) AS BIGINT)
             AS n_redacted,
           md5(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{_NUM_PAT}', '<NUM>', 'g'))
             AS clean_md5
    FROM documents ORDER BY doc_id
    """,
    tags=("text", "clean", "redact", "llm"),
)
def text_clean_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrubbing pass: redact long digit runs (the PII-shaped token
    class present in synthetic text) with a placeholder, counting
    replacements — the regexp_replace cleaning pattern every training
    pipeline runs before tokenization. Row-local JVM regex; verified
    against the oracle by hashing the cleaned text.
    """
    d = t(spark, sf_dir, "documents")
    low = ascii_fold("text")
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{_NUM_PAT}', 0)"))
        .cast("long")
        .alias("n_redacted"),
        F.md5(F.regexp_replace(low, _NUM_PAT, "<NUM>")).alias("clean_md5"),
    )


# --------------------------------------------------------------------
# Deterministic dataset splitting (train/val/test).
# --------------------------------------------------------------------
@register(
    "dataset_split_assign",
    """
    WITH h AS (
      SELECT doc_id, source,
             ('0x' || substring(md5(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')), 1, 4))::INT AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 58982 THEN 'train'
                WHEN bucket < 62259 THEN 'val'
                ELSE 'test' END AS split,
           source
    FROM h ORDER BY doc_id
    """,
    tags=("split", "sampling", "llm"),
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment from a content
    hash (first 16 bits of md5 → bucket in [0, 65536); thresholds at
    0.9 and 0.95 of the range). Content-keyed, so exact duplicates
    always land in the same split — no train/test leakage — and the
    assignment is reproducible across runs and engines.

    Scale shape: row-local hash + compare, no shuffle; the split
    column is also the natural partitionBy for the output write.
    """
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(ascii_fold("text")), 1, 4), 16, 10).cast(
        "int"
    )
    split = (
        F.when(bucket < 58982, "train")
        .when(bucket < 62259, "val")
        .otherwise("test")
    )
    return d.select(
        "doc_id", split.alias("split"), "source"
    )


# --------------------------------------------------------------------
# Deterministic stratified sampling (per-group rates).
# --------------------------------------------------------------------
@register(
    "stratified_sample_per_lang",
    """
    WITH h AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4))::INT
               AS bucket
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_doc
    FROM h
    WHERE bucket < CASE WHEN lang = 'en' THEN 13108 ELSE 52429 END
    GROUP BY lang ORDER BY lang
    """,
    tags=("sampling", "llm"),
)
def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language rates (20% for
    the over-represented 'en', 80% otherwise) applied via seeded
    content-hash buckets — reproducible across runs/engines, unlike
    df.sample(), and exactly the rebalancing pass a training-data
    pipeline uses to reweight sources.

    Scale shape: row-local hash + compare (no shuffle for the
    selection); only the per-group accounting aggregates.
    """
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    rate = F.when(F.col("lang") == "en", 13108).otherwise(52429)
    return (
        d.filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# --------------------------------------------------------------------
# Repetition-based quality scoring (Gopher-style rules).
# --------------------------------------------------------------------
@register(
    "repetition_quality_scores",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), w AS (
      SELECT doc_id, unnest(ws) AS word FROM d
    ), wc AS (
      SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
    ), pd AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             COUNT(*) AS n_distinct,
             MAX(c) AS top_cnt
      FROM wc GROUP BY doc_id
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                    i -> ws[i] || ' ' || ws[i+1])) AS g
      FROM d WHERE len(ws) >= 2
    ), bgs AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             COUNT(DISTINCT g) AS n_distinct_bigrams
      FROM bg GROUP BY doc_id
    )
    SELECT pd.doc_id, n_words,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 6)
             AS dup_word_frac,
           round(CAST(top_cnt AS DOUBLE) / n_words, 6) AS top_word_frac,
           round(1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams, 6)
             AS dup_bigram_frac
    FROM pd JOIN bgs ON bgs.doc_id = pd.doc_id
    ORDER BY pd.doc_id
    """,
    tags=("llm", "quality", "repetition"),
)
def repetition_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate
    word fraction, most-frequent-word fraction, duplicate bigram
    fraction — the standard filters for boilerplate/spam in LLM
    corpus curation (high repetition → drop).

    Scale shape (r11): ONE tokenization pass — words and bigrams
    explode together as tagged tokens, reduce to per-doc per-token
    counts (map-side combined), and both signal families fall out of
    one doc-keyed re-aggregation with conditional sums; the old form
    tokenized the corpus once per family and joined the two stat
    branches. Fractions are one double division rounded at the end
    (hash-stable).
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("ws")
    )
    bigram = F.when(
        F.size("ws") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("ws", i), F.element_at("ws", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tagged = F.concat(
        F.transform(
            "ws", lambda w: F.struct(F.lit(0).alias("tag"), w.alias("tok"))
        ),
        F.transform(
            bigram,
            lambda g: F.struct(F.lit(1).alias("tag"), g.alias("tok")),
        ),
    )
    tc = (
        d.select("doc_id", F.explode(tagged).alias("t"))
        .groupBy("doc_id", "t.tag", "t.tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_w = F.col("tag") == 0
    is_b = F.col("tag") == 1
    stats = tc.groupBy("doc_id").agg(
        F.sum(F.when(is_w, F.col("c"))).alias("n_words"),
        F.count(F.when(is_w, 1)).alias("n_distinct"),
        F.max(F.when(is_w, F.col("c"))).alias("top_cnt"),
        F.sum(F.when(is_b, F.col("c"))).alias("n_bigrams"),
        F.count(F.when(is_b, 1)).alias("n_distinct_bigrams"),
    )
    return (
        # a doc below the bigram floor had no row on the bigram side
        # of the former inner join — same membership here
        stats.where(F.col("n_bigrams").isNotNull())
        .select(
            "doc_id",
            "n_words",
            F.round(
                1.0 - F.col("n_distinct").cast("double") / F.col("n_words"), 6
            ).alias("dup_word_frac"),
            F.round(
                F.col("top_cnt").cast("double") / F.col("n_words"), 6
            ).alias("top_word_frac"),
            F.round(
                1.0
                - F.col("n_distinct_bigrams").cast("double")
                / F.col("n_bigrams"),
                6,
            ).alias("dup_bigram_frac"),
        )
    )


# --------------------------------------------------------------------
# Composite quality-filter pipeline (FineWeb/C4-style keep decision).
# --------------------------------------------------------------------
@register(
    "quality_filter_pipeline",
    f"""
    WITH d AS (
      SELECT doc_id, source, {SQL_WORDS} AS ws FROM documents
    ), sig AS (
      -- a textless doc has 0 tokens and a CRISP keep=false (a
      -- filter must decide, not emit NULL; r9 text-null probe)
      SELECT doc_id, source,
             COALESCE(len(ws), 0) AS n_tokens,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uniq_ratio,
             CAST(len(list_filter(ws, w -> w IN
               ('the','a','an','of','and','to','in','is','on','for')))
               AS DOUBLE) / len(ws) AS stop_ratio
      FROM d
    ), dec AS (
      SELECT source, n_tokens,
             COALESCE(n_tokens >= 30 AND uniq_ratio >= 0.40
              AND stop_ratio >= 0.02, FALSE) AS keep
      FROM sig
    )
    SELECT source, keep, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM dec GROUP BY source, keep ORDER BY source, keep
    """,
    tags=("llm", "quality", "pipeline"),
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus-curation filter (C4/FineWeb style): each doc
    is kept only if it passes ALL of — minimum length, minimum unique-
    token ratio, minimum stopword ratio. Emits the per-source
    keep/drop ledger (doc and token counts), i.e. the yield report a
    curation run produces before writing the surviving corpus.

    Scale shape: every signal is a row-local array expression computed
    in one scan pass — no joins, no explode; the only shuffle is the
    final tiny (source, keep) agg. This is the cheapest possible
    shape for a 100 TB filter sweep: one read, map-side signals,
    partial aggregation.
    """
    ws = words("text")
    stop = F.size(
        F.filter(ws, lambda w: w.isin(*STOPWORDS))
    ).cast("double") / F.size(ws)
    uniq = F.size(F.array_distinct(ws)).cast("double") / F.size(ws)
    # a textless doc has 0 tokens and a CRISP keep=false — a filter
    # decides, it never emits NULL (r9 text-null probe)
    keep = F.coalesce(
        (F.size(ws) >= 30) & (uniq >= 0.40) & (stop >= 0.02),
        F.lit(False),
    )
    return (
        t(spark, sf_dir, "documents")
        .select(
            "source",
            F.coalesce(F.size(ws), F.lit(0)).cast("long").alias("n_tokens"),
            keep.alias("keep"),
        )
        .groupBy("source", "keep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------
# Unigram-LM surprisal filtering (perplexity gate).
# --------------------------------------------------------------------
@register(
    "unigram_surprisal_filter",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS w FROM documents
    ),
    counts AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    total AS (SELECT SUM(c) AS n FROM counts),
    scored AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(CAST(round((ln(tt.n) - ln(cn.c)) * 1e6) AS BIGINT))
               AS BIGINT) AS sum_surprisal_micro
      FROM tok t
      JOIN counts cn ON cn.w = t.w
      CROSS JOIN total tt
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, sum_surprisal_micro,
           CAST(sum_surprisal_micro AS DOUBLE) / n_tokens
             AS mean_surprisal_micro,
           CAST(sum_surprisal_micro AS DOUBLE) / n_tokens < 9000000.0
             AS keep
    FROM scored
    ORDER BY doc_id
    """,
    tags=("text", "llm", "quality"),
)
def unigram_surprisal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity gate with a corpus-trained unigram LM:
    per-token surprisal ln(N) - ln(c) is rounded to integer
    micro-nats, per-doc sums are exact BIGINTs, and docs whose mean
    surprisal exceeds 9 nats are dropped (kept = common/typical text).
    The count table is small (vocab) → broadcast join onto the token
    explode; one shuffle on doc_id for the per-doc sum."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words("text")).alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("n"))
    surprisal_micro = F.round(
        (F.log(F.col("n").cast("double")) - F.log(F.col("c").cast("double")))
        * 1e6
    ).cast("long")
    scored = (
        tok.join(F.broadcast(counts), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(surprisal_micro).alias("sum_surprisal_micro"),
        )
    )
    mean = F.col("sum_surprisal_micro").cast("double") / F.col("n_tokens")
    return scored.select(
        "doc_id",
        "n_tokens",
        "sum_surprisal_micro",
        mean.alias("mean_surprisal_micro"),
        (mean < 9_000_000.0).alias("keep"),
    )


# --------------------------------------------------------------------
# DSIR: hashed-ngram importance weights (Xie et al. 2023).
# --------------------------------------------------------------------
@register(
    "dsir_importance_weights",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {SQL_WORDS} AS ws FROM documents
    ), bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i+1])) AS g
      FROM d WHERE len(ws) >= 2
    ), feat AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5(g), 1, 3))::INT AS bucket
      FROM bg
    ), cnt AS (
      SELECT bucket, COUNT(*) AS cr,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
      FROM feat GROUP BY bucket
    ), tot AS (
      SELECT SUM(cr) AS r_n, SUM(ct) AS t_n FROM cnt
    ), lr AS (
      SELECT bucket,
             CAST(round((ln(ct + 1) - ln(t_n + 4096)
                       - ln(cr + 1) + ln(r_n + 4096)) * 1000000)
                  AS BIGINT) AS lr_micro
      FROM cnt CROSS JOIN tot
    )
    SELECT f.doc_id, f.lang,
           COUNT(*) AS n_feats,
           CAST(SUM(lr_micro) AS BIGINT) AS weight_micro,
           CAST(SUM(lr_micro) AS BIGINT) > 0 AS selected
    FROM feat f JOIN lr ON lr.bucket = f.bucket
    GROUP BY f.doc_id, f.lang
    ORDER BY f.doc_id
    """,
    tags=("llm", "sampling", "quality"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169): data selection with
    importance resampling over hashed n-gram features. Word bigrams
    hash into 4096 buckets; a bucket's importance log-ratio compares
    its add-1-smoothed frequency in the TARGET domain (here: the 'en'
    slice) against the RAW corpus; a document's weight is the sum of
    its features' log-ratios, and positive weight selects the doc as
    target-like.

    Exactness: per-BUCKET log-ratios are doubles of integer counts
    (bit-identical across engines) rounded to BIGINT micro-units
    FIRST; per-document weights are then integer sums — no
    order-dependent float accumulation anywhere.

    Scale shape: feature extraction is row-local codegen; the bucket
    table is 4096 rows (broadcast); the only data-sized shuffle is
    the per-doc integer sum. The target distribution comes from one
    aggregation over the target slice — at 100 TB it is precomputed
    once and reused, exactly as the paper's estimator intends.
    North-star extension (reference surface ends at file map/reduce,
    /root/reference/jobs.go:9-20)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", words(F.col("text")).alias("ws")
    )
    bigram = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("ws", i), F.element_at("ws", i + 1)
        ),
    )
    feat = (
        d.filter(F.size("ws") >= 2)
        .select("doc_id", "lang", F.explode(bigram).alias("g"))
        .select(
            "doc_id",
            "lang",
            F.conv(F.substring(F.md5("g"), 1, 3), 16, 10)
            .cast("int")
            .alias("bucket"),
        )
        # consumed twice (bucket stats, per-doc weights): persist so
        # the explode+md5 feature extraction runs once — the same
        # "estimate once, reuse" structure the paper's estimator has
        .persist()
    )
    # ONE aggregation pass builds the whole 4096-row bucket table
    # (raw count + target count per bucket); grand totals come from the
    # tiny table itself — the corpus is scanned exactly twice (bucket
    # stats, then per-doc weights), not four times
    cnt = feat.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    )
    totals = cnt.agg(
        F.sum("cr").alias("r_n"), F.sum("ct").alias("t_n")
    )
    lr = (
        cnt.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                (
                    F.log(F.col("ct") + F.lit(1))
                    - F.log(F.col("t_n") + F.lit(4096))
                    - F.log(F.col("cr") + F.lit(1))
                    + F.log(F.col("r_n") + F.lit(4096))
                )
                * 1000000
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    w = F.sum("lr_micro").cast("long")
    return (
        feat.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            w.alias("weight_micro"),
            (w > 0).alias("selected"),
        )
    )


# --------------------------------------------------------------------
# CCNet-style per-language perplexity terciles (Wenzek et al. 2020).
# --------------------------------------------------------------------
@register(
    "ccnet_perplexity_buckets",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS w FROM documents
    ),
    counts AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    total AS (SELECT SUM(c) AS n FROM counts),
    scored AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(CAST(round((ln(tt.n) - ln(cn.c)) * 1e6) AS BIGINT))
               AS BIGINT) AS sum_micro
      FROM tok t
      JOIN counts cn ON cn.w = t.w
      CROSS JOIN total tt
      GROUP BY t.doc_id
    ),
    tiered AS (
      SELECT s.doc_id, d.lang, s.n_tokens, s.sum_micro,
             NTILE(3) OVER (
               PARTITION BY d.lang
               ORDER BY CAST(s.sum_micro AS DOUBLE) / s.n_tokens, s.doc_id
             ) AS tier
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT lang,
           CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(sum_micro) AS BIGINT) // CAST(SUM(n_tokens) AS BIGINT)
             AS avg_surprisal_micro
    FROM tiered
    GROUP BY lang, tier
    ORDER BY lang, bucket
    """,
    tags=("llm", "quality", "sampling"),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020,
    arXiv:1911.00359): rank each language's documents by LM perplexity
    — here the exact unigram surprisal the corpus itself defines — and
    cut into per-language terciles; downstream pipelines keep 'head'
    (lowest-perplexity) slices or mix tiers deliberately.

    Exactness: per-token surprisals round to BIGINT micro-units before
    any sum; tercile ORDER uses the double mean (identical bits both
    engines) tie-broken by doc_id; the reported per-tier average is
    exact integer division.

    Scale shape: the vocab count table broadcasts to the scoring join;
    the ntile window partitions BY LANGUAGE (never a global sort); at
    100 TB, swap ntile for precomputed per-lang quantile cuts — the
    CCNet paper's own production shape."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", words(F.col("text")).alias("ws")
    )
    # r11: the vocab counts and the per-doc scoring each re-ran the
    # tokenize+explode pass — reduce once to the compact per-doc term
    # grid (map-side combined), persist it, and derive both from the
    # cache; a token's surprisal just weights by its in-doc count
    tok = (
        d.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    counts = tok.groupBy("w").agg(F.sum("tf").alias("c"))
    total = counts.agg(F.sum("c").alias("n"))
    surprisal_micro = (
        F.round((F.log("n") - F.log("c")) * 1000000.0).cast("long")
    )
    scored = (
        tok.join(F.broadcast(counts), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(surprisal_micro * F.col("tf")).cast("long").alias(
                "sum_micro"
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("sum_micro").cast("double") / F.col("n_tokens"), F.col("doc_id")
    )
    tiered = (
        scored.join(
            t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
        )
        .withColumn("tier", F.ntile(3).over(w))
    )
    return (
        tiered.groupBy("lang", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum("sum_micro").cast("long").alias("_sum_micro"),
        )
        # exact integer floor-division (Spark `div`), matching the
        # oracle's BIGINT // — no double-division boundary error
        .withColumn(
            "avg_surprisal_micro", F.expr("_sum_micro div sum_tokens")
        )
        .drop("_sum_micro")
        .select(
            "lang",
            F.when(F.col("tier") == 1, "head")
            .when(F.col("tier") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "sum_tokens",
            "avg_surprisal_micro",
        )
    )


# --------------------------------------------------------------------
# Curriculum interleave: difficulty-ordered, source-round-robin.
# --------------------------------------------------------------------
_CUR_TOP = 100


@register(
    "curriculum_interleave_order",
    f"""
    WITH si AS (
      SELECT source,
             ROW_NUMBER() OVER (ORDER BY source) AS sidx,
             (SELECT COUNT(DISTINCT source) FROM documents) AS n_src
      FROM (SELECT DISTINCT source FROM documents
            WHERE source IS NOT NULL)
    ), rk AS (
      -- the difficulty proxy must be OBSERVED: NULL n_chars ranked
      -- 'easiest' in Spark (NULLS FIRST) and 'hardest' in DuckDB
      -- (r9 mixed-null sweep)
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r
      FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
    )
    SELECT CAST((rk.r - 1) * si.n_src + si.sidx AS BIGINT) AS position,
           rk.doc_id, rk.source, rk.n_chars
    FROM rk JOIN si ON si.source = rk.source
    WHERE (rk.r - 1) * si.n_src + si.sidx <= {_CUR_TOP}
    ORDER BY position
    """,
    tags=("llm", "pipeline", "ordering"),
)
def curriculum_interleave_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum data ordering with source interleave: rank each
    source's documents easiest-first (n_chars as the difficulty
    proxy, doc_id tie-break), then round-robin across sources —
    position = (rank−1)·#sources + source_index — so training sees
    difficulty ramp WITHOUT source clumping (the ordering step of
    curriculum-learning pipelines; Bengio et al. 2009). First
    {TOP} positions returned; position arithmetic is exact integers.

    Scale shape: one window per source partition (volume splits
    across sources) + a #sources-row index table broadcast back;
    no global sort of the corpus — the curriculum position is
    computed arithmetically, and only the top-{TOP} slice (bounded)
    is returned. The full ordered write would partition by
    position ranges with the same arithmetic.
    """
    # a NULL source is no interleave stream: it would shift every
    # real source's round-robin index by one — at OPPOSITE ends in
    # the two engines (NULLS FIRST vs LAST in the sidx ordering) —
    # while the equi-join dropped its own rows anyway (r9 null sweep)
    d = t(spark, sf_dir, "documents").where(F.col("source").isNotNull())
    from pyspark.sql import Window

    srcs = d.select("source").distinct()
    # ranked docs additionally need an observed difficulty proxy; the
    # source index keeps ALL non-null sources (matching the oracle's
    # COUNT(DISTINCT source)), so filter n_chars on the ranked side
    # only
    d = d.where(F.col("n_chars").isNotNull())
    n_src = srcs.agg(F.count(F.lit(1)).cast("long").alias("n_src"))
    si = (
        srcs.withColumn(
            "sidx",
            F.row_number().over(Window.orderBy("source")).cast("long"),
        )
        .crossJoin(F.broadcast(n_src))
    )
    rk = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy("n_chars", "doc_id")
        )
        .cast("long")
        .alias("r"),
    )
    pos = (F.col("r") - 1) * F.col("n_src") + F.col("sidx")
    return (
        rk.join(F.broadcast(si), "source")
        .select(
            pos.alias("position"), "doc_id", "source", "n_chars"
        )
        .where(F.col("position") <= _CUR_TOP)
    )


curriculum_interleave_order.__doc__ = (
    curriculum_interleave_order.__doc__.replace("{TOP}", str(_CUR_TOP))
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


_SQL_TOK = f"len({SQL_WORDS})"


# --------------------------------------------------------------------
# Sequence packing (concat-and-chop, per-source streams).
# --------------------------------------------------------------------
@register(
    "sequence_pack_streams",
    f"""
    WITH d AS (
      SELECT source, doc_id, CAST({_SQL_TOK} AS BIGINT) AS tok
      FROM documents
    ), c AS (
      SELECT source, doc_id, tok,
             COALESCE(SUM(tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           CAST((SUM(tok) - 1) // 256 + 1 AS BIGINT) AS n_seqs,
           CAST(SUM(CASE WHEN cum_before // 256
                      != (cum_before + tok - 1) // 256 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_crossing
    FROM c GROUP BY source ORDER BY source
    """,
    tags=("llm", "packing"),
)
def sequence_pack_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate each source's documents
    in doc_id order and chop the token stream into fixed 256-token
    training sequences; report per-source sequence counts and how many
    documents cross a sequence boundary. The bin assignment is pure
    window arithmetic (cumulative token offset // capacity) — no
    driver loop, no per-bin state.

    Scale shape: one shuffle on the stream key (source; at 100 TB the
    key is (source, shard) so each window partition stays
    executor-sized), then map-side aggregation.
    """
    d = t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(words(F.col("text"))).cast("long").alias("tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn("cum_before", F.coalesce(F.sum("tok").over(w), F.lit(0)))
    start_seq = F.floor(F.col("cum_before") / 256)
    end_seq = F.floor((F.col("cum_before") + F.col("tok") - 1) / 256)
    return (
        c.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            (F.floor((F.sum("tok") - 1) / 256) + 1).alias("n_seqs"),
            F.sum(F.when(start_seq != end_seq, 1).otherwise(0)).alias("n_crossing"),
        )
    )


# --------------------------------------------------------------------
# Chunking with overlap (context windows for embedding / retrieval).
# --------------------------------------------------------------------
@register(
    "chunk_overlap_windows",
    f"""
    WITH d AS (
      SELECT doc_id, CAST({_SQL_TOK} AS BIGINT) AS tok FROM documents
    ), n AS (
      SELECT doc_id, tok,
             1 + CASE WHEN tok > 64 THEN (tok - 64 + 47) // 48 ELSE 0 END
               AS n_chunks
      FROM d
    )
    SELECT doc_id, CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_idx,
           tok, n_chunks
    FROM n
    ORDER BY doc_id, chunk_idx
    """,
    tags=("llm", "chunking"),
)
def chunk_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: each document's token stream becomes
    64-token chunks with 16-token overlap (stride 48) — the standard
    retrieval/embedding preparation step. Chunk enumeration is a
    row-local ``sequence`` + ``explode`` (closed-form chunk count), so
    the operator is embarrassingly parallel: no shuffle until the
    presentation sort.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(words(F.col("text"))).cast("long").alias("tok")
    )
    n_chunks = F.lit(1) + F.when(
        F.col("tok") > 64, F.floor((F.col("tok") - 64 + 47) / 48)
    ).otherwise(0)
    return (
        d.withColumn("n_chunks", n_chunks.cast("long"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)
            ).alias("chunk_idx"),
            "tok",
            "n_chunks",
        )
    )


# --------------------------------------------------------------------
# Mixture resampling with epochs (corpus reweighting).
# --------------------------------------------------------------------
@register(
    "mixture_resample_epochs",
    f"""
    WITH d AS (
      SELECT doc_id, lang, CAST({_SQL_TOK} AS BIGINT) AS tok,
             ('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4))::INT
               AS bucket
      FROM documents
    ), c AS (
      SELECT doc_id, lang, tok,
             CASE lang
               WHEN 'en' THEN CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
               WHEN 'zh' THEN 2 + CASE WHEN bucket < 16384 THEN 1 ELSE 0 END
               ELSE 1
             END AS n_copies
      FROM d
    ), e AS (
      SELECT doc_id, lang, tok, unnest(range(n_copies)) AS epoch
      FROM c WHERE n_copies > 0
    )
    SELECT lang,
           COUNT(DISTINCT doc_id) AS docs_in,
           COUNT(*) AS rows_out,
           CAST(SUM(tok) AS BIGINT) AS tokens_out
    FROM e GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "sampling"),
)
def mixture_resample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting with multi-epoch upsampling: per-language
    target weights (en 0.5× — downsample; zh 2.25× — two full epochs
    plus a 25% hash-gated partial epoch; others 1.0×) applied as
    deterministic content-hash decisions + ``explode(sequence(...))``
    replication. This is the "data mixture" step of a training
    pipeline (FineWeb/Dolma-style source weights), reproducible
    across engines and runs — unlike rand()-based sampling.

    Scale shape: row-local hash + replication (output rows ≈ Σ wᵢ·nᵢ,
    no shuffle); only the per-language accounting aggregates.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(words(F.col("text"))).cast("long").alias("tok"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("int")
    n_copies = (
        F.when(
            F.col("lang") == "en",
            F.when(bucket < 32768, 1).otherwise(0),
        )
        .when(
            F.col("lang") == "zh",
            F.lit(2) + F.when(bucket < 16384, 1).otherwise(0),
        )
        .otherwise(1)
    )
    e = (
        d.withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "lang",
            "tok",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("epoch"),
        )
    )
    return (
        e.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("docs_in"),
            F.count("*").alias("rows_out"),
            F.sum("tok").alias("tokens_out"),
        )
    )


# --------------------------------------------------------------------
# Broadcast-model scoring (quality classifier inference).
# --------------------------------------------------------------------
@register(
    "classifier_score_quality",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_WORDS} AS ws, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    ), f AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(list_filter(ws, w -> len(w) > 5)) AS BIGINT) AS n_long,
             n_chars
      FROM d
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(
             -2.0
             + 0.05 * CAST(n_words AS DOUBLE)
             - 0.1  * CAST(n_long AS DOUBLE)
             + 0.002 * CAST(n_chars AS DOUBLE)
           ))), 6) AS quality_prob,
           -- unscorable docs (NULL feature) are declared keep=FALSE:
           -- a bare >= returns NULL and the two engines render the
           -- NULL boolean differently (r9 null-measures sweep)
           COALESCE((0.05 * CAST(n_words AS DOUBLE)
             - 0.1 * CAST(n_long AS DOUBLE)
             + 0.002 * CAST(n_chars AS DOUBLE)) >= 2.0, FALSE) AS keep
    FROM f ORDER BY doc_id
    """,
    tags=("llm", "scoring"),
)
def classifier_score_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference as a row-local expression: a (fixed-weight)
    logistic quality classifier scored over per-document features —
    the fastText-style keep/drop scorer every curation pipeline runs.
    The weight vector rides the plan as literals (at real scale: a
    broadcast variable feeding a Pandas UDF for wide models); the
    sigmoid stays in whole-stage codegen, so scoring 100 TB is a pure
    map with zero shuffles.

    The double formula is identical on both engines (same operation
    order), so 6-decimal rounding hash-matches.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        words(F.col("text")).alias("ws"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    f = d.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size(F.filter("ws", lambda w: F.length(w) > 5))
        .cast("long")
        .alias("n_long"),
        "n_chars",
    )
    logit = (
        F.lit(-2.0)
        + 0.05 * F.col("n_words").cast("double")
        - 0.1 * F.col("n_long").cast("double")
        + 0.002 * F.col("n_chars").cast("double")
    )
    margin = (
        0.05 * F.col("n_words").cast("double")
        - 0.1 * F.col("n_long").cast("double")
        + 0.002 * F.col("n_chars").cast("double")
    )
    return f.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias(
            "quality_prob"
        ),
        F.coalesce(margin >= 2.0, F.lit(False)).alias("keep"),
    )


# --------------------------------------------------------------------
# Packed-sequence boundary offsets (cu_seqlens for varlen attention).
# --------------------------------------------------------------------
@register(
    "sequence_pack_cu_seqlens",
    f"""
    WITH d AS (
      SELECT source, doc_id, CAST({_SQL_TOK} AS BIGINT) AS tok
      FROM documents
    ), c AS (
      SELECT source, doc_id, tok,
             COALESCE(SUM(tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM d
    ), spans AS (
      SELECT source, doc_id, tok, cum_before,
             unnest(range(CAST(cum_before // 256 AS BIGINT),
                          CAST((cum_before + tok - 1) // 256 + 1 AS BIGINT)))
               AS seq_idx
      FROM c WHERE tok > 0
    )
    SELECT source, CAST(seq_idx AS BIGINT) AS seq_idx,
           COUNT(*) AS n_docs,
           array_to_string(list_sort(list(
             CAST(GREATEST(cum_before - seq_idx * 256, 0) AS BIGINT))), ',')
             AS cu_seqlens
    FROM spans
    GROUP BY source, seq_idx
    ORDER BY source, seq_idx
    """,
    tags=("llm", "packing"),
)
def sequence_pack_cu_seqlens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-boundary offsets inside each packed 256-token training
    sequence — the cu_seqlens input varlen (flash-)attention needs so
    packed documents don't attend across boundaries. Each doc explodes
    to the (≤2 here, always bounded by ceil(doc_len/capacity)+1)
    sequences it overlaps; offsets are exact window arithmetic. One
    shuffle on the stream key, one on (source, seq_idx)."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn(
        "cum_before", F.coalesce(F.sum("tok").over(w), F.lit(0))
    ).filter(F.col("tok") > 0)
    spans = c.select(
        "source",
        "doc_id",
        "tok",
        "cum_before",
        F.explode(
            F.sequence(
                F.floor(F.col("cum_before") / 256),
                F.floor((F.col("cum_before") + F.col("tok") - 1) / 256),
            )
        ).alias("seq_idx"),
    )
    return (
        spans.groupBy("source", "seq_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.greatest(
                            F.col("cum_before") - F.col("seq_idx") * 256,
                            F.lit(0),
                        )
                    )
                ).cast("array<string>"),
                ",",
            ).alias("cu_seqlens"),
        )
    )


# --------------------------------------------------------------------
# Per-source cap (anti-domination) with removed-mass accounting.
# --------------------------------------------------------------------
_CAP_K = 10


@register(
    "domain_cap_curation",
    f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN rn <= {_CAP_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(CAST(SUM(CASE WHEN rn <= {_CAP_K} THEN n_chars ELSE 0 END)
                AS VARCHAR) AS DOUBLE) AS kept_chars,
           CAST(CAST(SUM(CASE WHEN rn > {_CAP_K} THEN n_chars ELSE 0 END)
                AS VARCHAR) AS DOUBLE) AS dropped_chars
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    tags=("curation", "sampling", "llm"),
)
def domain_cap_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep at most K documents per source
    (best-first by length, ties by doc_id) and account exactly for
    what the cap removes — the anti-domination rule web-scale
    curation applies so no single domain overwhelms the mixture
    (FineWeb/C4 cap the per-domain contribution the same way).

    Scale: one shuffle on source; the row_number window is
    per-source (WindowGroupLimit prunes rows past K+ties below the
    exchange once the filter is on rank); the accounting agg reuses
    the same partitioning — two exchanges total, none global. At
    100 TB source cardinality (domains) is huge, so partitions stay
    small; a skewed megadomain is exactly what the cap bounds.
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = d.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") <= _CAP_K
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(
                F.when(kept, F.col("n_chars")).otherwise(0).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("kept_chars"),
            F.sum(
                F.when(~kept, F.col("n_chars")).otherwise(0).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("dropped_chars"),
        )
    )


# --------------------------------------------------------------------
# Size-balanced shard striping.
# --------------------------------------------------------------------
_N_SHARDS = 8


@register(
    "shard_stripe_balance",
    f"""
    WITH ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ), sharded AS (
      SELECT (rn - 1) % {_N_SHARDS} AS shard, n_chars FROM ranked
    ), mass AS (
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS HUGEINT) AS total_chars
      FROM sharded GROUP BY shard
    )
    SELECT shard, n_docs, CAST(CAST(total_chars AS VARCHAR) AS DOUBLE) AS total_chars,
           CAST(round(1000.0 * ({_N_SHARDS} * total_chars
                 - SUM(total_chars) OVER ())
                 / SUM(total_chars) OVER ()) AS BIGINT)
             AS imbalance_milli
    FROM mass
    ORDER BY shard
    """,
    tags=("curation", "sharding", "llm"),
)
def shard_stripe_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard assignment by rank striping: within each
    language, rank documents by size (desc) and deal them round-robin
    across 8 shards — the classic striping trick that bounds shard
    imbalance by one max-document per stripe round, so data-loader
    workers reading different shards finish together. Output is the
    per-shard doc count, byte mass, and deviation from the ideal
    equal share in milli.

    Scale: ranking windows are per-language; the final imbalance
    window runs over exactly 8 rows (the shard summary), never the
    data. At 100 TB replace the per-lang rank with the registry's
    banded-rank pattern (`orderkey_gap_audit`) if a single language
    dominates; the striping arithmetic is unchanged.
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    sharded = d.select(
        ((F.row_number().over(w) - 1) % _N_SHARDS)
        .cast("long")
        .alias("shard"),
        "n_chars",
    )
    mass = sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        # DECIMAL(38,0): char totals exceed int64 at scale (r10)
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("total_chars"),
    )
    grand = Window.partitionBy()
    return mass.select(
        "shard",
        "n_docs",
        F.col("total_chars").cast("double").alias("total_chars"),
        F.round(
            1000.0
            * (
                _N_SHARDS * F.col("total_chars")
                - F.sum("total_chars").over(grand)
            )
            / F.sum("total_chars").over(grand)
        )
        .cast("long")
        .alias("imbalance_milli"),
    )


# --------------------------------------------------------------------
# Length-bucketed batching with padding-waste accounting.
# --------------------------------------------------------------------
_BUCKET_CHARS = 128
_BATCH_SIZE = 8


@register(
    "length_bucket_batching",
    f"""
    WITH bucketed AS (
      SELECT doc_id, n_chars, n_chars // {_BUCKET_CHARS} AS bucket,
             ROW_NUMBER() OVER (PARTITION BY n_chars // {_BUCKET_CHARS}
                                ORDER BY n_chars, doc_id) AS rn
      FROM documents
    ), batched AS (
      SELECT bucket, n_chars, (rn - 1) // {_BATCH_SIZE} AS batch_id,
             MAX(n_chars) OVER (PARTITION BY bucket,
                                (rn - 1) // {_BATCH_SIZE}) AS batch_max
      FROM bucketed
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_batches,
           CAST(CAST(SUM(n_chars) AS VARCHAR) AS DOUBLE) AS payload_chars,
           CAST(CAST(SUM(batch_max - n_chars) AS VARCHAR) AS DOUBLE) AS padding_chars
    FROM batched
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("curation", "batching", "llm"),
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching: assign documents to fixed-width
    length buckets (row-local key — no global sort), order within a
    bucket by length, cut batches of 8, and charge each document the
    padding it would cost to pad to its batch max — the exact
    padding-waste accounting that justifies bucketed batching in any
    trainer (padding is FLOPs spent on mask tokens).

    Scale: the bucket key is computed per row; ranking and batch-max
    windows are partitioned by bucket (and bucket+batch), so the
    only exchange is on the bucket key. Bucket width trades waste
    against shuffle balance exactly like any histogram bin.
    """
    d = t(spark, sf_dir, "documents")
    bucket = (F.col("n_chars") / _BUCKET_CHARS).cast("long")
    wb = Window.partitionBy("bucket").orderBy("n_chars", "doc_id")
    bucketed = d.select(
        "doc_id", "n_chars", bucket.alias("bucket")
    ).withColumn("rn", F.row_number().over(wb))
    batched = bucketed.withColumn(
        "batch_id", ((F.col("rn") - 1) / _BATCH_SIZE).cast("long")
    ).withColumn(
        "batch_max",
        F.max("n_chars").over(Window.partitionBy("bucket", "batch_id")),
    )
    return (
        batched.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("batch_id").cast("long").alias("n_batches"),
            F.sum(F.col("n_chars").cast("decimal(38,0)"))
            .cast("double")
            .alias("payload_chars"),
            F.sum(
                (F.col("batch_max") - F.col("n_chars")).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("padding_chars"),
        )
    )
