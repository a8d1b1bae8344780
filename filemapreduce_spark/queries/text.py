"""Text analysis: token and vocabulary statistics, language ID and
its evaluations, n-gram language models and smoothing, collocations
(PMI, mutual information), divergences between sources (KL, JSD),
contrastive keyness, readability and corpus diversity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import (
    SQL_LANG_SCORES,
    SQL_WORDS,
    TOKEN_REGEX,
    ascii_fold,
    lang_id,
    token_count_regex,
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

    pred_a, _ = lang_id(F.col("ws"))
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


# --------------------------------------------------------------------
# Token-distribution entropy per source (text analysis).
# --------------------------------------------------------------------
@register(
    "entropy_tokens_by_source",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS w
      FROM documents
    ),
    counts AS (
      SELECT source, w, COUNT(*) AS c
      FROM tok WHERE w <> '' GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS vocab,
           round(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy_nats
    FROM counts
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "stats"),
)
def entropy_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's unigram distribution via
    H = ln(N) - Σ c·ln(c) / N — one explode + two grouped aggs, both
    with map-side partials. Rounded to 6 dp for cross-engine float
    parity (the Σ c·ln c term is a float sum)."""
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(
            "source",
            F.explode(F.split(ascii_fold("text"), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return (
        counts.groupBy("source")
        .agg(
            n.alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.round(
                F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 6
            ).alias("entropy_nats"),
        )
    )


# --------------------------------------------------------------------
# Bigram language-model scoring (corpus model → per-doc avg logprob).
# --------------------------------------------------------------------
@register(
    "bigram_lm_doc_scores",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, t.i AS i, ws[t.i+1] AS w, ws[t.i+2] AS nxt
      FROM (SELECT doc_id, lang, {SQL_WORDS} AS ws FROM documents),
           unnest(range(len(ws))) AS t(i)
    ),
    uni AS (
      SELECT lang, w, COUNT(*) AS cw
      FROM toks GROUP BY lang, w
    ),
    bi AS (
      SELECT lang, w, nxt, COUNT(*) AS cwn
      FROM toks WHERE nxt IS NOT NULL GROUP BY lang, w, nxt
    ),
    scored AS (
      SELECT tk.doc_id,
             ln((bi.cwn + 1.0) / (uni.cw + 50000.0)) AS lp
      FROM toks tk
      JOIN uni ON uni.lang = tk.lang AND uni.w = tk.w
      JOIN bi  ON bi.lang = tk.lang AND bi.w = tk.w AND bi.nxt = tk.nxt
      WHERE tk.nxt IS NOT NULL
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           round(SUM(lp) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("quality", "lm", "llm"),
)
def bigram_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency score under a corpus-trained bigram LM:
    count unigrams and bigrams per language across the corpus, then
    score each document's bigrams with add-one-smoothed conditional
    log-probabilities ln((c(w,next)+1)/(c(w)+V)) and average.

    Two-pass shape (train then score) — exactly how n-gram quality
    filters (e.g. CCNet's LM perplexity filter) run at scale: the
    model tables are aggregates (map-side partials), and scoring joins
    the token stream against them on (lang, w[, next]) hash keys.
    Count tables stay exact BIGINT; the per-token log is computed in
    one fixed op order and the per-doc mean is rounded to 6 decimals
    for cross-engine hash parity (sum order over equal doubles can
    differ, so the tolerance absorbs last-ulp wiggle).
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", words("text").alias("ws")
    )
    toks = d.select(
        "doc_id",
        "lang",
        F.posexplode("ws").alias("i", "w"),
        F.col("ws").alias("ws"),
    ).select(
        "doc_id",
        "lang",
        "w",
        F.get("ws", F.col("i") + 1).alias("nxt"),
    )
    # r12 (r11 verdict item 4): the r11 form persisted the exploded
    # token-OCCURRENCE stream for its three consumers — an O(corpus)
    # cache. The cached relation is now the MODEL grid (lang, w, nxt,
    # count) — bounded by bigram-vocabulary size, the thing an n-gram
    # LM materializes anyway — from which both count tables derive
    # exactly (integer sums regroup freely): uni(lang, w) is the
    # rollup over nxt INCLUDING the last-token rows (nxt NULL), bi is
    # the non-NULL slice. Scoring re-tokenizes (train pass + score
    # pass — the declared two-pass shape) with its per-occurrence
    # ln() sum arithmetic UNCHANGED, so no double-sum regrouping
    # risk. 2 corpus passes, no corpus-sized cache.
    g2 = (
        toks.groupBy("lang", "w", "nxt")
        .agg(F.count(F.lit(1)).alias("m"))
        .persist()
    )
    uni = g2.groupBy("lang", "w").agg(F.sum("m").cast("long").alias("cw"))
    bi = g2.where(F.col("nxt").isNotNull()).select(
        "lang", "w", "nxt", F.col("m").cast("long").alias("cwn")
    )
    scored = (
        toks.where(F.col("nxt").isNotNull())
        .join(uni, ["lang", "w"])
        .join(bi, ["lang", "w", "nxt"])
        .select(
            "doc_id",
            F.log((F.col("cwn") + 1.0) / (F.col("cw") + 50000.0)).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("lp") / F.count(F.lit(1)), 6).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------
# Text analysis.
# --------------------------------------------------------------------
@register(
    "text_stats_by_source",
    f"""
    WITH d AS (
      SELECT source, {SQL_WORDS} AS ws, length(text) AS nc FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(ws)) AS BIGINT) AS total_tokens,
           CAST(SUM(nc) AS BIGINT) AS total_chars,
           CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(MAX(len(ws)) AS BIGINT) AS max_tokens
    FROM d GROUP BY source ORDER BY source
    """,
    tags=("text", "llm"),
)
def text_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "source", words("text").alias("ws"), F.length("text").alias("nc")
    )
    ntok = F.size("ws").cast("long")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ntok).alias("total_tokens"),
            F.sum(F.col("nc").cast("long")).alias("total_chars"),
            (F.sum(ntok).cast("double") / F.count("*")).alias("avg_tokens"),
            F.max(ntok).alias("max_tokens"),
        )
    )


@register(
    "lang_id_heuristic",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {SQL_WORDS} AS ws FROM documents
    ), s AS (
      SELECT doc_id, lang, {SQL_LANG_SCORES} FROM d
    ), p AS (
      SELECT doc_id, lang,
             greatest(s_de, s_en, s_es, s_fr) AS best,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS predicted
      FROM s
    )
    SELECT doc_id, predicted, CAST(best AS BIGINT) AS score,
           CASE WHEN predicted = lang THEN 1 ELSE 0 END AS is_match
    FROM p ORDER BY doc_id
    """,
    tags=("text", "langid", "llm"),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (deterministic tie-break: de<en<es<fr,
    'und' when no markers hit)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", words("text").alias("ws")
    )
    pred, best = lang_id(F.col("ws"))
    return d.select(
        "doc_id",
        pred.alias("predicted"),
        best.cast("long").alias("score"),
        F.when(pred == F.col("lang"), 1).otherwise(0).alias("is_match"),
    )


@register(
    "token_count_bpe_ish",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{TOKEN_REGEX}')) AS BIGINT) AS n_bpe_tokens,
           CAST(len({SQL_WORDS}) AS BIGINT) AS n_ws_tokens
    FROM documents ORDER BY doc_id
    """,
    tags=("text", "tokens", "llm"),
)
def token_count_bpe_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens vs a BPE-ish regex lexer."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_regex("text").alias("n_bpe_tokens"),
        F.size(words("text")).cast("long").alias("n_ws_tokens"),
    )


# --------------------------------------------------------------------
# Corpus word frequencies (the Zipf table).
# --------------------------------------------------------------------
@register(
    "word_frequencies_top100",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS word FROM documents
    )
    SELECT word, COUNT(*) AS tf,
           COUNT(DISTINCT doc_id) AS df
    FROM w GROUP BY word
    ORDER BY tf DESC, word LIMIT 100
    """,
    tags=("text", "frequency", "llm"),
)
def word_frequencies_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequency table, top-100 by term count —
    the vocabulary statistics pass (Zipf curve, stopword discovery).

    Scale shape: explode + two-level count with map-side partials;
    top-100 is TakeOrdered. At 100 TB the explode output is the
    shuffle to watch — partial aggregation collapses it per task
    before the wire.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(words("text")).alias("word")
    )
    return (
        d.groupBy("word")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf").desc(), "word")
        .limit(100)
    )


# --------------------------------------------------------------------
# TF-IDF: top term per document.
# --------------------------------------------------------------------
@register(
    "tfidf_top_term_per_doc",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word
    ), df AS (
      SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, word,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf FROM (
      SELECT doc_id, word, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, word) AS rnk
      FROM scored
    ) WHERE rnk = 1 ORDER BY doc_id
    """,
    tags=("text", "tfidf", "llm"),
)
def tfidf_top_term_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring with the top-scoring term per document — the
    keyword-extraction pass. Scores are rounded to 6 decimals before
    ranking so the (score, word) order is identical in both engines.

    Scale shape: tf is a (doc, word) shuffle with partials; df is a
    small word-keyed aggregate broadcast back; ranking partitions by
    doc — no global sort anywhere.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(words("text")).alias("word")
    )
    n_docs = t(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    # r11: df derives from the tf grid (one row per (doc, word), so
    # a plain count per word IS the document frequency) — one
    # tokenization pass instead of one per aggregate, persisted for
    # both consumers
    tf = (
        d.groupBy("doc_id", "word").agg(F.count("*").alias("tf")).persist()
    )
    df = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("doc_id", "word", "tfidf")
    )


# --------------------------------------------------------------------
# Tokenizer fertility: chars-per-token by language.
# --------------------------------------------------------------------
@register(
    "tokenizer_fertility_by_lang",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(CAST(SUM(n_chars) AS VARCHAR) AS DOUBLE) AS sum_chars,
           CAST(SUM(len({SQL_WORDS})) AS BIGINT) AS sum_ws_tokens,
           CAST(SUM(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{TOKEN_REGEX}')))
             AS BIGINT) AS sum_bpe_tokens,
           -- DOUBLE ratio: char totals (and hence the milli ratio)
           -- exceed int64 at scale; same op order both engines (r10)
           CAST(CAST(SUM(n_chars) AS VARCHAR) AS DOUBLE) * 1000
             / CAST(SUM(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                  '{TOKEN_REGEX}'))) AS DOUBLE)
             AS chars_per_bpe_token_milli
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("text", "tokens", "llm"),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: characters per (BPE-ish)
    token — the compression-rate statistic multilingual-corpus work
    tracks to budget per-language token counts (higher fertility =
    more tokens per character = costlier language). Whitespace and
    regex tokenizations reported side by side; the milli-ratio is
    exact integer math. Row-local codegen + one small agg — scales
    as a single pass."""
    d = t(spark, sf_dir, "documents")
    bpe = token_count_regex("text")
    ws_n = F.size(words(F.col("text"))).cast("long")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(38,0)"))
            .cast("double")
            .alias("sum_chars"),
            F.sum(ws_n).cast("long").alias("sum_ws_tokens"),
            F.sum(bpe).cast("long").alias("sum_bpe_tokens"),
        )
        # DOUBLE ratio in the oracle's exact op order (char totals
        # exceed int64 at scale, so the old exact-floor milli ratio
        # has no integral home; r10 extreme axis)
        .withColumn(
            "chars_per_bpe_token_milli",
            F.col("sum_chars") * 1000
            / F.col("sum_bpe_tokens").cast("double"),
        )
    )


# --------------------------------------------------------------------
# Language-ID confusion matrix (classifier quality accounting).
# --------------------------------------------------------------------
@register(
    "langid_confusion_matrix",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {SQL_WORDS} AS ws FROM documents
    ), s AS (
      SELECT doc_id, lang, {SQL_LANG_SCORES} FROM d
    ), p AS (
      SELECT doc_id, lang,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS predicted
      FROM s
    ), cm AS (
      SELECT lang AS actual, predicted, COUNT(*) AS n
      FROM p GROUP BY lang, predicted
    )
    SELECT actual, predicted, n,
           CAST((n * 1000)
                // CAST(SUM(n) OVER (PARTITION BY actual) AS BIGINT)
                AS BIGINT) AS pct_of_actual_milli
    FROM cm ORDER BY actual, predicted
    """,
    tags=("text", "langid", "quality", "llm"),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language classifier against
    the labeled `lang` column — the per-class quality accounting
    (recall per actual language in exact milli-units) a pipeline runs
    before trusting a cheap classifier to route 100 TB of documents.
    Same deterministic tie-break as `lang_id_heuristic` (de<en<es<fr,
    'und' on zero hits). One scan + one small agg + a window over the
    tiny matrix — scales as a single pass."""
    d = t(spark, sf_dir, "documents").select(
        "lang", words(F.col("text")).alias("ws")
    )

    pred, _ = lang_id(F.col("ws"))
    from pyspark.sql import Window

    cm = (
        d.select(F.col("lang").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy("actual")).cast("long")
    return (
        cm.withColumn("_total", total)
        .withColumn(
            "pct_of_actual_milli", F.expr("(n * 1000) div _total")
        )
        .drop("_total")
    )


# --------------------------------------------------------------------
# Vocabulary coverage / OOV-rate diagnostic.
# --------------------------------------------------------------------
_VOCAB_K = 200


@register(
    "vocab_coverage_oov",
    f"""
    WITH toks AS (
      SELECT lang, unnest({SQL_WORDS}) AS tok FROM documents
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
        ORDER BY n DESC, tok LIMIT {_VOCAB_K}
      )
    )
    SELECT lang,
           COUNT(*) AS total_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST(COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END)
                AS BIGINT) AS distinct_oov_terms,
           CAST(round(1000.0 * (COUNT(*) - SUM(CASE WHEN v.tok IS NOT NULL
                                               THEN 1 ELSE 0 END))
                      / COUNT(*)) AS BIGINT) AS oov_rate_milli
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("text", "tokenizer", "llm"),
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage diagnostic: build the corpus-global top-200
    token vocabulary (by frequency, ties by token), then report per
    language the total token mass, the mass the vocabulary covers,
    the distinct out-of-vocabulary term count, and the OOV rate in
    milli — the standard pre-tokenizer health check (high OOV in a
    language means the vocabulary under-serves it).

    Scale shape: token counts reduce map-side to one row per distinct
    term; the top-K is a TakeOrderedAndProject (no global sort); the
    coverage pass joins the BROADCAST 200-term vocabulary against the
    token stream — one scan, one broadcast join, one per-lang agg.
    At 100 TB the vocab build and coverage scan stay two linear
    passes; K scaling only grows the broadcast table.
    """
    from filemapreduce_spark.operators.textops import words

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(words(F.col("text"))).alias("tok")
    )
    # r11: the vocab build and the coverage join each re-ran the
    # tokenize+explode pass — reduce once to the (lang, tok, c) grid
    # (map-side combined, persisted); occurrence counts become count
    # weights on the grid
    grid = (
        toks.groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    vocab = (
        grid.groupBy("tok")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    joined = grid.join(F.broadcast(vocab), "tok", "left")
    covered = F.sum(
        F.when(F.col("in_vocab").isNotNull(), F.col("c")).otherwise(0)
    ).cast("long")
    total = F.sum("c").cast("long")
    return (
        joined.groupBy("lang")
        .agg(
            total.alias("total_tokens"),
            covered.alias("covered_tokens"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("tok"))
            )
            .cast("long")
            .alias("distinct_oov_terms"),
            F.round(
                1000.0
                * (F.sum("c") - F.sum(
                    F.when(
                        F.col("in_vocab").isNotNull(), F.col("c")
                    ).otherwise(0)
                ))
                / F.sum("c")
            )
            .cast("long")
            .alias("oov_rate_milli"),
        )
    )


# --------------------------------------------------------------------
# Distinct-n diversity ratios (generation-diversity metric).
# --------------------------------------------------------------------
@register(
    "distinct_n_diversity",
    f"""
    WITH toks AS (
      SELECT source, {SQL_WORDS} AS ws FROM documents
    ), grams AS (
      SELECT source, n.n,
             unnest(CASE n.n
               WHEN 1 THEN ws
               WHEN 2 THEN list_transform(
                 range(1, greatest(len(ws) - 0, 1)),
                 i -> ws[i] || ' ' || ws[i + 1])
               ELSE list_transform(
                 range(1, greatest(len(ws) - 1, 1)),
                 i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
             END) AS g
      FROM toks CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) n
    )
    SELECT source, CAST(n AS BIGINT) AS n,
           COUNT(*) AS total_ngrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams,
           CAST(round(1000.0 * COUNT(DISTINCT g) / COUNT(*)) AS BIGINT)
             AS distinct_milli
    FROM grams
    GROUP BY source, n
    ORDER BY source, n
    """,
    tags=("text", "diversity", "llm"),
)
def distinct_n_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source: the fraction of 1/2/3-grams
    that are unique (Li et al. 2016's distinct-1/distinct-2) — the
    standard degeneracy metric for generated text (low distinct-n =
    repetitive corpus; also a cheap mode-collapse alarm when scoring
    synthetic training data).

    Scale: n-grams are row-local array transforms (no join), reduced
    by one map-side-combined distinct-count per (source, n). The 3×
    fanout rides the explode, not a shuffle of documents.

    DuckDB range(1, x) is empty when x <= 1, so short docs yield no
    bigrams/trigrams on either engine (Spark's sequence guard
    mirrors it).
    """
    from filemapreduce_spark.operators.textops import words

    docs = t(spark, sf_dir, "documents")
    toks = docs.select("source", words(F.col("text")).alias("ws"))
    sizes = toks.select(
        "source",
        "ws",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("n"),
    )
    grams = sizes.select(
        "source",
        "n",
        F.explode(
            # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]), so
            # the greatest(...,0) clamp alone would emit phantom NULL
            # n-grams on docs shorter than n words — gate on size(ws)
            F.when(F.col("n") == 1, F.col("ws"))
            .when(
                F.col("n") == 2,
                F.expr(
                    "CASE WHEN size(ws) >= 2 THEN"
                    " transform(sequence(1, size(ws) - 1),"
                    " i -> concat(ws[i - 1], ' ', ws[i]))"
                    " ELSE array() END"
                ),
            )
            .otherwise(
                F.expr(
                    "CASE WHEN size(ws) >= 3 THEN"
                    " transform(sequence(1, size(ws) - 2),"
                    " i -> concat(ws[i - 1], ' ', ws[i], ' ', ws[i + 1]))"
                    " ELSE array() END"
                )
            )
        ).alias("g"),
    )
    return (
        grams.groupBy("source", "n")
        .agg(
            F.count("*").alias("total_ngrams"),
            F.countDistinct("g").cast("long").alias("distinct_ngrams"),
            F.round(1000.0 * F.countDistinct("g") / F.count("*"))
            .cast("long")
            .alias("distinct_milli"),
        )
        .select(
            "source",
            F.col("n").cast("long"),
            "total_ngrams",
            "distinct_ngrams",
            "distinct_milli",
        )
    )


# --------------------------------------------------------------------
# Zipf exponent fit (log-log OLS over the top-K rank-frequency curve).
# --------------------------------------------------------------------
_ZIPF_K = 100


@register(
    "zipf_exponent_fit",
    f"""
    WITH toks AS (
      SELECT unnest({SQL_WORDS}) AS tok FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok
      ORDER BY f DESC, tok LIMIT {_ZIPF_K}
    ), ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r
      FROM freq
    ), xy AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
      FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           round((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x*x) - SUM(x) * SUM(x)), 6) AS zipf_slope,
           round((SUM(y) - ((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                            / (COUNT(*) * SUM(x*x) - SUM(x) * SUM(x)))
                          * SUM(x)) / COUNT(*), 6) AS intercept
    FROM xy
    """,
    tags=("text", "stats", "llm"),
)
def zipf_exponent_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: OLS slope of ln(frequency) vs
    ln(rank) over the top-100 terms — natural language sits near −1
    (Zipf's law); a corpus that deviates sharply is a red flag for
    templated/synthetic text, and the exponent drives vocabulary-
    size and coverage planning.

    Scale: term counts reduce map-side; the top-K is a
    TakeOrderedAndProject (no global sort of the vocabulary); the
    regression runs over exactly K rows. The ln/Σ float terms follow
    the registry's 6-dp contract.
    """
    from filemapreduce_spark.operators.textops import words

    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(words(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
        .orderBy(F.col("f").desc(), F.col("tok"))
        .limit(_ZIPF_K)
    )
    ranked = freq.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.col("f").desc(), F.col("tok"))
        ),
    )
    xy = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    n = F.count("*")
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return xy.agg(
        n.cast("long").alias("k"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.sum("y") - slope * F.sum("x")) / n, 6).alias("intercept"),
    )


# --------------------------------------------------------------------
# Heaps' law vocabulary-growth curve (fixed 20-checkpoint grid).
# --------------------------------------------------------------------
_HEAPS_CK = 20


@register(
    "heaps_law_curve",
    f"""
    WITH bounds AS (
      SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ), toks AS (
      SELECT ((d.doc_id - b.lo) * {_HEAPS_CK}) // (b.hi - b.lo + 1)
               AS ck,
             unnest({{words}}) AS tok
      FROM documents d CROSS JOIN bounds b
    ), per_ck AS (
      SELECT ck, COUNT(*) AS n_toks FROM toks GROUP BY ck
    ), first_ck AS (
      SELECT tok, MIN(ck) AS ck FROM toks GROUP BY tok
    ), new_vocab AS (
      SELECT ck, COUNT(*) AS n_new FROM first_ck GROUP BY ck
    )
    SELECT p.ck AS checkpoint,
           CAST(SUM(p.n_toks) OVER w AS BIGINT) AS tokens_cum,
           CAST(SUM(COALESCE(v.n_new, 0)) OVER w AS BIGINT) AS vocab_cum
    FROM per_ck p LEFT JOIN new_vocab v ON v.ck = p.ck
    WINDOW w AS (ORDER BY p.ck
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY checkpoint
    """.replace(
        "{words}",
        "list_filter(regexp_split_to_array(translate(d.text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'),"
        " w -> w != '')",
    ),
    tags=("text", "stats", "llm"),
)
def heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct
    vocabulary vs cumulative token count at 20 fixed corpus
    checkpoints (docs in id order) — natural language grows V ≈
    K·N^β with β ≈ 0.4–0.6; a flattening curve means the corpus has
    saturated its domain, a too-straight one suggests synthetic or
    id-heavy text. The companion of the Zipf fit, over growth
    instead of rank.

    The scale trick: cumulative DISTINCT needs no distinct machinery
    — each token counts once, at the checkpoint of its FIRST
    occurrence (the adoption-curve move), so the plan is two
    map-side-combined aggs plus windows over the FIXED 20-row
    checkpoint grid (config-bounded at any corpus size; checkpoint
    ids derive from a 1-row min/max broadcast).
    """
    from filemapreduce_spark.operators.textops import words

    docs = t(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    toks = docs.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"((doc_id - lo) * {_HEAPS_CK}) div (hi - lo + 1)"
        ).alias("ck"),
        F.explode(words(F.col("text"))).alias("tok"),
    )
    # r11: both consumers (tokens per checkpoint, first checkpoint
    # per token) used to re-run the tokenize+explode pass — reduce to
    # the compact (ck, tok, n) grid once (map-side combined), persist
    # it, and derive both aggregates from the cached grid
    grid = (
        toks.groupBy("ck", "tok").agg(F.count("*").alias("n")).persist()
    )
    per_ck = grid.groupBy("ck").agg(
        F.sum("n").cast("long").alias("n_toks")
    )
    first_ck = grid.groupBy("tok").agg(F.min("ck").alias("ck"))
    new_vocab = first_ck.groupBy("ck").agg(F.count("*").alias("n_new"))
    wcum = Window.orderBy("ck").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_ck.join(new_vocab, "ck", "left")
        .select(
            F.col("ck").alias("checkpoint"),
            F.sum("n_toks").over(wcum).cast("long").alias("tokens_cum"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("vocab_cum"),
        )
    )


_MG_K = 500  # Misra–Gries counter budget per partition
_TOP = 10


# --------------------------------------------------------------------
# Exact heavy hitters: Misra–Gries candidates + exact verify pass.
# --------------------------------------------------------------------
@register(
    "heavy_hitters_exact_mg",
    f"""
    WITH toks AS (
      SELECT unnest({SQL_WORDS}) AS tok FROM documents
    ), cnt AS (
      SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ), total AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cnt
    ), top AS (
      SELECT tok, CAST(n AS BIGINT) AS n,
             CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
               AS rank
      FROM cnt ORDER BY n DESC, tok LIMIT {_TOP}
    )
    SELECT rank, tok, n,
           CAST(CASE WHEN n * {_MG_K} > n_total THEN 1 ELSE 0 END
                AS BIGINT) AS rank_certified
    FROM top CROSS JOIN total
    ORDER BY rank
    """,
    tags=("llm", "heavy-hitters", "sketch", "udx"),
)
def heavy_hitters_exact_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global top-{TOP} tokens computed the way it is done when
    the token domain is too wide for even a spilling full aggregate:
    phase 1 runs MISRA–GRIES with K={K} counters inside each
    partition (an Arrow-batched ``mapInPandas`` whose state lives
    across the partition's batches), emitting ≤ K candidates per
    partition; phase 2 exact-counts ONLY the union of candidates and
    takes the top {TOP}.

    Correctness: Misra–Gries guarantees any item with per-partition
    frequency > n_p/K survives that partition's summary, and a
    globally heavy item (count > N/K) must be locally heavy in at
    least one partition — so the candidate union contains every token
    with count > N/K regardless of partitioning. Each output row
    carries ``rank_certified`` = (n·K > N): a certified row's rank is
    EXACT because no non-candidate token can out-count it. The oracle
    is the plain full aggregation — equality holds whenever the top
    rows are certified (they are, at every shipped SF; the K budget
    is the dial).

    Scale shape: phase 1 is shuffle-free (candidates ≤ K·#partitions
    rows, config-bounded — the broadcast below is bounded by the SAME
    constant, never by corpus size); phase 2 shuffles only candidate
    tokens' partial counts. Phase 1 is fully vectorized: per-batch
    ``value_counts`` (a zero-error MG summary) merged via the
    mergeable-summaries COMBINE+PRUNE (Agarwal et al. 2013) — no
    per-token interpreted loop anywhere; the only Python-side work per
    Arrow batch is one C-speed count plus an O(K) summary merge. An
    uncertified top row raises a named error at execution rather than
    silently diverging from the full-aggregation oracle.
    """
    # r12 (r11 verdict item 4): the r11 form persisted the full
    # exploded token-OCCURRENCE stream — an O(corpus) cache whose
    # MEMORY_AND_DISK spill at 100 TB is a corpus-sized write. Now
    # the only cached relation is the pass-1 output (<= K candidates
    # + 1 total row per partition — config-bounded), the partition
    # totals ride out of the SAME pass (so the former third
    # tokenize-for-total pass is gone), and only the exact recount
    # re-tokenizes: 2 bounded-state corpus passes, no corpus-sized
    # cache. Probe at sf0.1: 0.42 -> 0.33 s cold / warm ~flat.
    toks = t(spark, sf_dir, "documents").select(
        F.explode(words("text")).alias("tok")
    )

    def mg_partition(batches):
        import numpy as np
        import pandas as pd

        # Vectorized Misra–Gries: a per-batch EXACT value_counts (C
        # speed — no per-token Python) is itself a zero-error MG
        # summary, and MG summaries are mergeable (Agarwal et al.
        # 2013, "Mergeable Summaries"): COMBINE by adding counters,
        # then PRUNE to K entries by subtracting the (K+1)-th largest
        # counter from all and dropping non-positives. The merged
        # summary keeps the invariant (any token with partition
        # frequency > n_p/K survives), so the candidate-union
        # guarantee is unchanged — only the constant factor moves.
        summary = pd.Series(dtype="int64")
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            vc = pdf["tok"].value_counts()
            summary = (
                vc
                if summary.empty
                # aligned add promotes to float64 (NaN intermediate);
                # counts are < 2^53 so the cast back is exact
                else summary.add(vc, fill_value=0).astype("int64")
            )
            if len(summary) > _MG_K:
                vals = np.partition(
                    summary.to_numpy(), len(summary) - _MG_K - 1
                )
                thresh = vals[len(summary) - _MG_K - 1]
                summary = summary[summary > thresh] - thresh
        # candidates (tok, NULL) plus ONE partition-total row
        # (NULL, n) — tokens are never NULL (explode of a filtered
        # words array), so the marker is unambiguous
        out = pd.DataFrame(
            {
                "tok": summary.index.astype(str),
                "cnt": pd.array([None] * len(summary), dtype="Int64"),
            }
        )
        yield pd.concat(
            [out, pd.DataFrame({"tok": [None], "cnt": [n_part]})]
        )

    # pass-1 output: <= K candidate rows + 1 total row per partition
    # (config-bounded) — the ONLY cached relation; two consumers
    # (candidate set, corpus total) read it
    mg_out = toks.mapInPandas(
        mg_partition, schema="tok string, cnt long"
    ).persist()
    cand = (
        mg_out.where(F.col("tok").isNotNull()).select("tok").distinct()
    )
    exact = (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    total = mg_out.agg(F.sum("cnt").cast("long").alias("n_total"))
    top = (
        exact.orderBy(F.col("n").desc(), "tok")
        .limit(_TOP)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "tok"))
            .cast("long"),
        )
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "rank",
            "tok",
            "n",
            # fail fast on an uncertified rank: oracle equality is only
            # guaranteed when every returned row is certified (n·K > N),
            # so a too-small K budget must surface as THIS named error —
            # not as a silent top-10 mismatch that reads like an
            # operator regression in a sweep after an SF change
            F.when(
                F.col("n") * _MG_K > F.col("n_total"),
                F.lit(1).cast("long"),
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "heavy_hitters_exact_mg: top rank NOT certified"
                        f" (n*K <= N with K={_MG_K}) - the Misra-Gries"
                        " counter budget is too small for this corpus;"
                        " raise _MG_K in queries/text.py (a config dial,"
                        " not an operator regression)"
                    )
                ).cast("long")
            )
            .alias("rank_certified"),
        )
    )


heavy_hitters_exact_mg.__doc__ = heavy_hitters_exact_mg.__doc__.replace(
    "{TOP}", str(_TOP)
).replace("{K}", str(_MG_K))


# --------------------------------------------------------------------
# Per-source unigram KL divergence vs the corpus (distribution drift).
# --------------------------------------------------------------------
_KL_V = 100  # vocabulary: top-V global tokens; everything else = OOV


@register(
    "kl_divergence_by_source",
    f"""
    WITH tok AS (
      SELECT source, unnest({SQL_WORDS}) AS w FROM documents
    ), vocab AS (
      SELECT w, COUNT(*) AS cg,
             row_number() OVER (ORDER BY COUNT(*) DESC, w) AS rk
      FROM tok GROUP BY w
    ), v AS (
      SELECT w, cg FROM vocab WHERE rk <= {_KL_V}
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             (SELECT CAST(SUM(cg) AS BIGINT) FROM v) AS n_inv
      FROM tok
    ), src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM tok
      GROUP BY source
    ), src_cnt AS (
      SELECT t.source, t.w, COUNT(*) AS cs
      FROM tok t JOIN v ON v.w = t.w
      GROUP BY t.source, t.w
    ), grid AS (
      SELECT s.source, v.w, v.cg, s.n_s, COALESCE(c.cs, 0) AS cs
      FROM src_tot s CROSS JOIN v
      LEFT JOIN src_cnt c ON c.source = s.source AND c.w = v.w
    ), terms AS (
      -- in-vocab terms, add-one smoothing over V+1 outcomes
      SELECT source,
             ((cs + 1)::DOUBLE / (n_s + {_KL_V} + 1))
               * ln(((cs + 1)::DOUBLE / (n_s + {_KL_V} + 1))
                    / ((cg + 1)::DOUBLE
                       / ((SELECT n_all FROM tot) + {_KL_V} + 1)))
               AS term
      FROM grid
      UNION ALL
      -- the single OOV bucket (everything outside the top-V)
      SELECT s.source,
             ((s.n_s - x.inv_s + 1)::DOUBLE / (s.n_s + {_KL_V} + 1))
               * ln(((s.n_s - x.inv_s + 1)::DOUBLE / (s.n_s + {_KL_V} + 1))
                    / ((t.n_all - t.n_inv + 1)::DOUBLE
                       / (t.n_all + {_KL_V} + 1)))
               AS term
      FROM src_tot s
      JOIN (SELECT source, CAST(SUM(cs) AS BIGINT) AS inv_s
            FROM grid GROUP BY source) x ON x.source = s.source
      CROSS JOIN tot t
    )
    SELECT t.source AS source, s.n_s AS n_tokens,
           CAST(round(1000000.0 * SUM(t.term)) AS BIGINT) AS kl_micro
    FROM terms t JOIN src_tot s ON s.source = t.source
    GROUP BY t.source, s.n_s
    ORDER BY t.source
    """,
    tags=("llm", "text", "drift", "stats"),
)
def kl_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    whole-corpus distribution — the information-theoretic drift score
    behind mixture rebalancing and contamination triage ('which source
    stopped looking like the corpus?'). Distributions are over the
    top-{V} global tokens plus one OOV bucket, add-one smoothed (so
    every term is finite); all counts are exact integers and the only
    float work is the per-term p·ln(p/q), summed and micro-rounded
    (the registry's 6-dp float-parity contract).

    Scale shape: one explode feeds three map-side-combined aggs
    (global vocab top-V via TakeOrdered, per-source totals, per-source
    in-vocab counts); the smoothing grid is #sources × V rows —
    config-bounded, broadcast-joined. No shuffle carries more than the
    (source, vocab-word) count table.
    """
    d = t(spark, sf_dir, "documents")
    # the token stream feeds FOUR branches (vocab, tot, src_tot,
    # src_cnt) — persist so the corpus scan + explode runs once,
    # not once per reference (round-6 plan audit: 30 exchanges)
    tok = d.select(
        "source", F.explode(words("text")).alias("w")
    ).persist()
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cg"))
        .orderBy(F.col("cg").desc(), "w")
        .limit(_KL_V)
        .persist()  # top-V rows, config-bounded; read by 3 branches
    )
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("n_all")).crossJoin(
        F.broadcast(
            vocab.agg(F.sum("cg").cast("long").alias("n_inv"))
        )
    )
    src_tot = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    ).persist()  # #sources rows; read by grid, oov AND final join
    src_cnt = (
        tok.join(F.broadcast(vocab.select("w")), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cs"))
    )
    grid = (
        src_tot.crossJoin(F.broadcast(vocab))
        # ≤ #sources × V rows — broadcast beats shuffling the grid
        .join(F.broadcast(src_cnt), ["source", "w"], "left")
        .withColumn("cs", F.coalesce(F.col("cs"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .persist()  # #sources × V rows; read by in_terms AND inv_s
    )
    vp1 = F.lit(_KL_V + 1)
    p_in = (F.col("cs") + 1).cast("double") / (F.col("n_s") + vp1)
    q_in = (F.col("cg") + 1).cast("double") / (F.col("n_all") + vp1)
    in_terms = grid.select(
        "source", (p_in * F.log(p_in / q_in)).alias("term")
    )
    inv_s = grid.groupBy("source").agg(
        F.sum("cs").cast("long").alias("inv_s")
    )
    oov = (
        src_tot.join(F.broadcast(inv_s), "source")
        .crossJoin(F.broadcast(tot))
    )
    p_oov = (F.col("n_s") - F.col("inv_s") + 1).cast("double") / (
        F.col("n_s") + vp1
    )
    q_oov = (F.col("n_all") - F.col("n_inv") + 1).cast("double") / (
        F.col("n_all") + vp1
    )
    oov_terms = oov.select(
        "source", (p_oov * F.log(p_oov / q_oov)).alias("term")
    )
    return (
        in_terms.unionAll(oov_terms)
        .groupBy("source")
        .agg(F.sum("term").alias("kl"))
        .join(F.broadcast(src_tot), "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.round(1000000.0 * F.col("kl")).cast("long").alias("kl_micro"),
        )
    )


kl_divergence_by_source.__doc__ = kl_divergence_by_source.__doc__.replace(
    "{V}", str(_KL_V)
)


_SB_ALPHA = 0.4  # Brants et al. backoff penalty
_TRAIN_GATE = 58982  # first 16 md5 bits < 0.9·65536 → train split


# --------------------------------------------------------------------
# Stupid-backoff trigram LM: train on the hash split, score held-out.
# --------------------------------------------------------------------
@register(
    "stupid_backoff_trigram_score",
    f"""
    WITH doc AS (
      SELECT doc_id, source, {SQL_WORDS} AS ws,
             ('0x' || substring(md5(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')), 1, 4))::INT < {_TRAIN_GATE}
               AS is_train
      FROM documents
    ), tri AS (
      SELECT doc_id, source, is_train,
             ws[i] AS a, ws[i + 1] AS b, ws[i + 2] AS c
      FROM doc, unnest(range(1, len(ws) - 1)) AS u(i)
      WHERE len(ws) >= 3
    ), bi AS (
      SELECT doc_id, is_train, ws[i] AS a, ws[i + 1] AS b
      FROM doc, unnest(range(1, len(ws))) AS u(i)
      WHERE len(ws) >= 2
    ), uni AS (
      SELECT doc_id, is_train, unnest(ws) AS w FROM doc
    ), n_train AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni WHERE is_train
    ), c1 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM uni
      WHERE is_train GROUP BY w
    ), c2 AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi
      WHERE is_train GROUP BY a, b
    ), c3 AS (
      SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM tri
      WHERE is_train GROUP BY a, b, c
    ), tri_s AS (
      SELECT c3.a, c3.b, c3.c,
             c3.cnt::DOUBLE / c2.cnt AS s3
      FROM c3 JOIN c2 ON c2.a = c3.a AND c2.b = c3.b
    ), bi_s AS (
      SELECT c2.a AS b, c2.b AS c,
             {_SB_ALPHA} * (c2.cnt::DOUBLE / c1.cnt) AS s2
      FROM c2 JOIN c1 ON c1.w = c2.a
    ), uni_s AS (
      SELECT c1.w AS c,
             {_SB_ALPHA} * {_SB_ALPHA}
               * (c1.cnt::DOUBLE / (SELECT n FROM n_train)) AS s1
      FROM c1
    ), scored AS (
      SELECT t.doc_id, t.source,
             ln(COALESCE(ts.s3, bs.s2, us.s1,
                 {_SB_ALPHA} * {_SB_ALPHA} / (SELECT n FROM n_train)))
               AS lp
      FROM tri t
      LEFT JOIN tri_s ts ON ts.a = t.a AND ts.b = t.b AND ts.c = t.c
      LEFT JOIN bi_s bs ON bs.b = t.b AND bs.c = t.c
      LEFT JOIN uni_s us ON us.c = t.c
      WHERE NOT t.is_train
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_tri,
           CAST(round(1000000.0 * SUM(lp) / COUNT(*)) AS BIGINT)
             AS avg_logscore_micro
    FROM scored GROUP BY doc_id, source
    ORDER BY doc_id
    """,
    tags=("llm", "text", "lm", "quality"),
)
def stupid_backoff_trigram_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al. 2007): S(c|ab) =
    count(abc)/count(ab), backing off to α·count(bc)/count(b), then
    α²·count(c)/N, then α²/N for OOV — the deliberately unnormalized
    score Google trained on 2T tokens BECAUSE it needs no smoothing
    statistics, only raw counts (α=0.4). Counts come from the
    content-hash train split (same 90% gate as `dataset_split_assign`,
    so assignment is reproducible and leakage-free); scored docs are
    the held-out 10%, where backoff genuinely fires for unseen grams.
    Counts are exact integers; each trigram's score is one float
    division chain with identical operands in both engines; the
    per-doc mean log-score is micro-rounded (float-parity contract).

    Scale shape: gram-count tables are groupBy aggs over exploded
    grams (map-side combined, shuffled on the gram key — the same
    shape at any corpus size); scoring is three hash LEFT JOINs from
    held-out trigram occurrences to those tables. No broadcast of an
    unbounded side is forced — AQE picks the strategy from runtime
    sizes. No driver state, no collect.
    """
    d = t(spark, sf_dir, "documents")
    doc = d.select(
        "doc_id",
        "source",
        words("text").alias("ws"),
        (
            F.conv(F.substring(F.md5(ascii_fold("text")), 1, 4), 16, 10)
            .cast("int")
            < _TRAIN_GATE
        ).alias("is_train"),
    ).persist()  # tokenized once; read by the tri/bi/uni explodes —
    # same corpus-token persist pattern as the MinHash builders
    # (spills to disk at volume; avoids 4× re-tokenization)
    ws = F.col("ws")
    tri_struct = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.struct(
            F.element_at(ws, i).alias("a"),
            F.element_at(ws, i + 1).alias("b"),
            F.element_at(ws, i + 2).alias("c"),
        ),
    )
    tri = (
        doc.where(F.size(ws) >= 3)
        .select(
            "doc_id", "source", "is_train",
            F.explode(tri_struct).alias("g"),
        )
        .select("doc_id", "source", "is_train", "g.a", "g.b", "g.c")
    )
    bi_struct = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 1),
        lambda i: F.struct(
            F.element_at(ws, i).alias("a"),
            F.element_at(ws, i + 1).alias("b"),
        ),
    )
    bi = (
        doc.where(F.size(ws) >= 2)
        .select("is_train", F.explode(bi_struct).alias("g"))
        .select("is_train", "g.a", "g.b")
    )
    uni = doc.select("is_train", F.explode(ws).alias("w"))

    c1 = (
        uni.where("is_train")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt1"))
    )
    c2 = (
        bi.where("is_train")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt2"))
    )
    c3 = (
        tri.where("is_train")
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt3"))
    )
    n_train = uni.where("is_train").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    alpha = F.lit(_SB_ALPHA)
    tri_s = c3.join(c2, ["a", "b"]).select(
        "a", "b", "c",
        (F.col("cnt3").cast("double") / F.col("cnt2")).alias("s3"),
    )
    bi_s = c2.join(c1, F.col("w") == F.col("a")).select(
        F.col("a").alias("bb"),
        F.col("b").alias("bc"),
        (alpha * (F.col("cnt2").cast("double") / F.col("cnt1"))).alias(
            "s2"
        ),
    )
    uni_s = c1.crossJoin(F.broadcast(n_train)).select(
        F.col("w").alias("uc"),
        (
            alpha * alpha * (F.col("cnt1").cast("double") / F.col("n"))
        ).alias("s1"),
    )
    held = tri.where(~F.col("is_train"))
    scored = (
        held.join(tri_s, ["a", "b", "c"], "left")
        .join(
            bi_s,
            (F.col("b") == F.col("bb")) & (F.col("c") == F.col("bc")),
            "left",
        )
        .join(uni_s, F.col("c") == F.col("uc"), "left")
        .crossJoin(F.broadcast(n_train))
        .select(
            "doc_id",
            "source",
            F.log(
                F.coalesce(
                    F.col("s3"),
                    F.col("s2"),
                    F.col("s1"),
                    alpha * alpha / F.col("n"),
                )
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tri"),
            F.round(1000000.0 * F.sum("lp") / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_logscore_micro"),
        )
    )


# --------------------------------------------------------------------
# Pairwise Jensen–Shannon divergence between source distributions.
# --------------------------------------------------------------------
_JSD_V = 100  # top-V global vocabulary + one OOV bucket


def _jsd_term(p: str, q: str) -> str:
    return (
        f"0.5 * ({p} * ln(2.0 * {p} / ({p} + {q}))"
        f" + {q} * ln(2.0 * {q} / ({p} + {q})))"
    )


@register(
    "jsd_pairwise_sources",
    f"""
    WITH tok AS (
      SELECT source, unnest({SQL_WORDS}) AS w FROM documents
    ), vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS cg FROM tok GROUP BY w
        ORDER BY cg DESC, w LIMIT {_JSD_V}
      )
    ), src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM tok
      GROUP BY source
    ), src_cnt AS (
      SELECT t.source, t.w, CAST(COUNT(*) AS BIGINT) AS cs
      FROM tok t JOIN vocab v ON v.w = t.w
      GROUP BY t.source, t.w
    ), grid AS (
      SELECT s.source, v.w,
             (COALESCE(c.cs, 0) + 1)::DOUBLE / (s.n_s + {_JSD_V} + 1)
               AS p
      FROM src_tot s CROSS JOIN vocab v
      LEFT JOIN src_cnt c ON c.source = s.source AND c.w = v.w
    ), oov AS (
      SELECT s.source,
             (s.n_s - COALESCE(x.inv_s, 0) + 1)::DOUBLE
               / (s.n_s + {_JSD_V} + 1) AS p
      FROM src_tot s
      LEFT JOIN (SELECT source, SUM(cs) AS inv_s FROM src_cnt
                 GROUP BY source) x ON x.source = s.source
    ), terms AS (
      SELECT a.source AS source_a, b.source AS source_b,
             {_jsd_term("a.p", "b.p")} AS term
      FROM grid a JOIN grid b
        ON a.w = b.w AND a.source < b.source
      UNION ALL
      SELECT a.source, b.source, {_jsd_term("a.p", "b.p")}
      FROM oov a JOIN oov b ON a.source < b.source
    )
    SELECT source_a, source_b,
           CAST(round(1000000.0 * SUM(term)) AS BIGINT) AS jsd_micro
    FROM terms GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
    tags=("llm", "text", "drift", "stats"),
)
def jsd_pairwise_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between every two sources'
    unigram distributions (top-{V} global vocab + one OOV bucket,
    add-one smoothed) — the symmetric, bounded [0, ln 2] similarity
    structure of the corpus: which sources are near-interchangeable
    (candidates for merging/deduping mixture weight) and which carry
    distinct distributions. JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M the
    midpoint, computed term-by-term as identical float expressions in
    both engines over exact-integer counts; pair sums micro-rounded.

    Scale shape: one explode feeds the vocab top-V (TakeOrdered) and
    the per-source count tables; the smoothed grid is #sources × V
    rows, and the pairwise join is (#sources·V)² / V keyed on the
    vocab word — bounded by the SOURCE COUNT squared (catalog-sized),
    never by corpus volume. Token-level data is reduced before any
    pairwise work.
    """
    d = t(spark, sf_dir, "documents")
    # the token stream feeds THREE branches (vocab, src_tot, src_cnt)
    # — persist so the corpus scan + explode runs once, not once per
    # reference (round-6 plan audit: 26 exchanges)
    tok = d.select(
        "source", F.explode(words("text")).alias("w")
    ).persist()
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cg"))
        .orderBy(F.col("cg").desc(), "w")
        .limit(_JSD_V)
        .select("w")
        .persist()  # top-V rows, config-bounded; read by 2 branches
    )
    src_tot = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    ).persist()  # #sources rows; read by grid AND the OOV branch
    src_cnt = (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cs"))
        .persist()  # ≤ #sources × V rows; read by grid AND inv_s
    )
    vp1 = F.lit(_JSD_V + 1)
    grid = (
        src_tot.crossJoin(F.broadcast(vocab))
        # ≤ #sources × V rows — broadcast beats shuffling the grid
        .join(F.broadcast(src_cnt), ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                (F.coalesce(F.col("cs"), F.lit(0)) + 1).cast("double")
                / (F.col("n_s") + vp1)
            ).alias("p"),
        )
        .persist()  # #sources × V rows; read by BOTH pair-join sides
    )
    inv_s = src_cnt.groupBy("source").agg(F.sum("cs").alias("inv_s"))
    oov = src_tot.join(inv_s, "source", "left").select(
        "source",
        (
            (
                F.col("n_s") - F.coalesce(F.col("inv_s"), F.lit(0)) + 1
            ).cast("double")
            / (F.col("n_s") + vp1)
        ).alias("p"),
    ).persist()  # #sources rows; read by BOTH OOV pair-join sides

    def jsd_term(p, q):
        return 0.5 * (
            p * F.log(2.0 * p / (p + q)) + q * F.log(2.0 * q / (p + q))
        )

    ga = grid.select(
        F.col("source").alias("source_a"),
        F.col("w").alias("wa"),
        F.col("p").alias("pa"),
    )
    gb = grid.select(
        F.col("source").alias("source_b"),
        F.col("w").alias("wb"),
        F.col("p").alias("pb"),
    )
    in_terms = ga.join(
        gb,
        (F.col("wa") == F.col("wb"))
        & (F.col("source_a") < F.col("source_b")),
    ).select(
        "source_a",
        "source_b",
        jsd_term(F.col("pa"), F.col("pb")).alias("term"),
    )
    oa = oov.select(
        F.col("source").alias("source_a"), F.col("p").alias("pa")
    )
    ob = oov.select(
        F.col("source").alias("source_b"), F.col("p").alias("pb")
    )
    oov_terms = oa.join(
        ob, F.col("source_a") < F.col("source_b")
    ).select(
        "source_a",
        "source_b",
        jsd_term(F.col("pa"), F.col("pb")).alias("term"),
    )
    return (
        in_terms.unionAll(oov_terms)
        .groupBy("source_a", "source_b")
        .agg(
            F.round(1000000.0 * F.sum("term"))
            .cast("long")
            .alias("jsd_micro")
        )
    )


# --------------------------------------------------------------------
# Skip-gram PMI pairs (SGNS training-prep collocation mining).
# --------------------------------------------------------------------
_SG_WINDOW = 2  # skip-gram window (offsets 1..2)
_SG_MIN = 5  # minimum pair count
_SG_TOP = 50


@register(
    "skipgram_pmi_pairs",
    f"""
    WITH doc AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), uni AS (
      SELECT unnest(ws) AS w FROM doc
    ), n_tok AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni
    ), c1 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM uni GROUP BY w
    ), pairs AS (
      SELECT ws[i] AS a, ws[i + k] AS b
      FROM doc,
           unnest(range(1, len(ws) + 1)) AS u(i),
           unnest(range(1, {_SG_WINDOW + 1})) AS v(k)
      WHERE i + k <= len(ws)
    ), n_pairs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np FROM pairs
    ), pc AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM pairs GROUP BY a, b
      HAVING COUNT(*) >= {_SG_MIN}
    ), scored AS (
      SELECT pc.a, pc.b, pc.c_ab,
             CAST(round(1000000.0 * ln(
               (CAST(pc.c_ab AS DOUBLE) / (SELECT np FROM n_pairs))
               / ((CAST(ca.cnt AS DOUBLE) / (SELECT n FROM n_tok))
                  * (CAST(cb.cnt AS DOUBLE) / (SELECT n FROM n_tok)))
             )) AS BIGINT) AS pmi_micro
      FROM pc
      JOIN c1 ca ON ca.w = pc.a
      JOIN c1 cb ON cb.w = pc.b
    )
    SELECT a, b, c_ab, pmi_micro FROM scored
    ORDER BY pmi_micro DESC, a, b LIMIT {_SG_TOP}
    """,
    tags=("llm", "text", "collocation", "embedding-prep"),
)
def skipgram_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram collocation mining with pointwise mutual information
    (the SGNS/word2vec training-prep statistic; Church & Hanks 1990):
    ordered token pairs within a ±{W}-token window are counted, and
    PMI = ln(P(a,b)/(P(a)·P(b))) ranks the pairs whose co-occurrence
    beats the unigram-independence baseline — the table behind
    phrase detection ("new york"-style merges) and SGNS shifted-PMI
    analysis (Levy & Goldberg 2014). Pairs under {M} occurrences are
    dropped (PMI's low-count pathology); top-{K} returned. All
    counts exact integers; one ln per surviving pair, micro-rounded.

    Scale shape: position×offset explode is row-local ({W} pairs per
    token); pair counts are one map-side-combined groupBy on the
    pair key with a HAVING that prunes the long tail map-side; the
    PMI join touches only surviving pairs × the unigram table.
    TakeOrdered top-{K} finishes — no global sort. The two
    normalizer scalars never touch the explodes: n_tok folds the
    vocab-bounded unigram table (sum of counts == token total) and
    n_pairs is the CLOSED FORM of the window fan-out — a doc of L
    tokens emits sum_(k=1..min(W,L-1)) (L-k) ordered pairs, so one
    cheap size() pass replaces a second full pair materialization
    (this query previously exploded the corpus four times: unigrams
    and pairs twice each, once per normalizer).
    """
    d = t(spark, sf_dir, "documents")
    doc = d.select("doc_id", words("text").alias("ws"))
    ws = F.col("ws")
    uni = doc.select(F.explode(ws).alias("w"))
    # persisted: THREE branches read the unigram table (both PMI
    # join sides and the token-total fold) — without the cache each
    # re-runs the corpus scan + token explode; the cache is one row
    # per VOCAB TERM, tiny at any corpus size
    c1 = (
        uni.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist()
    )
    n_tok = c1.agg(F.sum("cnt").cast("long").alias("n"))
    # pairs-per-doc closed form: m = clamp(min(W, L-1), >=0) offsets
    # contribute m*L - m(m+1)/2 ordered pairs — exact twin of the
    # explode below for every L including 0 and L <= W
    L = F.size(ws).cast("long")
    m = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(_SG_WINDOW).cast("long"), L - 1),
    )
    n_pairs = doc.select(
        (m * L - (m * (m + 1)) / F.lit(2)).cast("long").alias("d_pairs")
    ).agg(F.coalesce(F.sum("d_pairs"), F.lit(0)).cast("long").alias("np"))
    pair_struct = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ws)),
            lambda i: F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(_SG_WINDOW)),
                    lambda k: F.when(
                        i + k <= F.size(ws),
                        F.struct(
                            F.element_at(ws, i).alias("a"),
                            F.element_at(ws, i + k).alias("b"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        )
    )
    pairs = doc.select(F.explode(pair_struct).alias("p")).select(
        "p.a", "p.b"
    )
    pc = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= _SG_MIN)
    )
    scored = (
        pc.join(
            c1.select(F.col("w").alias("a"), F.col("cnt").alias("ca")),
            "a",
        )
        .join(
            c1.select(F.col("w").alias("b"), F.col("cnt").alias("cb")),
            "b",
        )
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                1000000.0
                * F.log(
                    (F.col("c_ab").cast("double") / F.col("np"))
                    / (
                        (F.col("ca").cast("double") / F.col("n"))
                        * (F.col("cb").cast("double") / F.col("n"))
                    )
                )
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), "a", "b"
    ).limit(_SG_TOP)


skipgram_pmi_pairs.__doc__ = (
    skipgram_pmi_pairs.__doc__
    .replace("{W}", str(_SG_WINDOW))
    .replace("{M}", str(_SG_MIN))
    .replace("{K}", str(_SG_TOP))
)


@register(
    "flesch_reading_ease_by_source",
    f"""
    WITH d AS (
      SELECT source,
             CAST(len({SQL_WORDS}) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS n_sents,
             CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[aeiouy]+'))
                  AS BIGINT) AS n_syll
      FROM documents
    ), g AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS words,
             CAST(SUM(n_sents) AS BIGINT) AS sents,
             CAST(SUM(n_syll) AS BIGINT) AS sylls
      FROM d GROUP BY source
    )
    SELECT source, n_docs, words, sents, sylls,
           CAST(round(1000.0 * (206.835
             - 1.015 * (CAST(words AS DOUBLE) / sents)
             - 84.6 * (CAST(sylls AS DOUBLE) / words))) AS BIGINT)
             AS fre_milli
    FROM g ORDER BY source
    """,
    tags=("llm", "text", "quality"),
)
def flesch_reading_ease_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Flesch reading ease (Flesch 1948): 206.835 − 1.015·(words/
    sentence) − 84.6·(syllables/word), aggregated per source from
    EXACT integer word/sentence/syllable counts (corpus-level FRE =
    the formula on the summed counts). Syllables use the standard
    vowel-group heuristic (runs of [aeiouy]); sentences count
    [.!?]+ runs with a floor of 1 per document. A cheap, classic
    readability gate to sit beside the Gopher repetition rules and
    the C4/FineWeb composite filter in a curation pipeline.

    Scale shape: three row-local regexp counts inside whole-stage
    codegen, then one map-side-combined groupBy(source) — the only
    shuffle carries per-source partial counts, never text.
    """
    d = t(spark, sf_dir, "documents")
    counts = d.select(
        "source",
        F.size(words("text")).cast("long").alias("n_words"),
        F.greatest(
            F.lit(1), F.regexp_count("text", F.lit(r"[.!?]+"))
        )
        .cast("long")
        .alias("n_sents"),
        F.regexp_count(ascii_fold("text"), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("n_syll"),
    )
    g = counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("words"),
        F.sum("n_sents").cast("long").alias("sents"),
        F.sum("n_syll").cast("long").alias("sylls"),
    )
    return g.select(
        "source",
        "n_docs",
        "words",
        "sents",
        "sylls",
        F.round(
            1000.0
            * (
                F.lit(206.835)
                - 1.015 * (F.col("words").cast("double") / F.col("sents"))
                - 84.6 * (F.col("sylls").cast("double") / F.col("words"))
            )
        )
        .cast("long")
        .alias("fre_milli"),
    )


_FW_A = "src0"
_FW_B = "src1"
_FW_ALPHA = 500.0  # Dirichlet prior strength (pseudo-token mass)
_FW_MIN = 5  # min combined count for a term to be scored
_FW_TOP = 10


@register(
    "fightin_words_terms",
    f"""
    WITH tok AS (
      SELECT source, unnest({SQL_WORDS}) AS w
      FROM documents WHERE source IN ('{_FW_A}', '{_FW_B}')
    ), c AS (
      SELECT w,
             CAST(SUM(CASE WHEN source = '{_FW_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ya,
             CAST(SUM(CASE WHEN source = '{_FW_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS yb
      FROM tok GROUP BY w
    ), tot AS (
      SELECT CAST(SUM(ya) AS BIGINT) AS na,
             CAST(SUM(yb) AS BIGINT) AS nb
      FROM c
    ), scored AS (
      SELECT c.w, c.ya, c.yb,
             ln((c.ya + {_FW_ALPHA} * (c.ya + c.yb)
                   / (tot.na + tot.nb))
                / (tot.na + {_FW_ALPHA}
                   - c.ya - {_FW_ALPHA} * (c.ya + c.yb)
                     / (tot.na + tot.nb)))
             - ln((c.yb + {_FW_ALPHA} * (c.ya + c.yb)
                     / (tot.na + tot.nb))
                  / (tot.nb + {_FW_ALPHA}
                     - c.yb - {_FW_ALPHA} * (c.ya + c.yb)
                       / (tot.na + tot.nb))) AS delta,
             1.0 / (c.ya + {_FW_ALPHA} * (c.ya + c.yb)
                    / (tot.na + tot.nb))
             + 1.0 / (c.yb + {_FW_ALPHA} * (c.ya + c.yb)
                      / (tot.na + tot.nb)) AS var
      FROM c, tot
      WHERE c.ya + c.yb >= {_FW_MIN}
    )
    SELECT w, ya, yb,
           CAST(round(1000000.0 * delta / sqrt(var)) AS BIGINT)
             AS z_micro
    FROM scored
    ORDER BY delta / sqrt(var) DESC, w
    LIMIT {_FW_TOP}
    """,
    tags=("llm", "text", "contrastive"),
    order=("z_micro DESC", "w"),
    sort="body",
)
def fightin_words_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Fightin' words" (Monroe, Colaresi & Quinn 2008): log-odds
    ratio of each term between two sources with an informative
    Dirichlet prior drawn from the pooled corpus (prior mass
    alpha·p_w), z-scored by the delta's approximate variance
    1/(y_a+a_w) + 1/(y_b+a_w) — the top-{K} terms that most
    distinguish {A} from {B} without the rare-word noise raw
    frequency diffs produce. Counts are exact integers; the
    log-odds algebra is the one double chain, identical op-for-op.

    Scale shape: explode + map-side-combined groupBy(term) collapses
    the corpus to vocabulary size; the 1-row total is broadcast; the
    top-k is a TakeOrdered, never a global sort of the vocab.
    """
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("source").isin(_FW_A, _FW_B))
    )
    tok = d.select("source", F.explode(words("text")).alias("w"))
    c = tok.groupBy("w").agg(
        F.sum(F.when(F.col("source") == _FW_A, 1).otherwise(0))
        .cast("long")
        .alias("ya"),
        F.sum(F.when(F.col("source") == _FW_B, 1).otherwise(0))
        .cast("long")
        .alias("yb"),
    )
    tot = c.agg(
        F.sum("ya").cast("long").alias("na"),
        F.sum("yb").cast("long").alias("nb"),
    )
    j = c.filter(F.col("ya") + F.col("yb") >= _FW_MIN).crossJoin(
        F.broadcast(tot)
    )
    aw = (
        _FW_ALPHA
        * (F.col("ya") + F.col("yb"))
        / (F.col("na") + F.col("nb"))
    )
    delta = F.log(
        (F.col("ya") + aw)
        / (F.col("na") + _FW_ALPHA - F.col("ya") - aw)
    ) - F.log(
        (F.col("yb") + aw)
        / (F.col("nb") + _FW_ALPHA - F.col("yb") - aw)
    )
    var = 1.0 / (F.col("ya") + aw) + 1.0 / (F.col("yb") + aw)
    z = delta / F.sqrt(var)
    return (
        j.select(
            "w",
            "ya",
            "yb",
            z.alias("z"),
        )
        .orderBy(F.col("z").desc(), "w")
        .limit(_FW_TOP)
        .select(
            "w",
            "ya",
            "yb",
            F.round(1000000.0 * F.col("z")).cast("long").alias("z_micro"),
        )
    )


fightin_words_terms.__doc__ = (
    fightin_words_terms.__doc__.replace("{K}", str(_FW_TOP))
    .replace("{A}", _FW_A)
    .replace("{B}", _FW_B)
)


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


# ------------------------------------------------------------------
# Cohen's kappa of the marker-word language classifier.
# ------------------------------------------------------------------
@register(
    "cohens_kappa_langid",
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
      SELECT actual AS k FROM cm UNION
      SELECT predicted AS k FROM cm
    ), marg AS (
      SELECT c.k,
             CAST(COALESCE((SELECT SUM(n) FROM cm WHERE actual = c.k),
                           0) AS BIGINT) AS row_n,
             CAST(COALESCE((SELECT SUM(n) FROM cm
                            WHERE predicted = c.k), 0) AS BIGINT)
               AS col_n
      FROM classes c
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN actual = predicted THEN n ELSE 0 END)
                  AS BIGINT) AS agree
      FROM cm
    ), pe AS (
      SELECT CAST(SUM(CAST(row_n AS HUGEINT) * col_n) AS HUGEINT)
               AS chance_num
      FROM marg
    )
    SELECT tot.nn AS n_docs, tot.agree,
           CAST(round(1000000.0 * tot.agree / tot.nn) AS BIGINT)
             AS po_micro,
           CAST(round(1000000.0 * CAST(pe.chance_num AS DOUBLE)
                      / (CAST(tot.nn AS DOUBLE) * tot.nn)) AS BIGINT)
             AS pe_micro,
           CAST(round(1000000.0
             * (CAST(tot.agree AS DOUBLE) / tot.nn
                - CAST(pe.chance_num AS DOUBLE)
                  / (CAST(tot.nn AS DOUBLE) * tot.nn))
             / (1.0 - CAST(pe.chance_num AS DOUBLE)
                / (CAST(tot.nn AS DOUBLE) * tot.nn))) AS BIGINT)
             AS kappa_micro
    FROM tot, pe
    """,
    tags=("text", "langid", "agreement"),
)
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between the declared language label
    and the marker-word classifier (same predictor as
    `langid_confusion_matrix`, deterministic de<en<es<fr tie-break,
    'und' when no marker hits): kappa = (p_o − p_e)/(1 − p_e) with
    chance agreement p_e = Σ_k row_k·col_k / N² over the UNION of
    actual and predicted classes (so never-predicted labels like 'zh'
    and never-true labels like 'und' contribute zero chance mass, as
    the definition requires). Marginal products are DECIMAL-wide
    exact integers; the kappa algebra is one row-local double chain.

    Scale shape: one explode-free row-local score per doc, one
    map-side-combined groupBy over the ≤36-cell confusion matrix,
    and algebra on class-bounded summaries — the corpus is scanned
    once.
    """
    d = t(spark, sf_dir, "documents").select(
        "lang", words("text").alias("ws")
    )

    pred, _ = lang_id(F.col("ws"))
    # ≤36-cell confusion matrix feeding FIVE branches (classes ×2,
    # rows, cols, tot) — persist so the corpus is scanned once
    cm = (
        d.select(F.col("lang").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    ).persist()
    classes = (
        cm.select(F.col("actual").alias("k"))
        .union(cm.select(F.col("predicted").alias("k")))
        .distinct()
    )
    rows = cm.groupBy(F.col("actual").alias("k")).agg(
        F.sum("n").cast("long").alias("row_n")
    )
    cols = cm.groupBy(F.col("predicted").alias("k")).agg(
        F.sum("n").cast("long").alias("col_n")
    )
    marg = (
        classes.join(rows, "k", "left")
        .join(cols, "k", "left")
        .select(
            F.coalesce(F.col("row_n"), F.lit(0)).alias("row_n"),
            F.coalesce(F.col("col_n"), F.lit(0)).alias("col_n"),
        )
    )
    pe = marg.agg(
        F.sum(
            F.col("row_n").cast("decimal(38,0)") * F.col("col_n")
        ).alias("chance_num")
    )
    tot = cm.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(
            F.when(F.col("actual") == F.col("predicted"), F.col("n"))
            .otherwise(0)
        )
        .cast("long")
        .alias("agree"),
    )
    po = F.col("agree").cast("double") / F.col("nn")
    pe_d = F.col("chance_num").cast("double") / (
        F.col("nn").cast("double") * F.col("nn")
    )
    return tot.crossJoin(F.broadcast(pe)).select(
        F.col("nn").alias("n_docs"),
        "agree",
        F.round(1000000.0 * po).cast("long").alias("po_micro"),
        F.round(1000000.0 * pe_d).cast("long").alias("pe_micro"),
        F.round(1000000.0 * (po - pe_d) / (1.0 - pe_d))
        .cast("long")
        .alias("kappa_micro"),
    )


# ------------------------------------------------------------------
# Bigram mutual information / conditional entropy.
# ------------------------------------------------------------------
@register(
    "bigram_mutual_information",
    f"""
    WITH doc AS (
      SELECT {SQL_WORDS} AS ws FROM documents
    ), bg AS (
      SELECT ws[i] AS v, ws[i+1] AS w
      FROM doc, unnest(range(1, len(ws))) AS u(i)
    ), c AS (
      SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c_vw
      FROM bg GROUP BY v, w
    ), vm AS (
      SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v FROM c GROUP BY v
    ), wm AS (
      SELECT w, CAST(SUM(c_vw) AS BIGINT) AS c_w FROM c GROUP BY w
    ), tot AS (
      SELECT CAST(SUM(c_vw) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c
    ), terms AS (
      SELECT c.c_vw,
             CAST(round(1000000.0 * ln(
               CAST(c.c_vw AS DOUBLE) * tot.nn
               / (CAST(vm.c_v AS DOUBLE) * wm.c_w))) AS BIGINT)
               AS mi_lt,
             CAST(round(1000000.0 * ln(
               CAST(c.c_vw AS DOUBLE) / vm.c_v)) AS BIGINT) AS cond_lt
      FROM c
      JOIN vm ON vm.v = c.v
      JOIN wm ON wm.w = c.w
      CROSS JOIN tot
    ), went AS (
      SELECT CAST(SUM(CAST(CAST(round(1000000.0 * ln(
               CAST(wm.c_w AS DOUBLE) / tot.nn)) AS BIGINT)
               AS HUGEINT) * wm.c_w) AS HUGEINT) AS h_w_num
      FROM wm CROSS JOIN tot
    ), acc AS (
      SELECT CAST(SUM(CAST(mi_lt AS HUGEINT) * c_vw) AS HUGEINT)
               AS mi_num,
             CAST(SUM(CAST(cond_lt AS HUGEINT) * c_vw) AS HUGEINT)
               AS cond_num
      FROM terms
    )
    SELECT tot.nn AS n_bigrams, tot.n_types,
           CAST(round(-CAST(went.h_w_num AS DOUBLE) / tot.nn)
                AS BIGINT) AS h_w_micro,
           CAST(round(-CAST(acc.cond_num AS DOUBLE) / tot.nn)
                AS BIGINT) AS h_w_given_v_micro,
           CAST(round(CAST(acc.mi_num AS DOUBLE) / tot.nn)
                AS BIGINT) AS mi_micro
    FROM tot, acc, went
    """,
    tags=("llm", "corpus", "information"),
)
def bigram_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus information measures over the bigram distribution
    (Shannon 1948): the continuation entropy H(W) = −Σ p(w)·ln p(w),
    the conditional entropy H(W|V) = −Σ p(v,w)·ln p(w|v) (the
    entropy RATE a bigram LM can reach), and the mutual information
    I(V;W) = Σ p(v,w)·ln(p(v,w)/(p(v)p(w))) — how many nats one
    token of context buys. Each per-TYPE log factor is quantized to
    integer micro-nats and multiplied by the EXACT integer count
    (quantize-the-log, weight-exactly — the order-independent
    discipline; quantizing the weighted product instead would
    overflow int64 at corpus scale), then summed as DECIMAL.

    Scale shape: one corpus scan to the bigram-type table, marginal
    aggs OF that table joined back by vocabulary-bounded equi-joins,
    and 1-row totals — the `kneser_ney_bigram_probs` plan family.
    """
    d = t(spark, sf_dir, "documents").select(words("text").alias("ws"))
    idx = F.when(
        F.size("ws") >= 2, F.sequence(F.lit(1), F.size("ws") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = d.select(F.explode(idx).alias("i"), F.col("ws")).select(
        F.element_at("ws", F.col("i")).alias("v"),
        F.element_at("ws", F.col("i") + 1).alias("w"),
    )
    # the bigram-type table feeds FOUR branches (vm, wm, tot, joined);
    # persist it so the corpus scan + explode + groupBy run once, not
    # once per branch (round-5 plan audit: 7 scans / 22 exchanges)
    c = bg.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c_vw")
    ).persist()
    vm = c.groupBy("v").agg(F.sum("c_vw").cast("long").alias("c_v"))
    wm = c.groupBy("w").agg(F.sum("c_vw").cast("long").alias("c_w"))
    tot = c.agg(
        F.sum("c_vw").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    joined = (
        c.join(vm, "v").join(wm, "w").crossJoin(F.broadcast(tot))
    )
    mi_lt = F.round(
        1000000.0
        * F.log(
            F.col("c_vw").cast("double")
            * F.col("nn")
            / (F.col("c_v").cast("double") * F.col("c_w"))
        )
    ).cast("long")
    cond_lt = F.round(
        1000000.0
        * F.log(F.col("c_vw").cast("double") / F.col("c_v"))
    ).cast("long")
    acc = joined.select(
        (mi_lt.cast("decimal(38,0)") * F.col("c_vw")).alias("mi_t"),
        (cond_lt.cast("decimal(38,0)") * F.col("c_vw")).alias("cond_t"),
    ).agg(
        F.sum("mi_t").alias("mi_num"),
        F.sum("cond_t").alias("cond_num"),
    )
    w_lt = F.round(
        1000000.0
        * F.log(F.col("c_w").cast("double") / F.col("nn"))
    ).cast("long")
    went = (
        wm.crossJoin(F.broadcast(tot))
        .select((w_lt.cast("decimal(38,0)") * F.col("c_w")).alias("t"))
        .agg(F.sum("t").alias("h_w_num"))
    )
    return (
        tot.crossJoin(F.broadcast(acc))
        .crossJoin(F.broadcast(went))
        .select(
            F.col("nn").alias("n_bigrams"),
            "n_types",
            F.round(-F.col("h_w_num").cast("double") / F.col("nn"))
            .cast("long")
            .alias("h_w_micro"),
            F.round(-F.col("cond_num").cast("double") / F.col("nn"))
            .cast("long")
            .alias("h_w_given_v_micro"),
            F.round(F.col("mi_num").cast("double") / F.col("nn"))
            .cast("long")
            .alias("mi_micro"),
        )
    )


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

    pred, _ = lang_id(F.col("ws"))
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


# --------------------------------------------------------------------
# BPE-style vocabulary induction (one merge round of pair counts).
# --------------------------------------------------------------------
@register(
    "bpe_pair_counts_top50",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), w AS (
      SELECT unnest(ws) AS word FROM d
    ), pairs AS (
      SELECT substring(word, i, 2) AS pair
      FROM w, unnest(range(1, len(word))) AS t(i)
      WHERE len(word) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
    tags=("llm", "tokenizer"),
)
def bpe_pair_counts_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of BPE vocabulary induction: count every adjacent
    character pair across the corpus and rank the top 50 merge
    candidates — the inner loop of tokenizer training, expressed as
    explode + grouped count.

    Scale shape: pair generation is row-local (sequence+transform,
    no Python); the count shuffles once on the pair key (≤ alphabet²
    distinct keys, heavily combined map-side); top-50 is
    TakeOrderedAndProject.
    """
    d = t(spark, sf_dir, "documents").select(words(F.col("text")).alias("ws"))
    w = d.select(F.explode("ws").alias("word")).filter(F.length("word") >= 2)
    # substring with a dynamic start needs expr(): substring(word, i, 2)
    pairs = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(50)
    )
