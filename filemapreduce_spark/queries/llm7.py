"""Round-5 LLM/text batch 7: readability scoring and contrastive
term analysis.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Flesch reading ease (Flesch 1948): the words-per-sentence +
  syllables-per-word readability formula — a standard cheap quality
  signal next to the Gopher/C4 rules when curating training text.
- "Fightin' words" log-odds with an informative Dirichlet prior
  (Monroe, Colaresi & Quinn 2008): which terms distinguish corpus A
  from corpus B, z-scored so rare-word noise doesn't dominate — the
  statistically-sound replacement for raw TF-IDF diffs when
  comparing sources/domains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import SQL_WORDS, ascii_fold, words
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


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
