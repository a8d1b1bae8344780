"""Full-text substring search via a character-trigram inverted index
(the pg_trgm / Lucene-wildcard pattern).

A LIKE '%term%' scan reads every byte of every document; the trigram
index turns it into posting-list intersection: index each document's
distinct character trigrams once, decompose the search term into its
trigrams, intersect posting lists (a doc is a candidate iff it holds
ALL the term's trigrams), and verify only candidates with the exact
substring test. Candidate precision is reported per term, which is
the metric that tells you when a trigram set is too common to prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import SQL_WORDS
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_TERMS = ("spark", "window", "customer", "vector")


def _trigrams(term: str) -> list[str]:
    return [term[i : i + 3] for i in range(len(term) - 2)]


def _qtris_sql() -> str:
    """DuckDB VALUES list of (term, tri, n_tris) rows."""
    rows = []
    for term in _TERMS:
        tris = sorted(set(_trigrams(term)))
        for tri in tris:
            rows.append(f"('{term}', '{tri}', {len(tris)})")
    return ", ".join(rows)


@register(
    "trigram_index_search",
    f"""
    WITH folded AS (
      -- fold ONCE per row: an inline translate() in the per-position
      -- lambda re-evaluates per trigram, O(len) per position (r10
      -- perf A/B: 1.6x on the posting build)
      SELECT doc_id, translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS txt FROM documents
    ), postings AS (
      SELECT DISTINCT doc_id, unnest(list_distinct(
               list_transform(range(1, length(txt) - 1),
                              i -> substring(txt, i, 3)))) AS tri
      FROM folded
    ), qtris(term, tri, n_tris) AS (
      VALUES {_qtris_sql()}
    ), cand AS (
      SELECT q.term, p.doc_id
      FROM postings p JOIN qtris q ON q.tri = p.tri
      GROUP BY q.term, p.doc_id, q.n_tris
      HAVING COUNT(DISTINCT p.tri) = q.n_tris
    )
    SELECT c.term,
           COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN instr(d.txt, c.term) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
           CAST(round(1000.0 * SUM(CASE WHEN instr(d.txt, c.term) > 0
                                        THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS precision_milli
    FROM cand c JOIN folded d ON d.doc_id = c.doc_id
    GROUP BY c.term
    ORDER BY c.term
    """,
    tags=("search", "index", "text"),
)
def trigram_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search over a trigram inverted index: index each
    document's distinct character trigrams, intersect posting lists
    for each search term's trigram set (candidate iff the doc holds
    ALL of them), verify candidates with the exact substring test,
    and report per-term candidate count, verified count, and
    candidate precision in milli.

    Scale shape — why an index beats LIKE at 100 TB: the posting
    build is one explode + distinct (map-side-combined, shuffled on
    the trigram key — and built ONCE, amortized over every future
    query); each search intersects only the postings of the term's
    trigrams (broadcast ~10-row term table joined into the posting
    stream), so work is proportional to posting-list length, not
    corpus bytes; the expensive exact verify touches candidates
    only. Rare-trigram-first pruning and per-trigram posting caps
    are the standard refinements; the plan shape is unchanged.
    """
    from filemapreduce_spark.operators.textops import ascii_fold

    # fold ONCE per row (projected column): an inline translate() in
    # the transform lambda re-evaluates per trigram position
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", ascii_fold("text").alias("txt")
    )
    postings = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                # guard: Spark's sequence(1, stop) counts DOWN when
                # stop < 1 (sequence(1,0) = [1,0]), so docs shorter
                # than 3 chars must yield an EMPTY trigram set, not
                # phantom 1-2-char fragments
                F.expr(
                    "CASE WHEN length(txt) >= 3 THEN"
                    " transform(sequence(1, length(txt) - 2),"
                    " i -> substring(txt, i, 3))"
                    " ELSE array() END"
                )
            )
        ).alias("tri"),
    )

    qrows = []
    for term in _TERMS:
        tris = sorted(set(_trigrams(term)))
        for tri in tris:
            qrows.append(
                F.struct(
                    F.lit(term).alias("term"),
                    F.lit(tri).alias("tri"),
                    F.lit(len(tris)).alias("n_tris"),
                )
            )
    qtris = spark.range(1).select(
        F.explode(F.array(*qrows)).alias("q")
    ).select("q.term", "q.tri", "q.n_tris")

    cand = (
        postings.join(F.broadcast(qtris), "tri")
        .groupBy("term", "doc_id", "n_tris")
        .agg(F.countDistinct("tri").alias("hit_tris"))
        .where(F.col("hit_tris") == F.col("n_tris"))
        .select("term", "doc_id")
    )
    verified = F.sum(
        F.when(F.expr("instr(txt, term)") > 0, 1).otherwise(0)
    ).cast("long")
    return (
        cand.join(docs, "doc_id")
        .groupBy("term")
        .agg(
            F.count("*").alias("n_candidates"),
            verified.alias("n_verified"),
            F.round(
                1000.0
                * F.sum(
                    F.when(F.expr("instr(txt, term)") > 0, 1).otherwise(0)
                )
                / F.count("*")
            )
            .cast("long")
            .alias("precision_milli"),
        )
    )


# --------------------------------------------------------------------
# BM25 ranked retrieval over the inverted index.
# --------------------------------------------------------------------
_BM25_TERMS = ("spark", "window", "hash")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


@register(
    "bm25_search_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(CAST(dlen AS DOUBLE)) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('{"', '".join(_BM25_TERMS)}')
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), scored AS (
      SELECT t.doc_id,
             SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (t.tf * ({_BM25_K1} + 1.0))
                 / (t.tf + {_BM25_K1}
                    * (1.0 - {_BM25_B}
                       + {_BM25_B} * l.dlen / s.avgdl))) AS score
      FROM tf t
      JOIN df d ON d.tok = t.tok
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    )
    SELECT doc_id, round(score, 6) AS bm25
    FROM (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id)
               AS rn
      FROM scored
    ) WHERE rn <= {_BM25_TOPK}
    ORDER BY bm25 DESC, doc_id
    """,
    tags=("search", "ranking", "text"),
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson–Spärck Jones, k1=1.2, b=0.75)
    for a fixed 3-term query: classic idf × saturated-tf ×
    length-normalized scoring, top-10 documents — the baseline every
    retrieval system is benchmarked against, and the scoring half the
    trigram index's candidate generation feeds in a real search
    stack.

    Exactness: tf/df/doc-length are exact integers; the score is the
    one float chain (ln + fixed-order arithmetic), rounded to 6 dp
    BEFORE ranking so the rank comparison is on identical values,
    ties by doc_id.

    Scale: ONE corpus scan — per-doc length and the 3 query-term
    frequencies are row-local array ops (no token explode, no
    doc-grained shuffle to rebuild dlen), persisted as a 4-int-per-doc
    summary that every downstream branch (stats, df, scoring) reads;
    df is 3 rows; the corpus stats are one 1-row broadcast. The final
    top-k is WindowGroupLimit/TakeOrdered-pruned — no global sort of
    scores. (Round-5 plan audit counted 4 corpus scans / 11 exchanges
    for the explode-twice shape this replaced.)
    """
    from filemapreduce_spark.operators.textops import words

    # the BM25 corpus is the TOKEN-BEARING documents: the oracle's
    # token explode naturally excludes textless docs from n_docs and
    # avgdl (r9 text-null probe) AND empty-token docs — text='' or
    # whitespace-only (r10 unicode axis) — while an unfiltered count
    # inflated n_docs and shifted every idf
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    per_doc = (
        docs.select(
            "doc_id",
            F.size(words(F.col("text"))).cast("long").alias("dlen"),
            *[
                F.size(
                    F.filter(
                        words(F.col("text")), lambda w: w == F.lit(term)
                    )
                )
                .cast("long")
                .alias(f"tf_{i}")
                for i, term in enumerate(_BM25_TERMS)
            ],
        )
        .where(F.col("dlen") >= 1)
        .persist()
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("dlen").cast("double")).alias("avgdl"),
    )
    stack_expr = "stack({}, {}) AS (tok, tf)".format(
        len(_BM25_TERMS),
        ", ".join(
            f"'{term}', tf_{i}" for i, term in enumerate(_BM25_TERMS)
        ),
    )
    tf = per_doc.select("doc_id", "dlen", F.expr(stack_expr)).where(
        F.col("tf") > 0
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfnorm = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1
        * (1.0 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tfnorm).alias("score"))
    )
    from pyspark.sql import Window

    ranked = scored.select(
        "doc_id", F.round("score", 6).alias("bm25")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
        ),
    )
    return (
        ranked.where(F.col("rn") <= _BM25_TOPK)
        .select("doc_id", "bm25")
    )
