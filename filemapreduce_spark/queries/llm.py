"""LLM training-data pipeline queries (SURVEY.md §2 Part B, north-star
extensions): deduplication (exact, MinHash-LSH, SimHash, n-gram
Jaccard), similarity search (brute-force + IVF), text analysis
(tokens, quality, language-ID, fingerprints), multimodal columns.

All hashing is MD5 over explicit strings so every operator has an
exact DuckDB oracle twin; similarity values are rounded to 6 decimals
(both engines fold element-wise in index order — verified empirically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import (
    LANG_MARKERS,
    ascii_fold,
    STOPWORDS,
    TOKEN_REGEX,
    fingerprint,
    minhash_band_keys,
    minhash_signature,
    simhash_bands,
    simhash_from_words_expr,
    token_count_regex,
    word_shingles,
    words,
)
from filemapreduce_spark.operators.vectors import (
    cosine_topk,
    dot,
    ivf_topk,
    norm,
    to_double,
)
from filemapreduce_spark.operators.output import one_part_sorted, tiny_sorted
from filemapreduce_spark.queries import register
from filemapreduce_spark.queries.relational import t

# DuckDB fragments mirroring operators.textops
_SQL_WORDS = "list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')"
_SQL_SHINGLES3 = (
    "list_distinct(list_transform(range(1, len(ws)-1),"
    " i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))"
)
_SQL_SHINGLES2 = (
    "list_distinct(list_transform(range(1, len(ws)),"
    " i -> ws[i] || ' ' || ws[i+1]))"
)


# --------------------------------------------------------------------
# Exact deduplication.
# --------------------------------------------------------------------
@register(
    "dedup_exact_by_source",
    """
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))) AS n_unique,
           COUNT(*) - COUNT(DISTINCT md5(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))) AS n_dups
    FROM documents GROUP BY source ORDER BY source
    """,
    tags=("dedup", "llm"),
)
def dedup_exact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (hash) dedup accounting per source — the groupBy-on-digest
    pattern that scales to any corpus (shuffle on a 128-bit key)."""
    d = t(spark, sf_dir, "documents")
    h = F.md5(ascii_fold("text"))
    return one_part_sorted(
        # one_part_sorted, not tiny_sorted: countDistinct's final agg
        # stage reads one row per distinct digest (data-sized) —
        # coalesce(1) would serialize that stage; the repartition(1)
        # exchange keeps it parallel and ships only #sources rows
        # (0.22→0.14 s vs orderBy's sampling pass at sf0.1)
        d.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(h).alias("n_unique"),
            (F.count("*") - F.countDistinct(h)).alias("n_dups"),
        ),
        "source",
    )


@register(
    "dedup_keep_first_by_key",
    """
    SELECT lang, n_chars // 100 AS size_bucket,
           MIN(doc_id) AS kept_doc_id, COUNT(*) AS group_size
    FROM documents GROUP BY lang, n_chars // 100
    ORDER BY lang, size_bucket
    """,
    tags=("dedup", "llm"),
)
def dedup_keep_first_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup over a derived key (min-id winner per group) —
    the deterministic representative-selection pattern."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "lang", F.expr("n_chars div 100").alias("size_bucket")
        )
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count("*").alias("group_size"),
        )
        .orderBy("lang", "size_bucket")
    )


# --------------------------------------------------------------------
# MinHash + LSH near-dedup.
# --------------------------------------------------------------------
_MINHASH_ORACLE = """
    WITH d AS (
      SELECT doc_id, {words} AS ws FROM documents
    ), d2 AS (
      SELECT doc_id, {shingles} AS shingles FROM d WHERE len(ws) >= 3
    ), sh AS (
      SELECT doc_id, unnest(shingles) AS s FROM d2
    ), sig AS (
      SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || s)) AS h
      FROM sh CROSS JOIN (SELECT unnest(range(8)) AS j)
      GROUP BY doc_id, j
    ), bandkeys AS (
      SELECT doc_id, j // 2 AS band, string_agg(h, '' ORDER BY j) AS key
      FROM sig GROUP BY doc_id, j // 2
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandkeys a JOIN bandkeys b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE) / (na.n + nb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (na.n + nb.n - i.n_common) >= 0.2
    ORDER BY doc_a, doc_b
""".format(words=_SQL_WORDS, shingles=_SQL_SHINGLES3)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles): distinct 3-word shingles of every document
    with at least 3 words — the MinHash-LSH family's input."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("ws")
    )
    return d.filter(F.size("ws") >= 3).select(
        "doc_id", word_shingles(F.col("ws"), 3).alias("shingles")
    )


@register(
    "neardup_minhash_lsh",
    _MINHASH_ORACLE,
    tags=("dedup", "minhash", "lsh", "llm"),
)
def neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH near-dup: shingle → minhash → banded (4 bands ×
    2 rows) bucket self-join → exact-Jaccard verify (≥ 0.2).

    Scale shape: the signature is computed *per row* with
    transform/array_min — zero shuffles before candidate generation
    (vs. the naive explode(8×shingles)+groupBy plan, which shuffles
    8·N·S hash rows). Candidate generation is then one shuffle on
    (band, band-key) — never an O(N²) cross join; a candidate needs
    TWO minhashes equal (one full band), so buckets stay small on
    non-duplicate corpora. The exact verify joins the (few) candidate
    pairs back to per-doc shingle arrays and uses array_intersect
    row-locally — it only ever touches candidate pairs. Only the
    signature is cached; the verify recomputes the arrays from the
    documents scan rather than pin O(corpus shingles) in memory.
    """
    d2 = _doc_shingles(spark, sf_dir)
    # per-row signature: sig[j] = min over shingles of md5(j ':' s).
    # The one cache: (doc_id, sig), 8 × 16 bytes per doc. Both band
    # self-join sides read it; without it the shingling + 8×md5 would
    # run once per side. The shingle arrays are NOT cached: they are
    # O(corpus shingles), and only the verify reads them.
    sig = d2.select(
        "doc_id", minhash_signature(F.col("shingles"), 8).alias("sig")
    ).persist()
    # no eager count: plan construction (EXPLAIN, plan audits) stays
    # lazy; the cache fills on the first real action and later branches
    # read the cached partitions
    bands = minhash_band_keys(sig, "doc_id")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact verify: join candidates to shingle arrays recomputed row by
    # row from the documents scan (one exchange, which AQE reuses for
    # the second side), intersect row-locally
    sa = d2.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = d2.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        verified.filter(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "neardup_jaccard_exact",
    """
    WITH d AS (
      SELECT doc_id, {words} AS ws FROM documents
    ), d2 AS (
      SELECT doc_id, {shingles} AS shingles FROM d WHERE len(ws) >= 3
    ), sh AS (
      SELECT doc_id, unnest(shingles) AS s FROM d2
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           round(CAST(i.n_common AS DOUBLE) / (na.n + nb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE i.n_common >= 3
    ORDER BY doc_a, doc_b
    """.format(words=_SQL_WORDS, shingles=_SQL_SHINGLES3),
    tags=("dedup", "jaccard", "llm"),
)
def neardup_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard via inverted-index self-join (pairs sharing
    ≥3 shingles) — the shuffle-based exact twin of the LSH path."""
    d = t(spark, sf_dir, "documents").select("doc_id", words("text").alias("ws"))
    d2 = d.filter(F.size("ws") >= 3).select(
        "doc_id", word_shingles(F.col("ws"), 3).alias("shingles")
    )
    # Persist the ARRAY-level frame, then explode from the cache.
    # Two reasons: (a) three plan branches read the shingles (both
    # self-join sides + the size table); (b) explode with the shingle
    # construction inline as the generator child is pathologically
    # slow (measured 15.7s vs 0.3s from a cached array column —
    # Generate evaluates outside whole-stage codegen).
    arr = d2.persist()
    sh = arr.select("doc_id", F.explode("shingles").alias("s"))
    sizes = arr.select("doc_id", F.size("shingles").alias("n"))
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("s"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("s"))
    inter = (
        x.join(y, ["s"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 3)
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------
# SimHash (60-bit, LSH-banded pair generation).
# --------------------------------------------------------------------
_H60_TERMS = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(w),{k},1))-1)*{16 ** (15 - k)}"
    for k in range(1, 16)
)

_SIMHASH_SQL_BASE = f"""
    WITH d AS (
      -- no fingerprint without text (r9 text-null probe: the
      -- oracle's unnest(NULL) dropped the doc while Spark emitted a
      -- signature row for it)
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
      WHERE text IS NOT NULL
    ), w AS (
      SELECT DISTINCT doc_id, unnest(ws) AS w FROM d
    ), h AS (
      SELECT doc_id, w, {_H60_TERMS} AS h60
      FROM w
    ), bits AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h60 >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS i)
      GROUP BY doc_id, i
    ), sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
"""


def _spark_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no fingerprint without text (see _SIMHASH_SQL_BASE note), and no
    # fingerprint without TOKENS either: an empty-string document has
    # ws = [] — the oracle's unnest([]) drops it while the per-row
    # fold emitted signature 0 for it (r10 unicode axis, the ''-vs-
    # NULL payload). A token-less doc has no content to near-dup.
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", words("text").alias("ws"))
        .where(F.size("ws") >= 1)
    )
    return d.select("doc_id", simhash_from_words_expr("ws").alias("simhash"))


@register(
    "simhash_signatures",
    _SIMHASH_SQL_BASE + "SELECT doc_id, simhash FROM sig ORDER BY doc_id",
    tags=("dedup", "simhash", "llm"),
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (integer-exact, oracle-matched)."""
    return _spark_simhash(spark, sf_dir).orderBy("doc_id")


@register(
    "simhash_neardup_pairs",
    _SIMHASH_SQL_BASE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "simhash", "lsh", "llm"),
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (Hamming ≤ 3) via banded LSH.

    The signature is split into 4 × 15-bit bands; by pigeonhole any
    pair within Hamming 3 shares at least one full band, so the
    equi-join on (band, value) finds EXACTLY the pairs the oracle's
    full O(N²) enumeration finds — while Spark only shuffles on band
    buckets (linear in N for non-duplicate corpora).

    The signature table is persisted before the self-join: it's O(N)
    tiny (doc_id + one BIGINT), both join sides read it from cache
    instead of re-hashing every document, and the materialized size
    lets AQE pick the join strategy from real stats.
    """
    sig = _spark_simhash(spark, sf_dir).persist()
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(simhash_bands(F.col("simhash"))).alias("band", "bval"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("ha"),
        "band",
        "bval",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("hb"),
        "band",
        "bval",
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------
# Similarity search over embeddings.
# --------------------------------------------------------------------
_COSINE_EXPR = """
    round(
      list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * ce[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * qe[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> ce[i]::DOUBLE * ce[i]::DOUBLE)))),
      6)
"""


@register(
    "similarity_bruteforce_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id, {_COSINE_EXPR} AS cos
      FROM q CROSS JOIN c WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, rank FROM ranked
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
    tags=("similarity", "ann", "llm"),
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors (the exact
    baseline an ANN index is measured against)."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, q, k=5).select(
        "query_id", "neighbor_id", "cos", "rank"
    ).orderBy("query_id", "rank")


@register(
    "similarity_ivf_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS cell, embedding AS qe
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, label AS cell, embedding AS ce FROM embeddings
    ), scored AS (
      SELECT q.query_id, c.neighbor_id, c.cell, {_COSINE_EXPR} AS cos
      FROM q JOIN c USING (cell) WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cell, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(cell AS INT) AS cell, cos, rank FROM ranked
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
    tags=("similarity", "ann", "ivf", "llm"),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cell (here the
    precomputed ``label`` partition) — the partition-pruned scale
    path."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, q, k=5).select(
        "query_id",
        "neighbor_id",
        F.col("cell").cast("int").alias("cell"),
        "cos",
        "rank",
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------
# Text analysis.
# --------------------------------------------------------------------
@register(
    "text_stats_by_source",
    f"""
    WITH d AS (
      SELECT source, {_SQL_WORDS} AS ws, length(text) AS nc FROM documents
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
        .orderBy("source")
    )


_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "quality_scores",
    f"""
    WITH d AS (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
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
    ).orderBy("doc_id")


_LANG_CASES = []
for _lang in sorted(LANG_MARKERS):
    _markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[_lang])
    _LANG_CASES.append(
        f"len(list_filter(ws, w -> w IN ({_markers}))) AS s_{_lang}"
    )
_LANG_SCORE_SQL = ", ".join(_LANG_CASES)


@register(
    "lang_id_heuristic",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {_SQL_WORDS} AS ws FROM documents
    ), s AS (
      SELECT doc_id, lang, {_LANG_SCORE_SQL} FROM d
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
    def marker_hits(markers: tuple[str, ...]):
        # single-arg lambda (a 2-arg lambda would receive the element
        # index as its second argument)
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
    return d.select(
        "doc_id",
        pred.alias("predicted"),
        best.cast("long").alias("score"),
        F.when(pred == F.col("lang"), 1).otherwise(0).alias("is_match"),
    ).orderBy("doc_id")


@register(
    "token_count_bpe_ish",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{TOKEN_REGEX}')) AS BIGINT) AS n_bpe_tokens,
           CAST(len({_SQL_WORDS}) AS BIGINT) AS n_ws_tokens
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
    ).orderBy("doc_id")


@register(
    "doc_fingerprints",
    f"""
    WITH d AS (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
    ), d2 AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 5 THEN
               list_distinct(list_transform(range(1, len(ws)-3),
                 i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]))
             ELSE [] END AS sh5
      FROM d
    )
    SELECT doc_id,
           COALESCE(list_min(list_transform(sh5, s -> md5(s))), 'NONE') AS fp
    FROM d2 ORDER BY doc_id
    """,
    tags=("text", "fingerprint", "llm"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: min-hash over 5-gram
    shingles ('NONE' for tiny docs)."""
    d = t(spark, sf_dir, "documents").select("doc_id", words("text").alias("ws"))
    sh5 = word_shingles(F.col("ws"), 5)
    return d.select(
        "doc_id", F.coalesce(fingerprint(sh5), F.lit("NONE")).alias("fp")
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# Embedding-cosine near-duplicate detection.
# --------------------------------------------------------------------
@register(
    "neardup_embedding_cosine",
    f"""
    WITH q AS (
      SELECT vec_id AS id_a, label, embedding AS qe FROM embeddings
    ), c AS (
      SELECT vec_id AS id_b, label, embedding AS ce FROM embeddings
    )
    SELECT id_a, id_b, cos FROM (
      SELECT id_a, id_b, {_COSINE_EXPR} AS cos
      FROM q JOIN c ON q.label = c.label AND id_a < id_b
    ) WHERE cos >= 0.3
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "embedding", "ann", "llm"),
)
def neardup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs in the same coarse cell with
    cosine ≥ 0.3 (IVF-style blocking, then exact verify).

    Scale shape: candidate pairs are generated only WITHIN a cell
    (equi-join on the cell id — one shuffle, no O(N²) cross join);
    the cosine is a JVM-side zip_with/aggregate fold per candidate.
    At 100 TB the cell id comes from a k-means coarse quantizer and
    skewed cells get salted; the plan shape is unchanged.
    """
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("_v")
    )
    # norm computed ONCE per vector (row-local), not once per pair —
    # same arithmetic as dot/(sqrt(dot aa)*sqrt(dot bb)), so the
    # rounded value still hash-matches the oracle
    emb = emb.withColumn("_n", norm(F.col("_v"))).persist()
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        "label",
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        "label",
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------
# Approximate aggregates (sketches) + their exact twins.
# --------------------------------------------------------------------
@register(
    "exact_quantiles_events",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "quantile"),
)
def exact_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count + interpolated percentiles per event type —
    the exact twins the approximate sketches are graded against."""
    e = t(spark, sf_dir, "events")
    # distinct-count and percentiles aggregate SEPARATELY: combining
    # them makes Catalyst expand every row for the distinct rewrite
    # and drag the percentile buffers through the expanded stream —
    # two lean aggs are faster (re-measured round 5: combined single
    # agg 0.55 s vs the split form 0.32 s at sf0.1, paired min-of-4;
    # re-confirmed round 8: 0.34-0.36 s combined). The branches meet
    # by UNION + first(ignorenulls) re-agg rather than a broadcast
    # join: same values, but no broadcast-materialization job per
    # action (round-7 paired min-of-5 at sf0.1: join 0.42-0.52 s,
    # union 0.35-0.42 s). The three percentiles are ONE array-form
    # percentile (shared sort buffer, one pass) instead of three
    # scalar calls with three buffers over the same rows — round-8
    # paired min-of-5, both orders: array 0.217 s vs scalar 0.30-0.35.
    nd = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.lit(None).cast("array<double>").alias("ps"),
    )
    pct = e.groupBy("event_type").agg(
        F.lit(None).cast("long").alias("n_users"),
        F.percentile(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
        ).alias("ps"),
    )
    merged = (
        nd.unionByName(pct)
        .groupBy("event_type")
        .agg(
            F.first("n_users", ignorenulls=True).alias("n_users"),
            F.first("ps", ignorenulls=True).alias("ps"),
        )
        .select(
            "event_type",
            "n_users",
            F.round(F.element_at("ps", 1), 6).alias("p50"),
            F.round(F.element_at("ps", 2), 6).alias("p90"),
            F.round(F.element_at("ps", 3), 6).alias("p99"),
        )
    )
    # result bounded by the event-type domain -> local tiny sort
    return tiny_sorted(merged, "event_type")


# Percentile-BAND assertion floor: below this many rows per group the
# exact p45/p55 interpolations pinch to (or past) each other while the
# sketch returns an actual data value, so the band contract is vacuous
# noise (the ultra-sparse sweep regime). The `band_checked` output
# column makes the gate VISIBLE to the harness — the oracle asserts
# the same `COUNT(*) >= floor` expression, so a group silently
# slipping under the floor (sketch regression hiding ground) flips a
# hashed value instead of vanishing (round-7 advice item 4).
_PCTL_BAND_MIN_ROWS = 100

@register(
    "approx_aggregates_events",
    f"""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(value) >= {_PCTL_BAND_MIN_ROWS} AS band_checked,
           TRUE AS users_within_5pct,
           TRUE AS p50_in_band,
           TRUE AS p99_in_band
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "approx", "sketch"),
)
def approx_aggregates_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches: HyperLogLog++ distinct counts and
    GK-sketch percentiles — the single-pass, bounded-memory operators
    actually used at 100 TB (exactness traded for no huge shuffle).

    Sketch outputs are engine-specific, so the oracle verifies
    scale-independent accuracy CONTRACTS instead of raw estimates
    (this query was rows-only before): the HLL++ distinct estimate
    within 5% of the exact count, and each approx percentile landing
    inside the exact ±5-percentile band around its target rank. The
    booleans are computed genuinely Spark-side; the oracle asserts
    them alongside the exact distinct count.
    """
    e = t(spark, sf_dir, "events")
    exact_users = F.count_distinct("user_id")
    approx_users = F.approx_count_distinct("user_id", 0.01)
    ap50 = F.percentile_approx("value", F.lit(0.5), F.lit(10000))
    ap99 = F.percentile_approx("value", F.lit(0.99), F.lit(10000))
    return (
        e.groupBy("event_type")
        .agg(
            exact_users.alias("exact_users"),
            # band contracts are asserted only for groups with at
            # least _PCTL_BAND_MIN_ROWS OBSERVED values — count the
            # value column, not rows, so an all-NULL group is the
            # vacuous regime (TRUE) instead of NULL-poisoning the
            # boolean into a pandas object column (r9 null-measures
            # sweep); this column tells the harness WHICH groups were
            # asserted so vacuous truth is hash-visible, not silent
            (F.count("value") >= _PCTL_BAND_MIN_ROWS).alias(
                "band_checked"
            ),
            (
                F.abs(approx_users - exact_users) * 20 <= exact_users
            ).alias("users_within_5pct"),
            (
                (F.count("value") < _PCTL_BAND_MIN_ROWS)
                | ap50.between(
                    F.percentile("value", F.lit(0.45)),
                    F.percentile("value", F.lit(0.55)),
                )
            ).alias("p50_in_band"),
            (
                (F.count("value") < _PCTL_BAND_MIN_ROWS)
                | ap99.between(
                    F.percentile("value", F.lit(0.94)),
                    F.percentile("value", F.lit(1.0)),
                )
            ).alias("p99_in_band"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# Multimodal columns (binary payload + typed metadata).
# --------------------------------------------------------------------
@register(
    "multimodal_blob_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           CASE WHEN n_chars > 300 THEN 'large' ELSE 'small' END AS size_class
    FROM documents ORDER BY doc_id
    """,
    tags=("multimodal", "llm"),
)
def multimodal_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling: payload as bytes + typed metadata
    columns (the schema pattern for image/audio/video at scale)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("content_md5"),
        F.when(F.col("n_chars") > 300, "large").otherwise("small").alias(
            "size_class"
        ),
    ).orderBy("doc_id")


# WAV synthesis parameters, shared by the Spark encoder and the DuckDB
# oracle. PCM sample j of a doc is the int16 with unsigned value
#   raw(doc, j) = (doc_id*7919 + j*104729 + 12345) % 65536
# interleaved over ch channels for n_frames frames.
_WAV_A, _WAV_B, _WAV_C = 7919, 104729, 12345


def parse_wav(doc_id, b):
    """Chunk-walking WAV/RIFF container parse → (n_channels,
    sample_rate, raw PCM data bytes). Shared by the decode/feature
    queries; raises on corrupt containers instead of returning
    garbage."""
    import struct

    if b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError(f"doc {doc_id}: not a RIFF/WAVE payload")
    ch = rate = None
    data = None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + csz]
        if cid == b"fmt ":
            fmt, ch, rate = struct.unpack_from("<HHI", body, 0)
            if fmt != 1:
                raise ValueError(f"doc {doc_id}: not PCM")
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)  # chunks are word-aligned (pad byte)
    if ch is None or data is None:
        raise ValueError(f"doc {doc_id}: missing fmt/data chunk")
    return ch, rate, data


def decode_wav_payload(doc_id, b):
    """WAV parse → feature tuple (shared by the
    multimodal_decode_features stage and its unit tests)."""
    import numpy as np

    ch, rate, data = parse_wav(doc_id, b)
    samples = np.frombuffer(data, dtype="<i2").astype(np.int64)
    ch0 = samples[0::ch]
    ch1 = samples[1::ch] if ch == 2 else np.array([], np.int64)
    return (
        doc_id,
        ch,
        rate,
        len(samples) // ch,
        len(data),
        int(np.frombuffer(b, np.uint8).sum()),
        int(data[0]),
        int(data[1]),
        int(ch0.min()),
        int(ch0.max()),
        int(ch0.sum()),
        int(ch1.sum()) if ch == 2 else 0,
    )


def synth_wav_pdf(pdf):
    """Synthesize one Arrow batch of WAV payloads (RIFF header +
    16-bit LE PCM from the shared integer recurrence) — the binary
    audio corpus both multimodal audio queries decode.

    r12 (guide §4.2): the PCM recurrence is computed for the WHOLE
    batch in one vectorized pass over a concatenated sample index
    (one numpy expression instead of ~5 small numpy calls per doc);
    only the per-container header pack + byte slice stays per doc.
    Byte-identical payloads.
    """
    import struct

    import numpy as np
    import pandas as pd

    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    n = (50 + ids % 77) * (1 + ids % 2)
    off = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n, out=off[1:])
    j = np.arange(off[-1], dtype=np.int64) - np.repeat(off[:-1], n)
    dd = np.repeat(ids, n)
    raw = (dd * _WAV_A + j * _WAV_B + _WAV_C) % 65536
    buf = (raw - 32768).astype("<i2").tobytes()
    payloads = []
    for i, doc_id in enumerate(ids):
        doc_id = int(doc_id)
        ch = 1 + doc_id % 2
        rate = 8000 + (doc_id % 3) * 4000
        pcm = buf[2 * off[i] : 2 * off[i + 1]]
        header = struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + len(pcm), b"WAVE",
            b"fmt ", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16,
            b"data", len(pcm),
        )
        payloads.append(header + pcm)
    return pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _wav_le4(x: str) -> str:
    """DuckDB expr: byte sum of the 4-byte little-endian encoding."""
    return (
        f"(({x}) % 256 + (({x}) // 256) % 256 + (({x}) // 65536) % 256"
        f" + (({x}) // 16777216) % 256)"
    )


@register(
    "multimodal_decode_features",
    f"""
    WITH p AS (
      SELECT doc_id,
             50 + doc_id % 77 AS n_frames,
             1 + doc_id % 2 AS ch,
             8000 + (doc_id % 3) * 4000 AS rate
      FROM documents
    ), s AS (
      SELECT doc_id, n_frames, ch, rate,
             unnest(generate_series(0, n_frames * ch - 1)) AS j
      FROM p
    ), raws AS (
      -- raw is the sample's unsigned residue; the stored int16 is
      -- v = raw - 32768, whose little-endian bytes come from the
      -- two's-complement pattern u = (raw + 32768) % 65536
      SELECT doc_id, n_frames, ch, rate, j,
             (doc_id * {_WAV_A} + j * {_WAV_B} + {_WAV_C}) % 65536 AS raw,
             ((doc_id * {_WAV_A} + j * {_WAV_B} + {_WAV_C}) % 65536
              + 32768) % 65536 AS u
      FROM s
    ), agg AS (
      SELECT doc_id,
             ANY_VALUE(n_frames) AS n_frames,
             ANY_VALUE(ch) AS ch,
             ANY_VALUE(rate) AS rate,
             ANY_VALUE(n_frames * ch * 2) AS data_bytes,
             CAST(SUM(u % 256 + u // 256) AS BIGINT) AS data_sum,
             MIN(CASE WHEN j % ch = 0 THEN raw - 32768 END) AS ch0_min,
             MAX(CASE WHEN j % ch = 0 THEN raw - 32768 END) AS ch0_max,
             CAST(SUM(CASE WHEN j % ch = 0 THEN raw - 32768 ELSE 0 END)
                  AS BIGINT) AS ch0_sum,
             CAST(SUM(CASE WHEN ch = 2 AND j % ch = 1 THEN raw - 32768
                           ELSE 0 END) AS BIGINT) AS ch1_sum,
             MIN(CASE WHEN j = 0 THEN u % 256 END) AS first_lo,
             MIN(CASE WHEN j = 0 THEN u // 256 END) AS first_hi
      FROM raws GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(ch AS BIGINT) AS n_channels,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(data_bytes AS BIGINT) AS data_bytes,
           CAST(1371
                + {_wav_le4('36 + data_bytes')}
                + 16 + 1 + ch
                + {_wav_le4('rate')}
                + {_wav_le4('rate * ch * 2')}
                + ch * 2 + 16
                + {_wav_le4('data_bytes')}
                + data_sum AS BIGINT) AS byte_sum,
           CAST(first_lo AS BIGINT) AS first_lo,
           CAST(first_hi AS BIGINT) AS first_hi,
           CAST(ch0_min AS BIGINT) AS ch0_min,
           CAST(ch0_max AS BIGINT) AS ch0_max,
           ch0_sum, ch1_sum
    FROM agg ORDER BY doc_id
    """,
    tags=("multimodal", "llm"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode, end to end and REAL: a binary audio column
    is synthesized as genuine WAV containers (RIFF header + 16-bit LE
    PCM, 1-2 interleaved channels, per-doc sample rate), then a
    chunk-walking stdlib parser — not a fixed-offset peek — recovers
    the format fields and computes per-channel sample statistics, all
    Arrow-batched through mapInPandas.

    The DuckDB oracle re-derives EVERY byte independently: PCM samples
    from the shared integer recurrence, and the whole-payload byte sum
    from the little-endian byte decomposition of each header field —
    so an encoder/decoder pair that agreed on a wrong layout (swapped
    endianness, shifted offsets) still fails the hash. first_lo/
    first_hi probe the first data bytes positionally.

    Scale shape: both stages are per-row Arrow batches (no shuffle
    until the final presentation sort); a production decoder for real
    audio swaps only the parser body. Parity with the reference's
    LoaderFunc stage (jobs.go:31-42 — bytes in, typed rows out).
    """
    import struct

    import numpy as np
    import pandas as pd

    d = t(spark, sf_dir, "documents").select("doc_id")

    def synth_batches(batches):
        for pdf in batches:
            yield synth_wav_pdf(pdf)

    def decode_batches(batches):
        for pdf in batches:
            rows = [
                decode_wav_payload(doc_id, b)
                for doc_id, b in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_channels", "sample_rate", "n_frames",
                    "data_bytes", "byte_sum", "first_lo", "first_hi",
                    "ch0_min", "ch0_max", "ch0_sum", "ch1_sum",
                ],
            )

    schema = (
        "doc_id long, n_channels long, sample_rate long, n_frames long, "
        "data_bytes long, byte_sum long, first_lo long, first_hi long, "
        "ch0_min long, ch0_max long, ch0_sum long, ch1_sum long"
    )
    return (
        d.mapInPandas(
            lambda batches: decode_batches(synth_batches(batches)),
            schema=schema,
        )
        .orderBy("doc_id")
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
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# End-to-end dedup decision: survivors after near-dup removal.
# --------------------------------------------------------------------
_SURVIVOR_ORACLE = """
    WITH d AS (
      SELECT doc_id, {words} AS ws FROM documents
    ), d2 AS (
      SELECT doc_id, {shingles} AS shingles FROM d WHERE len(ws) >= 3
    ), sh AS (
      SELECT doc_id, unnest(shingles) AS s FROM d2
    ), sig AS (
      SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || s)) AS h
      FROM sh CROSS JOIN (SELECT unnest(range(8)) AS j)
      GROUP BY doc_id, j
    ), bandkeys AS (
      SELECT doc_id, j // 2 AS band, string_agg(h, '' ORDER BY j) AS key
      FROM sig GROUP BY doc_id, j // 2
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandkeys a JOIN bandkeys b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN d2 x ON x.doc_id = c.doc_a
      JOIN d2 y ON y.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
            / (len(x.shingles) + len(y.shingles)
               - len(list_intersect(x.shingles, y.shingles))) >= 0.2
    )
    SELECT doc_id, source FROM documents
    WHERE doc_id NOT IN (SELECT doc_b FROM verified)
    ORDER BY doc_id
""".format(words=_SQL_WORDS, shingles=_SQL_SHINGLES3)


def _lsh_class_graph(
    spark: SparkSession, sf_dir: str, dedup_cand: bool = True
):
    """Content-collapsed LSH near-dup machinery shared by the
    survivors and clusters queries (round 11): collapse docs with
    IDENTICAL shingle arrays into classes FIRST, then run the banded
    bucket join over one representative per class.

    Why: on a duplicate-saturated corpus (the regime a 100 TB crawl
    lives in — the r11 dup_fixture makes 90% of docs one of 5
    payloads) a duplicate class of n docs shares every band key, so a
    doc-level candidate join materializes Θ(n²) intermediate pairs
    even when the consumer's output is linear (survivors, clusters).
    Collapsing first is the exact-dedup-before-near-dedup discipline
    (Lee et al. 2022): the pair machinery then runs over DISTINCT
    contents only — the class graph has ~5 nodes where the doc graph
    had 450² /2 candidate edges. At a real SF the collapse keys on a
    content digest; here it groups the exact shingle array, so the
    equivalence is literal, not probabilistic.

    Exactness (vs the per-doc oracle): shingles are DISTINCT
    (word_shingles), so two docs in one class have Jaccard 1 ≥ any
    threshold — every non-representative member is always dropped by
    its own representative; and for distinct classes A != B with reps
    r_A < r_B, a doc-level candidate (a, b), a < b, exists iff the
    classes share a band key, with J(a, b) = J(r_A, r_B) — so the
    doc-level verified relation is fully determined by the class
    graph plus member ids.

    The collapse (r12) is a window min over (xxhash64(sh), sh) — one
    shuffle gives every member its class rep IN PLACE, with the raw
    array in the partition key so class identity is EXACT content
    equality (no digest exposure at all). This replaces the r11
    md5(to_json(sh)) digest groupBy + doc-level join-back, which paid
    a JSON serialization + md5 per document row, a second exchange
    for the join-back, and a 32-char string class key; the window
    form keys every downstream join/aggregate on the BIGINT rep.
    Trade recorded: the window ships each member's shingle payload
    through the one collapse exchange (no map-side collapse), where
    the digest groupBy shipped ~1 payload per class per map partition
    plus every member's digest through the join-back — comparable
    bytes, one fewer corpus-sized exchange, and measured faster on
    BOTH the clean bench (0.38→0.28 s warm at sf0.1) and the
    dup-saturated fixture (0.35→0.18 s).

    One cache: the collapsed frame (doc_id, rep, csize, sig), sig
    set on representatives only. doc_cls and both band self-join
    sides read it; without it each would re-run the words → shingles
    → window pass over the corpus. It pins O(docs) narrow rows plus
    one 128-byte signature per distinct content, and no shingle
    arrays: the verify recomputes the reps' arrays row by row from
    the documents scan and intersects them for candidate class pairs
    only. Trade recorded: that recompute is one more words → shingles
    pass over the corpus, measured at +0.3 to +0.6 s warm for
    dedup_survivors_minhash at sf0.1 on 4 cores, against 15.5 → 1.1
    MB cached.

    Returns (doc_cls, verified):
      doc_cls: (doc_id, rep, csize) for shingle-eligible docs;
      verified: (rep_a, rep_b, jaccard) class pairs, rep_a < rep_b,
                sharing >= 1 LSH band with exact Jaccard >= 0.2
                (jaccard rounded to 6 dp, the pair query's output
                precision — every member pair of the two classes has
                exactly this value). With dedup_cand=False the same
                pair may appear once per shared band (consumers whose
                aggregation is duplicate-insensitive — min() — skip
                the distinct exchange).
    """
    sh = _doc_shingles(spark, sf_dir)
    # xxhash64 prefix so the collapse exchange hashes/sorts on a cheap
    # scalar first and only equal-hash rows compare arrays
    elig = sh.withColumn("h", F.xxhash64("shingles"))
    w0 = Window.partitionBy("h", "shingles")
    # the signature is computed in the collapse pass itself, once per
    # class (members get NULL), so the shingle arrays never reach the
    # cache
    cls = (
        elig.select(
            "doc_id",
            F.min("doc_id").over(w0).alias("rep"),
            F.count(F.lit(1)).over(w0).alias("csize"),
            "shingles",
        )
        .select(
            "doc_id",
            "rep",
            "csize",
            F.when(
                F.col("doc_id") == F.col("rep"),
                minhash_signature(F.col("shingles"), 8),
            ).alias("sig"),
        )
        .persist()
    )
    doc_cls = cls.select("doc_id", "rep", "csize")
    bands = minhash_band_keys(
        cls.where(F.col("doc_id") == F.col("rep")).select("rep", "sig"), "rep"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.rep") < F.col("b.rep")),
    ).select(F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b"))
    if dedup_cand:
        cand = cand.distinct()
    # a rep is a document: the verify recomputes its shingles from the
    # documents scan
    ca = sh.select(F.col("doc_id").alias("rep_a"), F.col("shingles").alias("sh_a"))
    cb = sh.select(F.col("doc_id").alias("rep_b"), F.col("shingles").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - n_common
    )
    verified = (
        cand.join(ca, "rep_a")
        .join(cb, "rep_b")
        .filter(jac >= 0.2)
        .select("rep_a", "rep_b", F.round(jac, 6).alias("jaccard"))
    )
    return doc_cls, verified


@register(
    "dedup_survivors_minhash",
    # CONTRACT NOTE (r12): the Spark result is an unordered SET — the
    # ORDER BY in the oracle twin is presentational; the harness
    # compares order-insensitively.
    _SURVIVOR_ORACLE,
    tags=("dedup", "minhash", "llm"),
)
def dedup_survivors_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual dedup OUTPUT: the corpus after removing every doc
    that near-duplicates (Jaccard ≥ 0.2) a smaller-id doc — keep-first
    greedy policy, the decision a training pipeline materializes.
    Transitive chains resolve greedily (a<b<c: b and c both drop) —
    declared policy, same in the oracle.

    Scale shape (rewritten round 11): runs over the content-collapsed
    class graph (_lsh_class_graph) instead of the doc-level pair set —
    on a duplicate-saturated corpus the old shape materialized
    Θ(class²) verified pairs to derive a LINEAR output. Here a doc b
    in class B is dropped iff it is a non-representative (its own rep
    r_B < b has Jaccard 1) or some verified-adjacent class A has
    r_A < b; survivors fall out of one linear join-back against the
    bounded class graph — no doc-level pair is ever materialized.
    """
    # r12: dedup_cand=False — the only aggregation below is min(),
    # which is duplicate-insensitive, so the candidate-distinct
    # exchange is skipped
    doc_cls, verified = _lsh_class_graph(
        spark, sf_dir, dedup_cand=False
    )
    # min adjacent rep per class, adjacency made symmetric: doc b in
    # class B is cross-dropped iff min_adj(B) < b (a member of the
    # adjacent class smaller than b exists iff its rep is smaller).
    # Both directions come from ONE pass over the verified pairs via
    # explode (r12): the former union of vp with its swapped self
    # re-executed the whole band-join + verify subtree twice.
    thr = (
        verified.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("rep_b").alias("rep"),
                        F.col("rep_a").alias("adj"),
                    ),
                    F.struct(
                        F.col("rep_a").alias("rep"),
                        F.col("rep_b").alias("adj"),
                    ),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.rep").alias("rep"))
        .agg(F.min("e.adj").alias("min_adj"))
    )
    dropped = (
        doc_cls.join(thr, "rep", "left")
        .filter(
            (F.col("doc_id") > F.col("rep"))
            | (F.col("min_adj") < F.col("doc_id"))
        )
        .select("doc_id")
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    # the class-graph cache stays persisted until the harness
    # clearCache()/the consumer's cache_scope() — the returned plan
    # references it lazily. No presentation orderBy (r12): the output
    # is one row per surviving DOCUMENT — the range-exchange boundary
    # sampling of a global sort re-executes the anti-join pipeline
    # (result SET unchanged; the oracle twin keeps its ORDER BY; the
    # harness compares order-insensitively).
    return docs.join(dropped, "doc_id", "left_anti")


# --------------------------------------------------------------------
# IVF multi-probe ANN: learned centroids + 2-cell probing.
# --------------------------------------------------------------------
_CENT_COS = """
    round(
      list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * cvec[i]))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * qe[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> cvec[i] * cvec[i])))),
      6)
"""


@register(
    "similarity_ivf_probe2",
    f"""
    WITH comp AS (
      SELECT label, i,
             CAST(SUM(CAST(round(list_extract(embedding, i) * 1000000) AS BIGINT))
                  AS DOUBLE) / COUNT(*) AS m
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      GROUP BY label, i
    ), cent AS (
      SELECT label, array_agg(m ORDER BY i) AS cvec FROM comp GROUP BY label
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10
    ), probe AS (
      SELECT query_id, label, crnk FROM (
        SELECT q.query_id, cent.label,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {_CENT_COS} DESC, cent.label) AS crnk
        FROM q CROSS JOIN cent
      ) WHERE crnk <= 2
    ), cand AS (
      SELECT p.query_id, e.vec_id AS neighbor_id, e.label AS cell, qe,
             e.embedding AS ce
      FROM probe p
      JOIN embeddings e ON e.label = p.label
      JOIN q ON q.query_id = p.query_id
      WHERE e.vec_id != p.query_id
    ), scored AS (
      SELECT query_id, neighbor_id, cell, {_COSINE_EXPR} AS cos FROM cand
    )
    SELECT query_id, neighbor_id, cell, cos, rank FROM (
      SELECT query_id, neighbor_id, cell, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
    tags=("similarity", "ann", "ivf", "llm"),
)
def similarity_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with LEARNED centroids and multi-probe: per-cell
    centroids are element-wise means (computed from exact scaled-
    integer sums, so both engines derive identical doubles), each
    query probes its 2 nearest cells by centroid cosine, and only
    those cells' vectors are scored.

    Scale shape: centroids are a tiny aggregate (cells × dims)
    broadcast to rank cells per query; candidate scoring touches
    ~2/K of the corpus via the cell equi-join (K cells) — the IVF
    recall/cost dial is nprobe, not corpus size. At 100 TB the
    centroids come from k-means and this plan is unchanged.
    """
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("_v")
    ).withColumn(
        # r11: corpus-side norm once per VECTOR — the candidate pass
        # used to fold norm(_v) per (query, candidate) pair
        "_n", norm(F.col("_v"))
    ).persist()  # three consumers: centroid sums, query slice, cells
    # exact element-wise centroid: per (label, pos) integer-sum of
    # round(x*1e6) → one deterministic double per component. The
    # posexplode is row-local and partial aggregation collapses it
    # map-side, so only #cells×64 rows cross the exchange; a 64-
    # column groupBy(label) variant was A/B-tested round 7 and lost
    # ~20% (the 64-expression agg falls out of tight codegen).
    comp = (
        emb.select("label", F.posexplode("_v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("x") * 1e6).cast("long")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "label", "pos", (F.col("s").cast("double") / F.col("n")).alias("m")
        )
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda st: st["m"],
        ).alias("cvec")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("_v").alias("_qv")
    )
    qcos = F.round(
        dot(F.col("_qv"), F.col("cvec"))
        / (norm(F.col("_qv")) * norm(F.col("cvec"))),
        6,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("label").asc()
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("ccos", qcos)
        .withColumn("crnk", F.row_number().over(wq))
        .filter(F.col("crnk") <= 2)
        .select("query_id", "label", "_qv", norm(F.col("_qv")).alias("_qn"))
    )
    cand = (
        emb.join(F.broadcast(probe), "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("cell"),
            F.round(
                dot(F.col("_qv"), F.col("_v"))
                / (F.col("_qn") * F.col("_n")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------
# Transitive near-dup clusters: iterative connected components.
# --------------------------------------------------------------------
_CLUSTER_ORACLE = _SURVIVOR_ORACLE.replace(
    """
    SELECT doc_id, source FROM documents
    WHERE doc_id NOT IN (SELECT doc_b FROM verified)
    ORDER BY doc_id
""",
    """
    , edges AS (
      SELECT doc_a AS u, doc_b AS v FROM verified
      UNION SELECT doc_b, doc_a FROM verified
    ), nodes AS (
      SELECT DISTINCT u AS doc FROM edges
    ), reach AS (
      WITH RECURSIVE r(doc, root) AS (
        SELECT doc, doc FROM nodes
        UNION
        SELECT e.v, r.root FROM r JOIN edges e ON e.u = r.doc
      ) SELECT * FROM r
    )
    SELECT doc AS doc_id, MIN(root) AS cluster_id FROM reach
    GROUP BY doc ORDER BY doc_id
""",
)


@register(
    "dedup_clusters_minhash",
    _CLUSTER_ORACLE,
    tags=("dedup", "minhash", "iterative", "llm"),
)
def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    LSH-verified near-dup graph via iterative min-label propagation —
    the ITERATIVE distributed algorithm the greedy keep-first policy
    approximates. Oracle: a recursive CTE computing the same
    min-reachable-id per node over the doc-level pair graph.

    Scale shape (rewritten round 11): the iteration runs over the
    content-collapsed CLASS graph (_lsh_class_graph), not doc-level
    pairs — a duplicate class is a clique in the doc graph (every
    member pair has Jaccard 1), so it contracts to ONE node whose
    min-label IS the class rep; the old shape materialized the
    Θ(class²) clique edges first. Member docs rejoin their class's
    component label in one linear pass at the end: a doc is a node
    iff its class has >= 2 members (self-clique) or any verified
    cross-class edge, and its cluster id is the min rep over the
    class component — identical to min-reachable-id over the doc
    graph because reps are class minima. Each iteration is one join +
    groupBy-min over the bounded class graph, localCheckpoint()ed so
    plan depth stays constant (large-star/small-star pattern).
    """
    doc_cls, verified = _lsh_class_graph(spark, sf_dir)
    vp = verified.select("rep_a", "rep_b")
    edges = vp.union(
        vp.select(
            F.col("rep_b").alias("rep_a"), F.col("rep_a").alias("rep_b")
        )
    ).persist()
    labels = (
        edges.select(F.col("rep_a").alias("rep"))
        .distinct()
        .withColumn("label", F.col("rep"))
        .persist()
    )
    for _ in range(20):  # >= diameter of any near-dup class graph here
        neigh = (
            edges.join(labels, edges.rep_a == labels.rep)
            .groupBy(F.col("rep_b").alias("rep"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, "rep", "left")
            .select(
                "rep",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias(
                    "label"
                ),
            )
            # eager materialize + lineage truncation: plan depth stays
            # constant across iterations (vs persist, which caches data
            # but lets the logical plan grow every round)
            .localCheckpoint()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "rep")
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    # member expansion: every doc of a clustered class carries the
    # class component label; an isolated class is a cluster iff it
    # has >= 2 members (its docs form a Jaccard-1 self-clique), with
    # cluster id = its own rep
    # no presentation orderBy (r12): one row per clustered DOCUMENT —
    # the global sort's boundary sampling re-executes the expansion
    # join (result SET unchanged; oracle twin keeps its ORDER BY; the
    # harness compares order-insensitively)
    out = (
        doc_cls.join(labels, "rep", "left")
        .filter(F.col("label").isNotNull() | (F.col("csize") >= 2))
        .select(
            "doc_id",
            F.coalesce("label", "rep").alias("cluster_id"),
        )
    )
    edges.unpersist()
    return out


# --------------------------------------------------------------------
# Corpus word frequencies (the Zipf table).
# --------------------------------------------------------------------
@register(
    "word_frequencies_top100",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS word FROM documents
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
      SELECT doc_id, unnest({_SQL_WORDS}) AS word FROM documents
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
        .orderBy("doc_id")
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
    ).orderBy("doc_id")


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
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# Repetition-based quality scoring (Gopher-style rules).
# --------------------------------------------------------------------
@register(
    "repetition_quality_scores",
    f"""
    WITH d AS (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
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
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap vs a held-out test source.
# --------------------------------------------------------------------
@register(
    "contamination_8gram_overlap",
    f"""
    WITH d AS (
      SELECT doc_id, source, {_SQL_WORDS} AS ws FROM documents
    ), g AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(ws)-6),
               i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '
                    ||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7])))
               AS ng
      FROM d WHERE len(ws) >= 8
    )
    SELECT a.doc_id, COUNT(DISTINCT a.ng) AS n_shared_ngrams,
           COUNT(DISTINCT b.doc_id) AS n_test_docs
    FROM g a JOIN g b ON a.ng = b.ng
    WHERE b.source = 'src0' AND a.source <> 'src0'
    GROUP BY a.doc_id ORDER BY a.doc_id
    """,
    tags=("llm", "dedup", "contamination"),
)
def contamination_8gram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: training docs sharing any 8-gram
    with the held-out 'test' source (src0) — the standard benchmark-
    leak detector run before LLM training. Emits, per contaminated
    training doc, how many distinct 8-grams leak and from how many
    test docs.

    Scale shape: the test side of the join is the benchmark corpus —
    tiny next to 100 TB of training data — so its exploded n-gram set
    is broadcast and the training side streams through map-side
    without a shuffle; only the per-doc count agg shuffles (contaminated
    docs only, a sliver of the corpus).
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", words("text").alias("ws")
    )
    gram8 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 7),
            lambda i: F.array_join(F.slice("ws", i, 8), " "),
        )
    )
    g = d.filter(F.size("ws") >= 8).select(
        "doc_id", "source", F.explode(gram8).alias("ng")
    )
    test = F.broadcast(
        g.filter(F.col("source") == "src0").select(
            F.col("ng").alias("t_ng"), F.col("doc_id").alias("t_doc")
        )
    )
    train = g.filter(F.col("source") != "src0")
    return (
        train.join(test, F.col("ng") == F.col("t_ng"))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("ng").alias("n_shared_ngrams"),
            F.countDistinct("t_doc").alias("n_test_docs"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# Composite quality-filter pipeline (FineWeb/C4-style keep decision).
# --------------------------------------------------------------------
@register(
    "quality_filter_pipeline",
    f"""
    WITH d AS (
      SELECT doc_id, source, {_SQL_WORDS} AS ws FROM documents
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
        .orderBy("source", "keep")
    )


# --------------------------------------------------------------------
# Corpus-internal duplicated n-gram mass per source.
# --------------------------------------------------------------------
@register(
    "dup_ngram_mass_by_source",
    f"""
    WITH d AS (
      SELECT doc_id, source, {_SQL_WORDS} AS ws FROM documents
    ), g AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(ws)-3),
               i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])))
               AS ng
      FROM d WHERE len(ws) >= 5
    ), cnt AS (
      SELECT ng, COUNT(*) AS n_docs FROM g GROUP BY ng
    )
    SELECT g.source,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           round(CAST(SUM(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS shared_frac
    FROM g JOIN cnt ON g.ng = cnt.ng
    GROUP BY g.source ORDER BY g.source
    """,
    tags=("llm", "dedup", "ngram"),
)
def dup_ngram_mass_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal duplication mass: per source, the fraction of
    (doc, distinct 5-gram) occurrences whose gram appears in 2+ docs
    corpus-wide — the aggregate signal dedup dashboards report to
    decide which sources need near-dedup before training.

    Scale shape: one explode → gram-keyed count agg → join back on the
    gram. Both the agg and the join shuffle on the same key, so AQE
    coalesces them onto one exchange; the gram table never needs to
    broadcast (it scales with corpus size).
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", words("text").alias("ws")
    )
    gram5 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 4),
            lambda i: F.array_join(F.slice("ws", i, 5), " "),
        )
    )
    # r11: reduce the gram stream to the compact (ng, source, c) grid
    # once (map-side combined, persisted) — the global-frequency side
    # and the per-source rollup both read the cache instead of each
    # re-running the 5-gram extraction; the frequency join moves grid
    # rows, not raw gram occurrences
    gsrc = (
        d.filter(F.size("ws") >= 5)
        .select("source", F.explode(gram5).alias("ng"))
        .groupBy("ng", "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    cnt = gsrc.groupBy("ng").agg(F.sum("c").alias("n_docs"))
    shared_c = F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(0)
    return (
        gsrc.join(cnt, "ng")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(shared_c).cast("long").alias("n_shared"),
            F.round(
                F.sum(shared_c).cast("double")
                / F.sum("c").cast("double"),
                6,
            ).alias("shared_frac"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# Iterative algorithm: Lloyd k-means over embeddings (driver loop).
# --------------------------------------------------------------------
_KM_K = 4
_KM_ITERS = 2

# DuckDB oracle: the same 2 Lloyd iterations unrolled as CTEs, all in
# round(x*1e6) BIGINT space so every distance/mean is exact integer
# arithmetic in both engines (no float-order nondeterminism).
_KM_ASSIGN = """
  SELECT vec_id, sv,
         CAST(MIN((dist << 2) | cid) % 4 AS BIGINT) AS cid
  FROM (
    SELECT v.vec_id, v.sv, c.cid,
           list_sum(list_transform(range(1, 65),
             i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS dist
    FROM {vecs} v CROSS JOIN {cents} c
  )
  GROUP BY vec_id, sv
"""
_KM_UPDATE = """
  SELECT cid, list(sm ORDER BY i) AS cv FROM (
    SELECT cid, i, CAST(round(SUM(sv[i]) / COUNT(*)) AS BIGINT) AS sm
    FROM {assign}, (SELECT unnest(range(1, 65)) AS i)
    GROUP BY cid, i
  ) GROUP BY cid
"""


@register(
    "kmeans_lloyd_2iter",
    f"""
    WITH vecs AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(x*1000000) AS BIGINT))
               AS sv
      FROM embeddings
    ), c0 AS (
      SELECT vec_id AS cid, sv AS cv FROM vecs WHERE vec_id < {_KM_K}
    ), a1 AS ({_KM_ASSIGN.format(vecs='vecs', cents='c0')}
    ), c1 AS ({_KM_UPDATE.format(assign='a1')}
    ), a2 AS ({_KM_ASSIGN.format(vecs='vecs', cents='c1')}
    )
    SELECT cid, COUNT(*) AS n_members,
           CAST(MIN(vec_id) AS BIGINT) AS min_member
    FROM a2 GROUP BY cid ORDER BY cid
    """,
    tags=("llm", "iterative", "clustering", "embedding"),
)
def kmeans_lloyd_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd k-means (k={_KM_K}, 2 iterations, deterministic
    init = first k vectors) as a driver-side loop of DataFrame stages —
    the canonical Spark shape for iterative ML: broadcast the small
    model state (centroids), recompute assignments distributed, reduce
    to the next model state, repeat. All arithmetic is exact
    (embeddings scaled to BIGINT micro-units) so the unrolled-CTE
    oracle hash-matches.

    Scale shape: per iteration, one broadcast of k×64 integers + one
    map-side assignment pass + one (cid, dim)-keyed agg — the data
    never re-shuffles on cluster id; centroids stay driver-side tiny.
    Ties in the argmin are broken by cluster id via integer key
    packing ((dist << 2) | cid), identically in both engines.
    """
    vecs = (
        t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x * 1000000.0).cast("bigint"),
            ).alias("sv"),
        )
    )
    vecs = vecs.persist()
    centroids = (
        vecs.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").alias("cid"), F.col("sv").alias("cv"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        dist = F.aggregate(
            F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, d: acc + d,
        )
        key = F.shiftleft(dist, 2).bitwiseOR(F.col("cid"))
        return (
            vecs.crossJoin(F.broadcast(cents))
            .select("vec_id", "sv", key.alias("key"))
            .groupBy("vec_id", "sv")
            .agg((F.min("key") % _KM_K).alias("cid"))
        )

    def update(assigned: DataFrame) -> DataFrame:
        return (
            assigned.select(
                "cid", F.posexplode("sv").alias("i", "x")
            )
            .groupBy("cid", "i")
            .agg(
                F.round(F.sum("x") / F.count(F.lit(1)))
                .cast("bigint")
                .alias("sm")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("i", "sm"))
                    ),
                    lambda s: s["sm"],
                ).alias("cv")
            )
        )

    for _ in range(_KM_ITERS - 1):
        # k x d integers: checkpoint is cheap and keeps the per-iteration
        # plan depth constant however many Lloyd rounds run
        centroids = update(assign(centroids)).localCheckpoint()
    final = assign(centroids)
    out = (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("min_member"),
        )
        .orderBy("cid")
    )
    return out


# --------------------------------------------------------------------
# Multimodal frame sampling (video-style binary → sampled frames).
# --------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           md5(substr(text, CAST(i*32 + 1 AS BIGINT), 32)) AS frame_md5
    FROM documents, (SELECT unnest(range(0, 64)) AS i)
    WHERE i % 4 = 0 AND (i + 1) * 32 <= len(text)
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "llm", "udx"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a video-shaped binary column: the payload is
    treated as fixed-width (32-byte) frames; every 4th complete frame
    is extracted by an Arrow-batched ``mapInPandas`` decoder emitting
    (doc_id, frame_idx, frame checksum). A real codec only replaces
    the slice with a decode call — the schema, batch iteration, and
    one-row→many-frames fan-out are the production plumbing, and
    because the fake frames are deterministic byte slices the whole
    path is hash-gated against the SQL oracle (no rows-only waiver).

    Scale shape: sampling is row-local inside the Arrow batch — no
    shuffle, no explode through the JVM; output rows are a strided
    subset so downstream size is len/stride, decided before any heavy
    decode work runs.
    """
    import hashlib

    import pandas as pd

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    FRAME, STRIDE, MAX_FRAMES = 32, 4, 64

    def sample_frames(batches):
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # NULL blob: no frames (a real decoder
                    # skips null payloads; bytes(None) raised —
                    # r9 text-null probe)
                # frame unit is CODE POINTS of the decoded payload
                # (r10 unicode axis): byte-window slicing of multibyte
                # text splits characters mid-sequence and the oracle
                # cannot md5 invalid-UTF-8 byte slices (DuckDB md5 is
                # VARCHAR-only); each frame's checksum is the md5 of
                # the slice's UTF-8 re-encoding on both sides
                t = bytes(payload).decode("utf-8")
                n = min(len(t) // FRAME, MAX_FRAMES)
                for k in range(0, n, STRIDE):
                    ids.append(doc_id)
                    idxs.append(k)
                    sums.append(
                        hashlib.md5(
                            t[k * FRAME:(k + 1) * FRAME].encode("utf-8")
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": sums}
            )

    return d.mapInPandas(
        sample_frames, schema="doc_id long, frame_idx long, frame_md5 string"
    ).orderBy("doc_id", "frame_idx")


# --------------------------------------------------------------------
# LSH quality measurement: recall of banded MinHash vs exact Jaccard.
# --------------------------------------------------------------------
_EXACT_JACCARD_ORACLE = """
    WITH d AS (
      SELECT doc_id, {words} AS ws FROM documents
    ), d2 AS (
      SELECT doc_id, {shingles} AS shingles FROM d WHERE len(ws) >= 3
    ), sh AS (
      SELECT doc_id, unnest(shingles) AS s FROM d2
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE) / (na.n + nb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE i.n_common >= 3
""".format(words=_SQL_WORDS, shingles=_SQL_SHINGLES3)


@register(
    "minhash_lsh_recall",
    f"""
    WITH truth AS (
      SELECT doc_a, doc_b FROM ({_EXACT_JACCARD_ORACLE})
      WHERE jaccard >= 0.5
    ),
    cand AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    found AS (
      SELECT t.doc_a, t.doc_b FROM truth t
      JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM found) AS n_found,
           round(CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
                 / (SELECT COUNT(*) FROM truth), 6) AS recall
    """,
    tags=("dedup", "quality", "llm"),
)
def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded MinHash-LSH candidate generator against
    exact-Jaccard ground truth (pairs with J ≥ 0.5): the quality
    metric that decides band/row tuning before a near-dedup run is
    trusted at scale. Both the approximate and the exact pipelines
    run distributed (this query composes the two registered
    formulations); at 100 TB the exact side runs on a small stratified
    sample while LSH runs on everything — same recall estimator.

    Truth semantics: the SAME support filter as the registered exact
    operator (pairs sharing >= 3 shingles). The r10 unicode fixture's
    4-token payload (2 shingles per doc, J = 1.0 among its copies)
    exposed the oracle's truth CTE missing that filter — 155 phantom
    truth pairs the Spark side (which composes the registered query)
    correctly excluded.
    """
    truth = (
        neardup_jaccard_exact(spark, sf_dir)
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    cand = neardup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    found = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
    return n_truth.crossJoin(n_found).select(
        "n_truth",
        "n_found",
        # try_divide: an empty truth set (degenerate corpus) must give
        # NULL recall like the oracle's 0/0, not an ANSI
        # DIVIDE_BY_ZERO error (found by the round-7 sparse-fixture
        # sweep)
        F.round(
            F.try_divide(F.col("n_found").cast("double"), F.col("n_truth")),
            6,
        ).alias("recall"),
    )


# --------------------------------------------------------------------
# Cross-document duplicated spans with positions (exact substring
# dedup targets, Lee et al. 2022 style).
# --------------------------------------------------------------------
@register(
    "crossdoc_span_dedup",
    f"""
    WITH d AS (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
    ), g AS (
      SELECT doc_id, u.pos AS pos, u.ng AS ng
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws)-6),
                 i -> struct_pack(pos := i,
                   ng := ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]
                     ||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7])))
                 AS u
        FROM d WHERE len(ws) >= 8
      )
    )
    SELECT ng AS span,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occ,
           MIN(doc_id) AS first_doc,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM g
    GROUP BY ng
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occ DESC, span
    LIMIT 20
    """,
    tags=("llm", "dedup", "ngram"),
)
def crossdoc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated substrings ACROSS documents, with positions —
    the actionable output of suffix-array-style training-data dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): each row is an 8-word span that appears in 2+
    distinct docs, with its corpus frequency and a canonical first
    occurrence (min doc, min offset) a span-removal pass would keep.
    Complements dup_ngram_mass_by_source (which only measures the
    aggregate mass): this one names the spans to cut.

    Scale shape: one posexplode per doc (row-local window arithmetic,
    no self-join), then a single span-keyed agg; top-20 compiles to
    TakeOrderedAndProject so only each partition's leaders reach the
    driver. At 100 TB the HAVING n_docs>=2 filter drops the long
    unique tail during the partial agg's merge phase — nothing
    quadratic ever materializes, unlike pairwise dedup formulations.
    Word-position i is 1-based to match the SQL oracle's range().
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("ws")
    )
    spans = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 7),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(F.slice("ws", i, 8), " ").alias("ng"),
        ),
    )
    g = (
        d.filter(F.size("ws") >= 8)
        .select("doc_id", F.explode(spans).alias("u"))
        .select("doc_id", F.col("u.pos").alias("pos"), F.col("u.ng").alias("ng"))
    )
    return (
        g.groupBy("ng")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.col("ng").alias("span"),
            "n_docs",
            "n_occ",
            "first_doc",
            "first_pos",
        )
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "span")
        .limit(20)
    )
