"""Text deduplication: exact and key-based dedup, MinHash-LSH and
SimHash near-duplicates, Jaccard/containment verification, winnowing
and n-gram span fingerprints, fuzzy string pairs, embedding-based
SemDeDup, and record linkage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.lsh import (
    MINHASH_ORACLE,
    doc_shingles,
    lsh_class_graph,
)
from filemapreduce_spark.operators.textops import (
    SQL_SHINGLES3,
    SQL_WORDS,
    ascii_fold,
    fingerprint,
    minhash_band_keys,
    minhash_signature,
    simhash_bands,
    simhash_from_words_expr,
    word_shingles,
    words,
)
from filemapreduce_spark.operators.vectors import SQL_COSINE, dot, norm, to_double
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t
from filemapreduce_spark.sources.tables import table_rowcount


# --------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage (blocked, weighted).
# --------------------------------------------------------------------
# ln(m/u) agreement / ln((1-m)/(1-u)) disagreement weights, fixed
# config constants (name: m=.95 u=.01; balance: m=.9 u=.02;
# segment: m=.9 u=.15), threshold 3.0.
_FS_W = {
    "name": (4.553876891600541, -2.986476964580297),
    "bal": (3.8066624897703196, -2.2823823856765264),
    "seg": (1.791759469228055, -2.1400661634962708),
}
_FS_THRESHOLD = 3.0


@register(
    "fellegi_sunter_entity_match",
    f"""
    WITH base AS (
      SELECT c_custkey AS b_key, c_name AS b_name,
             c_nationkey AS b_nat,
             CAST(round(c_acctbal * 100) AS BIGINT) AS b_bal,
             c_mktsegment AS b_seg
      FROM customer
    ), dirty AS (
      SELECT c_custkey AS d_key,
             CASE WHEN c_custkey % 4 = 0
                  THEN substr(c_name, 1, length(c_name) - 1)
                  ELSE c_name END AS d_name,
             c_nationkey AS d_nat,
             CAST(round(c_acctbal * 100) AS BIGINT)
               + CASE WHEN c_custkey % 5 = 0 THEN 111 ELSE 0 END AS d_bal,
             CASE WHEN c_custkey % 7 = 0 THEN 'PERTURBED'
                  ELSE c_mktsegment END AS d_seg
      FROM customer
    ), pairs AS (
      SELECT b.*, d.*,
             (CASE WHEN b_name = d_name
                   THEN {_FS_W["name"][0]} ELSE {_FS_W["name"][1]} END
              + CASE WHEN b_bal = d_bal
                     THEN {_FS_W["bal"][0]} ELSE {_FS_W["bal"][1]} END
              + CASE WHEN b_seg = d_seg
                     THEN {_FS_W["seg"][0]} ELSE {_FS_W["seg"][1]} END)
               AS score
      FROM base b JOIN dirty d
        ON b.b_nat = d.d_nat
       AND substr(b.b_name, 10, 5) = substr(d.d_name, 10, 5)
    ), flagged AS (
      SELECT b_seg AS segment,
             CASE WHEN score > {_FS_THRESHOLD} THEN 1 ELSE 0 END AS m,
             CASE WHEN b_key = d_key THEN 1 ELSE 0 END AS truth
      FROM pairs
    ), agg AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(m) AS BIGINT) AS n_declared,
             CAST(SUM(m * truth) AS BIGINT) AS tp,
             CAST(SUM(m * (1 - truth)) AS BIGINT) AS fp,
             CAST(SUM(truth) AS BIGINT) AS n_true
      FROM flagged GROUP BY segment
    )
    SELECT segment, n_pairs, n_declared, tp, fp,
           CAST((1000 * tp) // n_true AS BIGINT) AS recall_milli,
           CAST((1000 * tp) // n_declared AS BIGINT) AS precision_milli
    FROM agg ORDER BY segment
    """,
    tags=("mlprep", "dedup", "entity-resolution"),
)
def fellegi_sunter_entity_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter
    1969): match a deterministically-perturbed "dirty" copy of the
    customer table (last-char name truncation on key%4, +1.11 balance
    shift on key%5, segment corruption on key%7) back to the clean
    table. Candidate pairs come from BLOCKING on (nationkey, 5-digit
    name prefix) — the standard quadratic-cost containment — and each
    pair is scored with per-field log-likelihood agreement weights
    ln(m/u) / ln((1−m)/(1−u)); pairs above the threshold are declared
    matches, and the output accounts precision/recall per segment
    against the planted ground truth (same custkey). All counts are
    exact; scores are fixed-literal sums compared identically in both
    engines.

    Scale shape: the block join is a hash equi-join on the blocking
    key — pair count is Σ per-block |b|·|d|, bounded by the blocking
    design, never all-pairs (no cartesian); scoring is row-local
    codegen; one grouped agg finishes. The same shape at any SF —
    the block key's digit prefix widens as keys grow, keeping blocks
    bounded.
    """
    c = t(spark, sf_dir, "customer")
    balc = F.round(F.col("c_acctbal") * 100).cast("long")
    base = c.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_name").alias("b_name"),
        F.col("c_nationkey").alias("b_nat"),
        balc.alias("b_bal"),
        F.col("c_mktsegment").alias("b_seg"),
    )
    dirty = c.select(
        F.col("c_custkey").alias("d_key"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.expr("substr(c_name, 1, length(c_name) - 1)"),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.col("c_nationkey").alias("d_nat"),
        (
            balc
            + F.when(F.col("c_custkey") % 5 == 0, 111).otherwise(0)
        ).alias("d_bal"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
    )
    def w(field, agree):
        a, d = _FS_W[field]
        return F.when(agree, F.lit(a)).otherwise(F.lit(d))

    pairs = base.join(
        dirty,
        (F.col("b_nat") == F.col("d_nat"))
        & (
            F.expr("substr(b_name, 10, 5)")
            == F.expr("substr(d_name, 10, 5)")
        ),
    ).withColumn(
        "score",
        w("name", F.col("b_name") == F.col("d_name"))
        + w("bal", F.col("b_bal") == F.col("d_bal"))
        + w("seg", F.col("b_seg") == F.col("d_seg")),
    )
    m = F.when(F.col("score") > _FS_THRESHOLD, 1).otherwise(0)
    truth = F.when(F.col("b_key") == F.col("d_key"), 1).otherwise(0)
    agg = (
        pairs.select(
            F.col("b_seg").alias("segment"),
            m.alias("m"),
            truth.alias("truth"),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("m").cast("long").alias("n_declared"),
            F.sum(F.col("m") * F.col("truth")).cast("long").alias("tp"),
            F.sum(F.col("m") * (1 - F.col("truth")))
            .cast("long")
            .alias("fp"),
            F.sum("truth").cast("long").alias("n_true"),
        )
    )
    return agg.select(
        "segment",
        "n_pairs",
        "n_declared",
        "tp",
        "fp",
        # zero-guard: a segment with no true pairs / no declared pairs
        # gives DuckDB `// 0` → NULL, but Spark ANSI `div 0` → error
        # (ultra-sparse sweep finding); CASE mirrors the NULL
        F.expr(
            "CAST(CASE WHEN n_true = 0 THEN NULL"
            " ELSE (1000 * tp) div n_true END AS BIGINT)"
        ).alias("recall_milli"),
        F.expr(
            "CAST(CASE WHEN n_declared = 0 THEN NULL"
            " ELSE (1000 * tp) div n_declared END AS BIGINT)"
        ).alias("precision_milli"),
    )


# --------------------------------------------------------------------
# Set-similarity nearest neighbor with prefix filtering (AllPairs).
# --------------------------------------------------------------------
@register(
    "setsim_prefix_filter_top1",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(list_filter(
        regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')) AS w
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isz
      FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), qual AS (
      SELECT doc_a, doc_b, isz, sa.n AS n_a, sb.n AS n_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE 8 * isz >= 3 * (sa.n + sb.n)
    ), both_dirs AS (
      SELECT doc_a AS doc_id, doc_b AS match_id, isz, n_a AS n_self,
             n_b AS n_match FROM qual
      UNION ALL
      SELECT doc_b, doc_a, isz, n_b, n_a FROM qual
    ), ranked AS (
      SELECT doc_id, match_id,
             CAST(isz AS BIGINT) AS intersect_size,
             CAST(n_self AS BIGINT) AS n_self,
             CAST(n_match AS BIGINT) AS n_match,
             (1000 * isz) // (n_self + n_match - isz) AS jaccard_milli,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY (1000 * isz) // (n_self + n_match - isz) DESC,
                        match_id) AS rk
      FROM both_dirs
    )
    SELECT doc_id, match_id, intersect_size, n_self, n_match, jaccard_milli
    FROM ranked WHERE rk = 1
    ORDER BY doc_id
    """,
    tags=("dedup", "similarity", "llm"),
)
def setsim_prefix_filter_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document nearest neighbor at Jaccard >= 0.6 with PREFIX
    FILTERING (Bayardo et al. 2007 'Scaling Up All Pairs Similarity
    Search'; Chaudhuri et al. 2006): tokens are globally ordered by
    ascending document frequency and each document indexes only its
    first ``|s| - ceil(t*|s|) + 1`` tokens — any pair meeting the
    threshold provably shares a prefix token — plus the AllPairs
    LENGTH filter (``t*|a| <= |b| <= |a|/t``), so candidate
    generation touches the rare end of the vocabulary and skips
    size-incompatible pairs outright. Candidates verify with the
    exact integer test ``8*isz >= 3*(n_a+n_b)`` (Jaccard >= 3/5, no
    floats), and each document keeps only its best match
    (jaccard desc, id asc).

    Output is LINEAR in corpus size by construction — the qualifying
    PAIR set on a self-similar corpus is Theta(sum cluster^2) (this
    synthetic corpus: 7.1M pairs at sf0.1 from 5k docs), which no
    pair-emitting formulation can escape; survivors/top-1 is how
    dedup pipelines consume similarity at scale (cf. the minhash
    survivors/clusters operators for the approximate path).

    The oracle is the naive full inverted-index join: prefix+length
    filtering is result-preserving, so both sides produce identical
    nearest neighbors — THAT equality is what the hash check proves.

    Scale posture: ``toks`` is persisted because SIX plan branches
    read it (freq, ordered, sizes, the two verify-join sides) —
    without the cache the tokenize+distinct would re-run per branch.
    No forced broadcasts: ``freq`` (one row per vocab term) and
    ``sizes``/``na``/``nb`` (one row PER DOCUMENT) are unbounded at
    corpus scale, so join strategy is left to Catalyst/AQE — at small
    SF they auto-broadcast under the threshold; at 100 TB they
    shuffle-join instead of OOM-ing the driver with a forced hint.
    """
    toks = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(words("text")).alias("w"))
        .distinct()
        .persist()
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("df"))
    ordered = (
        toks.join(freq, "w")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "w")
            ),
        )
    )
    # persisted: consumed by THREE branches (the prefix build and the
    # n_a/n_b verify joins) — without the cache each branch re-runs
    # the groupBy over the full token stream; the cache is one row
    # per DOCUMENT (not per token), so it stays tiny at corpus scale
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n")).persist()
    with_n = ordered.join(sizes, "doc_id")
    # prefix length for Jaccard t=3/5: n - ceil(t*n) + 1
    # persisted: the candidate self-join reads it as BOTH sides, and
    # the df-ordering window above is a shuffle worth paying once
    prefix = (
        with_n.filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.col("n") * 3 / 5).cast("long") + 1
        )
        .select("doc_id", "w", "n")
        .persist()
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # AllPairs length filter: sizes within a factor of 1/t
            & (F.col("b.n") * 5 >= F.col("a.n") * 3)
            & (F.col("a.n") * 5 >= F.col("b.n") * 3),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pair_inter = (
        cand.join(toks.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(
            toks.alias("tb"),
            (F.col("doc_b") == F.col("tb.doc_id"))
            & (F.col("ta.w") == F.col("tb.w")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("isz"))
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
    )
    qual = (
        pair_inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(8 * F.col("isz") >= 3 * (F.col("n_a") + F.col("n_b")))
    )
    both = qual.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("match_id"),
        "isz",
        F.col("n_a").alias("n_self"),
        F.col("n_b").alias("n_match"),
    ).unionAll(
        qual.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("match_id"),
            "isz",
            F.col("n_b").alias("n_self"),
            F.col("n_a").alias("n_match"),
        )
    )
    jac = F.expr("(1000 * isz) div (n_self + n_match - isz)")
    w_top = Window.partitionBy("doc_id").orderBy(
        jac.desc(), "match_id"
    )
    return (
        both.withColumn("jaccard_milli", jac)
        .withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "match_id",
            F.col("isz").alias("intersect_size"),
            "n_self",
            "n_match",
            "jaccard_milli",
        )
    )


# --------------------------------------------------------------------
# Blocked fuzzy dedup: Levenshtein inside (lang, length-bucket) blocks.
# --------------------------------------------------------------------
@register(
    "fuzzy_pairs_levenshtein",
    """
    WITH d AS (
      SELECT doc_id, lang, n_chars // 32 AS len_bucket,
             regexp_replace(substr(text, 1, 96),
                            '[^\\x00-\\x7f]', chr(127), 'g') AS head
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           levenshtein(a.head, b.head) AS edit_dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 24
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "fuzzy", "llm"),
)
def fuzzy_pairs_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy-duplicate candidate pairs with blocking:
    documents pair only within (lang, length-bucket) blocks, and the
    Levenshtein distance runs on a fixed 96-char head so per-pair cost
    is bounded O(96²) regardless of document length.

    Scale: the self-join shuffles on the blocking key, so pair count
    is Σ block² — the blocking key (language × 32-char length band)
    is what keeps blocks small; at 100 TB add more discriminating
    blocking (e.g. + minhash band) and a per-block pair cap.
    Levenshtein evaluates JVM-side in whole-stage codegen (built-in
    ``F.levenshtein``), never Python.

    Declared distance semantics (round-10 unicode axis): edit
    distance is measured on the ASCII PROJECTION of the head — every
    non-ASCII code point is first replaced by the single placeholder
    \\x7f. Engines disagree on the raw unit (Spark's levenshtein
    counts code points, DuckDB's counts BYTES, so one CJK char is 1
    vs 3 edits); the projection makes byte == code point on both and
    declares all non-ASCII characters one equivalence class for typo
    distance — cross-script fuzzy matching needs a different metric
    anyway.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 32).cast("long").alias("len_bucket"),
        F.regexp_replace(
            F.substring("text", 1, 96), "[^\\x00-\\x7F]", "\x7f"
        ).alias("head"),
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.levenshtein("a.head", "b.head").cast("long").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= 24)
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
    # #sources rows; the countDistinct final agg is data-sized, so a
    # real 1-partition exchange, not coalesce(1), gathers them
    sort="one_part_sorted",
)
def dedup_exact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (hash) dedup accounting per source — the groupBy-on-digest
    pattern that scales to any corpus (shuffle on a 128-bit key)."""
    d = t(spark, sf_dir, "documents")
    h = F.md5(ascii_fold("text"))
    return (
        d.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(h).alias("n_unique"),
            (F.count("*") - F.countDistinct(h)).alias("n_dups"),
        )
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
    )


# --------------------------------------------------------------------
# MinHash + LSH near-dedup.
# --------------------------------------------------------------------
@register(
    "neardup_minhash_lsh",
    MINHASH_ORACLE,
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
    d2 = doc_shingles(spark, sf_dir)
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
    """.format(words=SQL_WORDS, shingles=SQL_SHINGLES3),
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
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
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
    return _spark_simhash(spark, sf_dir)


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
    )


@register(
    "doc_fingerprints",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
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
    )


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
      SELECT id_a, id_b, {SQL_COSINE} AS cos
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
    )


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
""".format(words=SQL_WORDS, shingles=SQL_SHINGLES3)


@register(
    "dedup_survivors_minhash",
    # CONTRACT NOTE (r12): the Spark result is an unordered SET — the
    # ORDER BY in the oracle twin is presentational; the harness
    # compares order-insensitively.
    _SURVIVOR_ORACLE,
    tags=("dedup", "minhash", "llm"),
    order=(),
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
    doc_cls, verified = lsh_class_graph(
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
    order=(),
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
    doc_cls, verified = lsh_class_graph(spark, sf_dir)
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
# Benchmark decontamination: n-gram overlap vs a held-out test source.
# --------------------------------------------------------------------
@register(
    "contamination_8gram_overlap",
    f"""
    WITH d AS (
      SELECT doc_id, source, {SQL_WORDS} AS ws FROM documents
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
    )


# --------------------------------------------------------------------
# Corpus-internal duplicated n-gram mass per source.
# --------------------------------------------------------------------
@register(
    "dup_ngram_mass_by_source",
    f"""
    WITH d AS (
      SELECT doc_id, source, {SQL_WORDS} AS ws FROM documents
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
    )


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
""".format(words=SQL_WORDS, shingles=SQL_SHINGLES3)


@register(
    "minhash_lsh_recall",
    f"""
    WITH truth AS (
      SELECT doc_a, doc_b FROM ({_EXACT_JACCARD_ORACLE})
      WHERE jaccard >= 0.5
    ),
    cand AS (
      SELECT doc_a, doc_b FROM ({MINHASH_ORACLE})
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
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
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


# --------------------------------------------------------------------
# Incremental near-dedup: delta batch vs existing base corpus.
# --------------------------------------------------------------------
@register(
    "neardup_incremental_vs_corpus",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), d2 AS (
      SELECT doc_id, {SQL_SHINGLES3} AS shingles
      FROM d WHERE len(ws) >= 3
    ), sh AS (
      SELECT doc_id, unnest(shingles) AS s FROM d2
    ), sig AS (
      SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || s)) AS h
      FROM sh CROSS JOIN (SELECT unnest(range(8)) AS j)
      GROUP BY doc_id, j
    ), bandkeys AS (
      SELECT doc_id, j // 2 AS band, string_agg(h, '' ORDER BY j) AS key
      FROM sig GROUP BY doc_id, j // 2
    )
    SELECT delta.doc_id AS doc_id,
           COUNT(DISTINCT base.doc_id) AS n_base_matches
    FROM bandkeys delta
    JOIN bandkeys base
      ON base.band = delta.band AND base.key = delta.key
     AND base.doc_id % 10 <> 0
    WHERE delta.doc_id % 10 = 0
    GROUP BY delta.doc_id
    ORDER BY doc_id
    """,
    tags=("dedup", "minhash", "lsh", "llm", "incremental"),
)
def neardup_incremental_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup: flag documents of a NEW batch
    (doc_id % 10 == 0) that band-collide with any document of the
    EXISTING corpus (the other 90%). The join is delta-bands ⨝
    base-bands on (band, key) — the base side is exactly the LSH
    index a production pipeline keeps materialized, so arriving data
    dedups against the full history with one bucket join and zero
    recomputation over the base. Addresses the reference's unused
    incremental-reduce hook (`/root/reference/interfaces.go:55-62`,
    TODO `readme.md:43-44`) for the dedup case.

    Scale shape (rewritten round 11): the bucket join runs over
    content-collapsed CLASSES, not docs — on a duplicate-saturated
    corpus every delta doc of a hot payload collides with every base
    member of its class, so the doc-level join materialized
    Θ(delta·class) collision rows to produce per-delta-doc COUNTS.
    Identical contents have identical band keys, so
    n_base_matches(delta doc in class D) = Σ base-member counts over
    the DISTINCT classes sharing >= 1 band with D (own class
    included), and count_distinct collapses to an exact sum because
    classes partition the docs — one class-level bucket join plus a
    linear member join-back."""
    elig = doc_shingles(spark, sf_dir).withColumn(
        "ckey", F.md5(F.to_json(F.col("shingles")))
    )
    # compact doc -> content-class map, persisted for the delta-side
    # join-back (without it every action re-shingles the corpus for
    # that branch)
    eligk = elig.select("doc_id", "ckey").persist()
    # one row per distinct content: signature + base-side member
    # count, (ckey, base_cnt, sig) only. Persisted: the band build
    # (both self-join sides) and the match-sum join-back read it. The
    # shingle array feeds only the signature, so it is dropped before
    # the cache.
    classes = (
        elig.groupBy("ckey")
        .agg(
            F.first("shingles").alias("shingles"),
            F.sum(F.when(F.col("doc_id") % 10 != 0, 1).otherwise(0))
            .cast("long")
            .alias("base_cnt"),
        )
        .select(
            "ckey", "base_cnt", minhash_signature(F.col("shingles"), 8).alias("sig")
        )
        .persist()
    )
    bands = minhash_band_keys(classes, "ckey")
    a, b = bands.alias("a"), bands.alias("b")
    # distinct class pairs sharing >= 1 band; self-pair included — a
    # delta doc's own class carries its base-side duplicates
    adj = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(F.col("a.ckey").alias("ckey"), F.col("b.ckey").alias("ckey_b"))
        .distinct()
    )
    matches = (
        adj.join(
            classes.select(F.col("ckey").alias("ckey_b"), "base_cnt"),
            "ckey_b",
        )
        .groupBy("ckey")
        .agg(F.sum("base_cnt").cast("long").alias("n_base_matches"))
    )
    delta_docs = eligk.filter(F.col("doc_id") % 10 == 0)
    return (
        delta_docs.join(matches, "ckey")
        .filter(F.col("n_base_matches") > 0)
        .select("doc_id", "n_base_matches")
    )


# --------------------------------------------------------------------
# SemDeDup: semantic dedup via embedding clusters (Abbas et al. 2023).
# --------------------------------------------------------------------
@register(
    "semdedup_cluster_prune",
    # CONTRACT NOTE (r12): the Spark result is an unordered SET — the
    # ORDER BY below is presentational in the oracle twin only; the
    # harness compares order-insensitively (driver_sim/check_oracle
    # sort rows before hashing).
    """
    WITH sv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ), n2 AS (
      SELECT vec_id, v,
             CAST(list_sum(list_transform(range(1, 65), i -> v[i]*v[i]))
                  AS BIGINT) AS nrm2
      FROM sv
    ), kk AS (
      SELECT GREATEST(8, LEAST(1024, COUNT(*) // 64)) AS k FROM sv
    ), cent AS (
      SELECT vec_id AS cid, v AS cv
      FROM sv CROSS JOIN kk WHERE vec_id < kk.k
    ), assign AS (
      SELECT s.vec_id,
             CAST(MIN(CAST(list_sum(list_transform(range(1, 65),
                    i -> (s.v[i]-c.cv[i])*(s.v[i]-c.cv[i]))) AS BIGINT)
                  * 1024 + c.cid) % 1024 AS BIGINT) AS cid
      FROM sv s CROSS JOIN cent c
      GROUP BY s.vec_id
    ), m AS (
      SELECT a.vec_id, a.cid, n.v, n.nrm2
      FROM assign a JOIN n2 n ON n.vec_id = a.vec_id
    ), sim AS (
      SELECT b.vec_id,
             MAX(CAST(list_sum(list_transform(range(1, 65),
                   i -> a.v[i]*b.v[i])) AS BIGINT)
                 / (sqrt(a.nrm2) * sqrt(b.nrm2))) AS max_cos
      FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
      GROUP BY b.vec_id
    )
    SELECT m.vec_id, m.cid,
           COALESCE(CAST(round(sim.max_cos * 1000000) AS BIGINT), -1)
             AS max_sim_micro,
           COALESCE(CAST(round(sim.max_cos * 1000000) AS BIGINT), -1)
             >= 350000 AS is_dup
    FROM m LEFT JOIN sim ON sim.vec_id = m.vec_id
    ORDER BY m.vec_id
    """,
    tags=("llm", "dedup", "embedding", "clustering"),
    order=(),
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then look for semantic duplicates ONLY within
    each cluster — the published trick that turns an O(N²) all-pairs
    cosine dedup into per-cluster blocks. One Lloyd assignment step
    against k=8 deterministic seed centroids (first k vectors),
    then a within-cluster self-join computing max cosine to any
    earlier member; keep-first marks later members above 0.35 as
    semantic dups.

    Exactness: embeddings are scaled to BIGINT micro-units, so
    distances/dots are exact integers; the only float math is the
    final cosine normalize, identical op-for-op in the oracle, and
    the dup decision compares the ROUNDED integer micro-cosine, so
    no FP boundary can flip it.

    Scale shape: centroids broadcast (k×d integers); assignment is a
    map-side fold; the pair stage shuffles on cluster id only, and
    since round 11 it runs over DISTINCT vector values — identical
    embeddings collapse into value classes first (the exact-dedup-
    before-semantic-dedup discipline production SemDeDup pipelines
    apply), so a duplicate-saturated corpus (the r11 dup axis: 90% of
    vectors are 5 values) contributes 5 class nodes to the pair
    stage, not a Θ(class²) member self-join. Every member pair of a
    class pair shares one cosine (same doubles op-for-op), so
    per-member max-cos is a running window MAX over the class pairs
    with rep below the member id — linear in members. k is DERIVED
    from the corpus size (N/64, clamped to [8, 1024] here) so
    per-cluster DISTINCT-content count stays ~constant and the class
    pair stage scales linearly — with fixed k it re-quadraticized at
    10× data (measured: 2.5 s at sf0.1 vs ~0.3 s with scaled k). The
    single driver-side scalar count to pick k is the same pattern as
    k-means' n_nodes. North-star extension (reference surface ends at
    file map/reduce, /root/reference/jobs.go:9-20).

    r12 (guide §4.2): the centroid-distance fold and the per-cluster
    pair cosines — previously interpreted ``aggregate(zip_with(...))``
    HOFs, 64 element-ops per (row, centroid) and per class pair — now
    run as vectorized int64 numpy inside two Arrow stages: one
    ``mapInPandas`` computes every rep's cluster assignment against
    the broadcast centroid matrix (k is config-bounded to [8,1024],
    so the k×64 int64 matrix is a bounded broadcast, same quantized
    values), and one ``applyInPandas`` per cluster computes the class
    gram matrix with a single integer matmul. Arithmetic is
    bit-identical: distances/dots are exact int64 (|dot| ≤ 64·10¹² <
    2⁵³ also makes the float64 conversion exact), and
    cos = dot/(√n_a·√n_b) follows the same IEEE op order as the JVM
    expression. Probe at sf0.1: 0.89 → 0.45 s warm best-of-3
    (cold 1.84 → 0.84); on the tiny dup-saturated fixture the two
    Python stage dispatches cost a fixed ~0.13 s where there is
    almost no fold work to save — the trade is documented in
    OPTIMIZATION_r12.md. Also r12: the persists carry only the
    columns their consumers read (r11 ADVICE — `h` dropped), and the
    final presentation orderBy is gone (the output is one row per
    VECTOR; the range-exchange boundary sampling re-executed the
    window stage — same rationale as proration/geo_radius r11).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    sv = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000.0).cast("long"),
        ).alias("v"),
    )
    k = max(8, min(1024, table_rowcount(spark, sf_dir, "embeddings") // 64))
    # value-class identity: the class MIN vec_id (rep), computed as a
    # window min partitioned by (xxhash64(v), v) — one shuffle gives
    # every member its class in place; v stays in the key, so the
    # class is still EXACT content equality (no digest-collision
    # risk). NULL embeddings form one class (window partitioning
    # groups NULLs together); they keep their output row: cid NULL,
    # max_sim -1 — the embnull axis.
    w0 = Window.partitionBy(F.xxhash64("v"), "v")
    vecs = sv.select(
        "vec_id", F.min("vec_id").over(w0).alias("rep"), "v"
    ).persist()
    # compact member -> class map for the output expansion
    vk = vecs.select("vec_id", F.col("rep").alias("vkey"))
    # centroid matrix: config-bounded (k ≤ 1024 ⇒ ≤ 512 KB of int64),
    # collected once and broadcast — the same bounded-build-side rule
    # a broadcast join applies; the quantization expression is the
    # one the members use, so the integers are identical.
    cent_rows = sv.filter(F.col("vec_id") < k).select("vec_id", "v").collect()
    cent_ids = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
    cent_m = (
        np.array([r["v"] for r in cent_rows], dtype=np.int64)
        if cent_rows
        else np.zeros((0, 64), dtype=np.int64)
    )
    bc = spark.sparkContext.broadcast((cent_ids, cent_m))
    reps = vecs.where(F.col("vec_id") == F.col("rep"))

    def assign_fn(batches):
        ids, m = bc.value
        c2 = (m * m).sum(axis=1) if len(ids) else None
        for pdf in batches:
            if not len(pdf) or len(ids) == 0:
                # empty centroid set -> empty assignment (the
                # oracle's empty CTE): emit nothing
                continue
            out_rows = []
            V = pdf["v"]
            notnull = V.notna().to_numpy()
            # an element-NULL array nulls the whole JVM fold
            # (zip_with product NULL -> aggregate NULL): route those
            # rows with the whole-NULL ones (cid/nrm2 NULL)
            mask = notnull.copy()
            if notnull.any():
                vf = np.array(
                    [np.asarray(x, dtype=np.float64) for x in V[notnull]]
                )
                clean = ~np.isnan(vf).any(axis=1)
                mask[np.where(notnull)[0][~clean]] = False
            if mask.any():
                vm = np.array(list(V[mask]), dtype=np.int64)
                nrm2 = (vm * vm).sum(axis=1)
                # dist(a, c) = |a|² − 2a·c + |c|², exact int64
                d = nrm2[:, None] - 2 * (vm @ m.T) + c2[None, :]
                key = d * 1024 + ids[None, :]
                cid = key.min(axis=1) % 1024
                sub = pdf[mask]
                out_rows.append(
                    pd.DataFrame(
                        {
                            "rep": sub["rep"].to_numpy(),
                            "cid": cid,
                            "v": sub["v"].to_numpy(),
                            "nrm2": nrm2,
                        }
                    )
                )
            if (~mask).any():
                sub = pdf[~mask]
                out_rows.append(
                    pd.DataFrame(
                        {
                            "rep": sub["rep"].to_numpy(),
                            "cid": pd.array([None] * len(sub), dtype="Int64"),
                            "v": sub["v"].to_numpy(),
                            "nrm2": pd.array([None] * len(sub), dtype="Int64"),
                        }
                    )
                )
            yield pd.concat(out_rows)

    # one row per distinct vector value (the class reps), each with
    # norm and cluster assignment; persisted: both the pair stage and
    # the output cid join read it.
    assign = reps.select("rep", "v").mapInPandas(
        assign_fn, schema="rep long, cid long, v array<long>, nrm2 long"
    ).persist()

    def gram_fn(key, pdf):
        if not len(pdf):
            return pd.DataFrame({"grp": [], "key": [], "cos": []})
        vm = np.array(list(pdf["v"]), dtype=np.int64)
        n = np.sqrt(pdf["nrm2"].to_numpy().astype(np.float64))
        # exact int64 gram; ≤ 64·10¹² < 2⁵³ so the float64 cast is
        # exact, and dot/(√n_a·√n_b) is the same IEEE op order as
        # the oracle / the former JVM fold
        gram = (vm @ vm.T).astype(np.float64)
        cos = gram / (n[:, None] * n[None, :])
        r = pdf["rep"].to_numpy()
        m = len(r)
        return pd.DataFrame(
            {
                "grp": np.repeat(r, m),
                "key": np.tile(r, m),
                "cos": cos.ravel(),
            }
        )

    # one cosine per ordered class pair (self-pair included: a
    # non-representative member's own class provides its rep's
    # cosine) — the quadratic term is DISTINCT contents per cluster,
    # and each cluster's pair block is ONE vectorized matmul
    pair_rows = (
        assign.where(F.col("cid").isNotNull())
        .groupBy("cid")
        .applyInPandas(gram_fn, schema="grp long, key long, cos double")
        .withColumn("typ", F.lit(1))
        .select("grp", "key", "typ", "cos")
    )
    member_rows = vk.select(
        F.col("vkey").alias("grp"),
        F.col("vec_id").alias("key"),
        F.lit(0).alias("typ"),
        F.lit(None).cast("double").alias("cos"),
    )
    # member b's max_cos = running MAX of class-pair cosines with
    # rep_a < b: merge-sort the pair rows into the member stream and
    # take the windowed running max. typ orders a pair row at key==b
    # AFTER the member (strict a < b — a vec is never its own
    # neighbor, and a rep has no earlier same-class member).
    w = (
        Window.partitionBy("grp")
        .orderBy("key", "typ")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sim = (
        pair_rows.unionByName(member_rows)
        .withColumn("max_cos", F.max("cos").over(w))
        .filter(F.col("typ") == 0)
        .select(F.col("key").alias("vec_id"), "grp", "max_cos")
    )
    micro = F.coalesce(
        F.round(F.col("max_cos") * 1000000).cast("long"), F.lit(-1)
    )
    # the inner join to assign reproduces the empty-centroid edge
    # (empty assignment -> empty output, as the oracle's empty CTE)
    return sim.join(
        assign.select(F.col("rep").alias("grp"), "cid"), "grp"
    ).select(
        "vec_id",
        "cid",
        micro.alias("max_sim_micro"),
        (micro >= 350000).alias("is_dup"),
    )


# --------------------------------------------------------------------
# Cross-source near-duplication matrix (who copies whom).
# --------------------------------------------------------------------
def _minhash_pairs_sql() -> str:
    sql = MINHASH_ORACLE.strip()
    assert sql.endswith("ORDER BY doc_a, doc_b")
    return sql[: -len("ORDER BY doc_a, doc_b")]


@register(
    "cross_source_dup_matrix",
    f"""
    WITH pairs AS (
      {_minhash_pairs_sql()}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(round(p.jaccard * 1000) AS BIGINT)) AS BIGINT)
             AS sum_jaccard_milli
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    ORDER BY source_a, source_b
    """,
    tags=("dedup", "curation", "llm"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: MinHash+LSH verified
    near-dup pairs (the registry's banded pipeline, reused verbatim)
    rolled up by unordered source pair — the curation diagnostic
    that shows WHICH sources mirror each other (off-diagonal mass =
    cross-source syndication; diagonal mass = within-source
    boilerplate), i.e. where a per-source dedup pass would silently
    miss duplicates that only a global pass catches.

    Exactness: pair Jaccards are 6-dp values from the shared
    pipeline; the matrix sums them as milli INTEGERS, so cell
    hashes are order-independent.

    Scale (rewritten round 11): the matrix COUNTS doc pairs, so the
    old shape enumerated the full doc-level pair set — Θ(class²) on a
    duplicate-saturated corpus (2.43M pairs on the saturated sf0.1
    fixture) for a |sources|²-bounded output. Now it aggregates the
    content-collapsed class graph (_lsh_class_graph) with exact
    combinatorics, never materializing a doc pair:

    - cross-class: every member pair of a verified class pair (A, B)
      shares A/B's class Jaccard, so cell (sa, sb) gains
      m_A[sa]·m_B[sb] pairs of that value — one join of the verified
      class edges against the per-(class, source) member counts;
    - intra-class: identical docs have Jaccard exactly 1, so a class
      clique contributes m_s·m_t pairs per source pair and
      m·(m−1)/2 within one source — row-local combinatorics over the
      same counts, ordered by a per-class source index so each
      unordered pair counts once (NULL sources keep the engines'
      least/greatest semantics by flowing through the same
      expressions a doc pair would).
    """
    doc_cls, verified = lsh_class_graph(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    # per-(class, source) member counts — the whole doc-level input
    # compressed to |classes|×|sources| rows
    # persisted (r11): three consumers (both cross-pair sides and the
    # intra-class index) re-ran the doc join + count without the
    # cache; the table is |classes|×|sources| rows — tiny at any SF
    cs = (
        doc_cls.join(docs, "doc_id")
        .groupBy("rep", "source")
        .agg(F.count(F.lit(1)).alias("m"))
        .persist()
    )
    milli = F.round(F.col("jaccard") * 1000).cast("long")
    cross = (
        verified.withColumn("jm", milli)
        .join(
            cs.select(
                F.col("rep").alias("rep_a"),
                F.col("source").alias("src_a"),
                F.col("m").alias("ma"),
            ),
            "rep_a",
        )
        .join(
            cs.select(
                F.col("rep").alias("rep_b"),
                F.col("source").alias("src_b"),
                F.col("m").alias("mb"),
            ),
            "rep_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            # DECIMAL(38,0) products: member counts at crawl scale
            # put m_a*m_b (and ×1000 milli) past int64 (r10 exact-
            # accumulator discipline); the final cells cast back to
            # the oracle's BIGINT contract
            (F.col("ma").cast("decimal(38,0)") * F.col("mb")).alias("n"),
            (
                F.col("ma").cast("decimal(38,0)")
                * F.col("mb")
                * F.col("jm")
            ).alias("jm_sum"),
        )
    )
    # intra-class: deterministic per-class source index so each
    # unordered source pair is emitted once (NULLS FIRST pins NULL
    # sources to one side)
    wsrc = Window.partitionBy("rep").orderBy(
        F.col("source").asc_nulls_first()
    )
    csx = cs.withColumn("idx", F.row_number().over(wsrc))
    ia, ib = csx.alias("ia"), csx.alias("ib")
    intra = (
        ia.join(
            ib,
            (F.col("ia.rep") == F.col("ib.rep"))
            & (F.col("ia.idx") <= F.col("ib.idx")),
        )
        .select(
            F.least("ia.source", "ib.source").alias("source_a"),
            F.greatest("ia.source", "ib.source").alias("source_b"),
            F.when(
                F.col("ia.idx") < F.col("ib.idx"),
                F.col("ia.m").cast("decimal(38,0)") * F.col("ib.m"),
            )
            .otherwise(
                # m·(m−1)/2 exactly: halve the even factor in int64,
                # widen the product (m·(m−1) overflows int64 at
                # crawl-scale member counts)
                F.when(
                    F.col("ia.m") % 2 == 0,
                    F.expr("ia.m div 2").cast("decimal(38,0)")
                    * (F.col("ia.m") - 1),
                ).otherwise(
                    F.col("ia.m").cast("decimal(38,0)")
                    * F.expr("(ia.m - 1) div 2")
                ),
            )
            .alias("n"),
        )
        .filter(F.col("n") > 0)
        # identical docs: Jaccard exactly 1 -> 1000 milli per pair
        .withColumn("jm_sum", F.col("n") * 1000)
    )
    return (
        cross.unionByName(intra)
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("n").cast("long").alias("n_pairs"),
            F.sum("jm_sum").cast("long").alias("sum_jaccard_milli"),
        )
    )


# --------------------------------------------------------------------
# Asymmetric containment contamination screen (test ⊂ train).
# --------------------------------------------------------------------
@register(
    "containment_contamination_screen",
    f"""
    WITH d AS (
      SELECT doc_id, source, {SQL_WORDS} AS ws FROM documents
    ), g AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(ws)-3),
               i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '
                    ||ws[i+4]))) AS ng
      FROM d WHERE len(ws) >= 5
    ), test_sz AS (
      SELECT doc_id AS t_doc, COUNT(*) AS n_test_grams
      FROM g WHERE source = 'src0' GROUP BY doc_id
    ), shared AS (
      SELECT b.doc_id AS t_doc, a.doc_id AS train_doc,
             COUNT(*) AS n_shared
      FROM g a JOIN g b ON a.ng = b.ng
      WHERE b.source = 'src0' AND a.source <> 'src0'
      GROUP BY b.doc_id, a.doc_id
    ), scored AS (
      SELECT s.t_doc, s.train_doc,
             CAST(s.n_shared AS BIGINT) AS n_shared,
             CAST(z.n_test_grams AS BIGINT) AS n_test_grams,
             (1000 * s.n_shared) // z.n_test_grams AS containment_milli,
             row_number() OVER (
               PARTITION BY s.t_doc
               ORDER BY (1000 * s.n_shared) // z.n_test_grams DESC,
                        s.train_doc) AS rk
      FROM shared s JOIN test_sz z ON z.t_doc = s.t_doc
    )
    SELECT t_doc AS test_doc, train_doc, n_shared, n_test_grams,
           containment_milli
    FROM scored WHERE rk = 1
    ORDER BY test_doc
    """,
    tags=("llm", "contamination", "dedup", "similarity"),
)
def containment_contamination_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-benchmark-item CONTAINMENT screening: for each test doc
    (source src0), the training doc sharing the largest fraction of
    the TEST doc's distinct 5-gram set — |∩| / |grams(test)| in
    milli, exact integers. Jaccard fails here by construction: a
    50-token benchmark item fully pasted into a 50k-token page has
    Jaccard ≈ 0.001 but containment 1.0; the asymmetric denominator
    is the one leakage actually moves.

    Scale shape: the benchmark corpus is tiny next to the training
    corpus, so the test-side gram set is broadcast (bounded by the
    benchmark suite, never the corpus) and the training side streams
    map-side; only the (test, train) pair agg — contaminated pairs
    only — shuffles. Per-test top-1 is a window over that sliver.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", words("text").alias("ws")
    )
    g = d.filter(F.size("ws") >= 5).select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("ws"), 5)).alias("ng"),
    )
    test = g.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("t_doc"), F.col("ng").alias("t_ng")
    )
    test_sz = test.groupBy("t_doc").agg(
        F.count("*").alias("n_test_grams")
    )
    train = g.filter(F.col("source") != "src0")
    shared = (
        train.join(F.broadcast(test), F.col("ng") == F.col("t_ng"))
        .groupBy("t_doc", F.col("doc_id").alias("train_doc"))
        .agg(F.count("*").alias("n_shared"))
    )
    cm = F.expr("(1000 * n_shared) div n_test_grams")
    w_top = Window.partitionBy("t_doc").orderBy(
        cm.desc(), "train_doc"
    )
    return (
        shared.join(F.broadcast(test_sz), "t_doc")
        .withColumn("containment_milli", cm)
        .withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select(
            F.col("t_doc").alias("test_doc"),
            "train_doc",
            "n_shared",
            F.col("n_test_grams").cast("long"),
            "containment_milli",
        )
    )


# --------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer et al. 2003 / MOSS).
# --------------------------------------------------------------------
_WIN_K = 5  # char k-gram width
_WIN_W = 4  # winnowing window (hashes per window)
_WIN_DFCAP = 50  # stop-fingerprint prune: drop fps in > this many docs
_WIN_MIN_SHARED = 10  # report pairs sharing at least this many fps

# Karp–Rabin polynomial gram hash (Schleimer et al. 2003 §2): base
# 257, modulus 2^31-1, over the doc's codepoint array. The powers
# 257^4..257^0 are pre-folded literals (K=5), so each position costs
# five multiply-adds on BIGINTs — no per-position digest. Identical
# arithmetic on both engines (codepoints via Spark ascii / DuckDB
# unicode; all terms positive, so % == pmod).
_WIN_HASH_SQL = (
    "(cs[i]*4362470401 + cs[i+1]*16974593 + cs[i+2]*66049"
    " + cs[i+3]*257 + cs[i+4]) % 2147483647"
)


@register(
    "winnowing_shared_fingerprints",
    f"""
    WITH d AS (
      SELECT doc_id, translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS txt FROM documents
    ), c AS (
      -- str_split, not txt[j] indexing: positional UTF-8 indexing is
      -- O(len) per access (quadratic per doc); splitting is one pass
      SELECT doc_id, txt,
             list_transform(str_split(txt, ''),
                            ch -> CAST(unicode(ch) AS BIGINT)) AS cs
      FROM d
    ), h AS (
      SELECT doc_id,
             CASE WHEN length(txt) >= {_WIN_K + _WIN_W - 1}
                  THEN list_transform(range(1, length(txt) - {_WIN_K - 2}),
                                      i -> {_WIN_HASH_SQL})
                  ELSE [] END AS hs
      FROM c
    ), fp AS MATERIALIZED (
      -- referenced 3x below (a / kept / b); without the hint DuckDB
      -- inlines and re-runs the whole fingerprint pass per reference
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(hs) - {_WIN_W - 2}),
               i -> list_min(hs[i:i+{_WIN_W - 1}])))) AS f
      FROM h WHERE len(hs) >= {_WIN_W}
    ), kept AS (
      SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= {_WIN_DFCAP}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS n_shared
      FROM fp a JOIN kept USING (f) JOIN fp b USING (f)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared FROM pairs
    WHERE n_shared >= {_WIN_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "fingerprint", "similarity"),
)
def winnowing_shared_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS plagiarism detector): hash every {K}-char gram, slide a
    window of {W} hashes, keep each window's MINIMUM — any shared
    substring of length ≥ {KW} chars is GUARANTEED to share a
    selected fingerprint, while only ~2/(w+1) of positions are kept.
    Documents are then paired by shared fingerprints (≥ {MIN} after
    stop-fingerprint pruning at df ≤ {CAP}) — position-robust overlap
    detection that survives insertions/reordering, unlike fixed-stride
    chunk hashes.

    Hash parity: fingerprints are Karp–Rabin polynomial hashes (base
    257 mod 2^31-1, the paper's §2 rolling-hash family) over the
    doc's codepoint array — five BIGINT multiply-adds per position
    with pre-folded power literals, mirrored exactly in the DuckDB
    oracle. This replaced a first-cut md5-per-position scheme that
    paid a full digest per character (~10× corpus-pass CPU tax at
    scale); O(K)=5 integer ops per position is within 2-3 ops of the
    stateful O(1) rolling update, which SQL cannot express without a
    quadratic array fold. Window minima and the distinct-per-doc set
    are pure array ops, row-local.

    Scale shape: fingerprint extraction is embarrassingly parallel
    (one pass per doc, no shuffle); the pair stage shuffles only the
    winnowed ~2/(w+1)-density fingerprint postings with a df cap
    bounding any bucket (the same stop-key pruning as the trigram /
    TF-IDF posting joins); pair aggregation touches only co-fingerprint
    candidates — output-linear, never O(N²) over docs.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        ascii_fold("text").alias("txt"),
    ).withColumn(
        # one codepoint array per doc, shared by every gram hash
        "cs",
        F.expr("transform(split(txt, ''), ch -> CAST(ascii(ch) AS BIGINT))"),
    )
    # sequence(1, stop) counts DOWN when stop < 1 — short docs must
    # yield empty arrays, not reversed ranges (test_short_docs class)
    hs = F.expr(
        f"CASE WHEN length(txt) >= {_WIN_K + _WIN_W - 1} THEN"
        f" transform(sequence(1, length(txt) - {_WIN_K - 1}),"
        " i -> (element_at(cs, i)*4362470401"
        " + element_at(cs, i+1)*16974593 + element_at(cs, i+2)*66049"
        " + element_at(cs, i+3)*257 + element_at(cs, i+4)) % 2147483647)"
        " ELSE array() END"
    )
    wmins = F.expr(
        f"CASE WHEN size(hs) >= {_WIN_W} THEN"
        f" array_distinct(transform(sequence(1, size(hs) - {_WIN_W - 1}),"
        f" i -> array_min(slice(hs, i, {_WIN_W}))))"
        " ELSE array() END"
    )
    fp = (
        d.select("doc_id", hs.alias("hs"))
        .select("doc_id", F.explode(wmins).alias("f"))
        # r11: the posting self-join reads fp THREE times (side a,
        # side b, and the df filter); without persist each reference
        # re-ran the whole KR-hash + window-minima extraction — the
        # corpus pass — once per reference. One extraction, cached
        # postings (~2/(w+1) of positions) for the joins.
        .persist()
    )
    kept = fp.groupBy("f").agg(F.count("*").alias("df_f")).filter(
        F.col("df_f") <= _WIN_DFCAP
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "f")
    b = fp.select(F.col("doc_id").alias("doc_b"), "f")
    return (
        a.join(kept.select("f"), "f")
        .join(b, "f")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )


winnowing_shared_fingerprints.__doc__ = (
    winnowing_shared_fingerprints.__doc__
    .replace("{K}", str(_WIN_K))
    .replace("{W}", str(_WIN_W))
    .replace("{KW}", str(_WIN_K + _WIN_W - 1))
    .replace("{MIN}", str(_WIN_MIN_SHARED))
    .replace("{CAP}", str(_WIN_DFCAP))
)


# --------------------------------------------------------------------
# Canonical-URL dedup (tracking-param stripping).
# --------------------------------------------------------------------
_SQL_URL = """
      SELECT event_type,
             'https://'
             || CASE WHEN event_id % 7 = 0
                     THEN 'SHOP' || CAST(user_id % 3 AS VARCHAR)
                          || '.Example.COM'
                     ELSE 'shop' || CAST(user_id % 3 AS VARCHAR)
                          || '.example.com' END
             || '/p/' || CAST(event_id % 50 AS VARCHAR)
             || CASE WHEN event_id % 2 = 0 THEN '/' ELSE '' END
             || CASE
                  WHEN event_id % 3 = 0 THEN
                    '?v=' || CAST(CAST(round(value) AS BIGINT) % 10
                                  AS VARCHAR)
                    || '&utm_source=news&utm_campaign=x'
                  WHEN event_id % 3 = 1 THEN
                    '?v=' || CAST(CAST(round(value) AS BIGINT) % 10
                                  AS VARCHAR)
                  ELSE '?utm_source=mail' END
             || CASE WHEN event_id % 5 = 0 THEN '&fbclid=AbC123'
                     ELSE '' END
             || CASE WHEN event_id % 4 = 0 THEN '#top' ELSE '' END
               AS url
      FROM events
"""


@register(
    "canonical_url_dedup",
    f"""
    WITH urls AS ({_SQL_URL}
    ), canon AS (
      SELECT event_type, url,
             'https://'
             || lower(regexp_extract(url, 'https://([^/]+)', 1))
             || regexp_replace(
                  regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1),
                  '/$', '')
             || CASE WHEN regexp_extract(url, '[?&]v=(\\d+)', 1) != ''
                     THEN '?v=' || regexp_extract(url, '[?&]v=(\\d+)', 1)
                     ELSE '' END AS curl
      FROM urls
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           COUNT(DISTINCT url) AS n_raw_distinct,
           COUNT(DISTINCT curl) AS n_canon_distinct,
           CAST((1000 * (COUNT(DISTINCT url) - COUNT(DISTINCT curl)))
                // COUNT(DISTINCT url) AS BIGINT) AS collapse_milli
    FROM canon
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("llm", "dedup", "text", "web"),
)
def canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL deduplication — the first dedup pass of every
    web-crawl pipeline (CommonCrawl/C4 lineage): lowercase the host,
    drop the fragment, strip tracking parameters (utm_*, fbclid),
    keep meaningful params (v), trim the trailing slash, and account
    how many raw-distinct URLs collapse per event_type. URLs are
    synthesized deterministically from events (same derivation in
    both engines) with planted case/slash/tracking/fragment noise, so
    the collapse the query measures is real canonicalization work.
    Spark parses with `parse_url` (HOST/PATH/QUERY param — JVM
    codegen); the oracle re-derives the components with regexes, so
    the parse path itself is what's checked.

    Scale shape: entirely row-local string work inside whole-stage
    codegen plus one grouped distinct-count agg (partial aggregation
    on event_type) — no joins, no Python, linear in input at any SF.
    """
    e = t(spark, sf_dir, "events")
    host = F.when(
        F.col("event_id") % 7 == 0,
        F.concat(
            F.lit("SHOP"),
            (F.col("user_id") % 3).cast("string"),
            F.lit(".Example.COM"),
        ),
    ).otherwise(
        F.concat(
            F.lit("shop"),
            (F.col("user_id") % 3).cast("string"),
            F.lit(".example.com"),
        )
    )
    vparam = (F.round("value").cast("long") % 10).cast("string")
    q = (
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("?v="), vparam,
                F.lit("&utm_source=news&utm_campaign=x"),
            ),
        )
        .when(F.col("event_id") % 3 == 1, F.concat(F.lit("?v="), vparam))
        .otherwise(F.lit("?utm_source=mail"))
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit("/p/"),
        (F.col("event_id") % 50).cast("string"),
        F.when(F.col("event_id") % 2 == 0, F.lit("/")).otherwise(
            F.lit("")
        ),
        q,
        F.when(F.col("event_id") % 5 == 0, F.lit("&fbclid=AbC123"))
        .otherwise(F.lit("")),
        F.when(F.col("event_id") % 4 == 0, F.lit("#top")).otherwise(
            F.lit("")
        ),
    )
    # r11: collapse to DISTINCT (event_type, url) first — curl is a
    # pure function of url, so the parse_url×3 + regex
    # canonicalization runs once per distinct URL instead of once per
    # event row, the raw-distinct count becomes a plain grid-row
    # count (no distinct-expand), and only ONE count_distinct (curl)
    # survives to the final agg (guide §2.3: aggregate before the
    # expensive per-row compute).
    grid = (
        e.select("event_type", url.alias("url"))
        .groupBy("event_type", "url")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    v = F.parse_url("url", F.lit("QUERY"), F.lit("v"))
    curl = F.concat(
        F.lit("https://"),
        F.lower(F.parse_url("url", F.lit("HOST"))),
        F.regexp_replace(
            F.parse_url("url", F.lit("PATH")), r"/$", ""
        ),
        F.when(
            v.isNotNull() & (v != ""), F.concat(F.lit("?v="), v)
        ).otherwise(F.lit("")),
    )
    canon = grid.select("event_type", "url", "n", curl.alias("curl"))
    return (
        canon.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_urls"),
            # COUNT(url) over the distinct grid == COUNT(DISTINCT url)
            # (one row per URL; NULL urls excluded by both forms)
            F.count("url").cast("long").alias("n_raw_distinct"),
            F.count_distinct("curl").alias("n_canon_distinct"),
            F.expr(
                "CAST((1000 * (count(url) - count(DISTINCT curl)))"
                " div count(url) AS BIGINT)"
            ).alias("collapse_milli"),
        )
    )


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


# --------------------------------------------------------------------
# Corpus-wide segment-level exact dedup (C4-style line dedup,
# generalized to fixed-width word segments).
# --------------------------------------------------------------------
@register(
    "segment_dedup_corpus",
    f"""
    WITH d AS (
      SELECT source, doc_id, {SQL_WORDS} AS ws FROM documents
    ), s AS (
      SELECT source, doc_id,
             CAST(unnest(range((len(ws) + 7) // 8)) AS BIGINT) AS seg_idx,
             ws
      FROM d
    ), seg AS (
      SELECT source, doc_id, seg_idx,
             array_to_string(
               list_slice(ws, seg_idx * 8 + 1,
                          LEAST(len(ws), (seg_idx + 1) * 8)), ' ') AS seg_text
      FROM s
    ), ranked AS (
      SELECT source, doc_id, seg_idx, seg_text,
             ROW_NUMBER() OVER (
               PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx
             ) AS rn
      FROM seg
    )
    SELECT source,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS segs_removed,
           CAST(SUM(CASE WHEN rn > 1
                    THEN len(string_split(seg_text, ' ')) ELSE 0 END)
             AS BIGINT) AS words_removed
    FROM ranked GROUP BY source ORDER BY source
    """,
    tags=("llm", "dedup"),
)
def segment_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact segment dedup (the C4 line-dedup rule applied
    to fixed 8-word segments, since the corpus is single-line): every
    segment whose content appears earlier anywhere in the corpus —
    first occurrence by (doc_id, seg_idx) — is dropped; report removal
    mass per source. The keep-first choice is a row_number over the
    segment content hash.

    Scale shape: explode to segments (row-local), one shuffle on the
    128-bit segment hash (uniformly distributed — no skew), map-side
    partial aggregation for the accounting.
    """
    d = t(spark, sf_dir, "documents").select(
        "source", "doc_id", words(F.col("text")).alias("ws")
    )
    # guard the sequence: for a token-less doc (text='' under the r10
    # unicode axis) size=0 makes sequence(0, -1), which Spark treats
    # as a DESCENDING range [0, -1] — two phantom segments — while the
    # oracle's range(0) is empty. Zero tokens → zero segments.
    s = d.where(F.size("ws") >= 1).select(
        "source",
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.floor((F.size("ws") + 7) / 8) - 1)
        ).alias("seg_idx"),
        "ws",
    )
    seg = s.select(
        "source",
        "doc_id",
        "seg_idx",
        F.concat_ws(
            " ",
            F.slice(
                F.col("ws"),
                (F.col("seg_idx") * 8 + 1).cast("int"),
                F.least(
                    F.lit(8),
                    (F.size("ws") - F.col("seg_idx") * 8).cast("int"),
                ),
            ),
        ).alias("seg_text"),
    )
    rn = F.row_number().over(
        Window.partitionBy(F.md5("seg_text")).orderBy("doc_id", "seg_idx")
    )
    return (
        seg.withColumn("rn", rn)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("segs_removed"),
            F.sum(
                F.when(
                    F.col("rn") > 1, F.size(F.split("seg_text", " "))
                ).otherwise(0)
            ).alias("words_removed"),
        )
    )
