"""MinHash-LSH near-duplicate machinery shared by the dedup queries
(``queries.dedup``), and the DuckDB twin of the doc-level pair query
that several oracles embed."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import (
    SQL_SHINGLES3,
    SQL_WORDS,
    minhash_band_keys,
    minhash_signature,
    word_shingles,
    words,
)
from filemapreduce_spark.sources.tables import load_table as t

MINHASH_ORACLE = """
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
""".format(words=SQL_WORDS, shingles=SQL_SHINGLES3)


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles): distinct 3-word shingles of every document
    with at least 3 words — the MinHash-LSH family's input."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("ws")
    )
    return d.filter(F.size("ws") >= 3).select(
        "doc_id", word_shingles(F.col("ws"), 3).alias("shingles")
    )


def lsh_class_graph(
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
    sh = doc_shingles(spark, sf_dir)
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
