"""Round-2 LLM-pipeline batch: incremental near-dedup against an
existing corpus, int8 embedding quantization with reconstruction-error
accounting, and unigram-LM surprisal filtering (CCNet-style perplexity
gate).

Reference parity note: all north-star extensions (the reference's
surface ends at file map/reduce, `/root/reference/jobs.go:9-20`).

Scale posture: the incremental LSH join touches only (band, key)
buckets — new data dedups against a 100 TB base WITHOUT re-clustering
the base (the base's band keys are a precomputed index in practice);
quantization is row-local array math in codegen; surprisal scoring is
one explode + a broadcast-joined count table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.lsh import doc_shingles
from filemapreduce_spark.operators.textops import (
    LANG_MARKERS,
    SQL_LANG_SCORES,
    SQL_SHINGLES3,
    SQL_WORDS,
    TOKEN_REGEX,
    minhash_band_keys,
    minhash_signature,
    token_count_regex,
    words,
)
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t, table_rowcount


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
# Int8 embedding quantization + reconstruction-error accounting.
# --------------------------------------------------------------------
@register(
    "embedding_int8_quantization",
    """
    WITH q AS (
      SELECT label,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), e AS (
      SELECT label,
             CASE WHEN scale = 0 THEN 0 ELSE
               CAST(round(
                 list_sum(list_transform(v,
                   x -> abs(x - round(x / scale) * scale))) / len(v) * 1e9)
               AS BIGINT) END AS err_nano
      FROM q
    )
    SELECT label, COUNT(*) AS n,
           CAST(SUM(err_nano) AS BIGINT) AS sum_err_nano,
           CAST(SUM(err_nano) AS DOUBLE) / COUNT(*) AS mean_err_nano
    FROM e GROUP BY label ORDER BY label
    """,
    tags=("vectors", "llm"),
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (max-abs / 127 scale per vector,
    the FAISS/vector-DB storage layout): quantize, dequantize, and
    account mean |reconstruction error| per label. All row-local
    higher-order array expressions; per-row errors are rounded to
    integer nano-units so the per-label aggregation is an exact BIGINT
    sum (order-independent across engines)."""
    e = t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    q = e.select(
        "label",
        v.alias("v"),
        (F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))) / 127.0).alias(
            "scale"
        ),
    )
    err_sum = F.aggregate(
        F.transform(
            "v",
            lambda x: F.abs(x - F.round(x / F.col("scale")) * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    err_nano = F.when(F.col("scale") == 0, F.lit(0).cast("long")).otherwise(
        F.round(err_sum / F.size("v") * 1e9).cast("long")
    )
    per_row = q.select("label", err_nano.alias("err_nano"))
    return (
        per_row.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("err_nano").alias("sum_err_nano"),
            (F.sum("err_nano").cast("double") / F.count(F.lit(1))).alias(
                "mean_err_nano"
            ),
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
# TF-IDF cosine document similarity (sparse IR formulation).
# --------------------------------------------------------------------
@register(
    "tfidf_cosine_pairs",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word
    ),
    df AS (
      SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    post AS (
      SELECT t.doc_id, t.word,
             CAST(round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) * 1e6)
                  AS BIGINT) AS wm
      FROM tf t JOIN df d USING (word) CROSS JOIN n
      WHERE d.df BETWEEN 2 AND 60
    ),
    norms AS (
      SELECT doc_id, SUM(CAST(wm AS HUGEINT) * wm) AS n2
      FROM post GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CAST(a.wm AS HUGEINT) * b.wm) AS num
      FROM post a JOIN post b
        ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_a, d.doc_b,
           round(CAST(d.num AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2)), 6)
             AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE CAST(d.num AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.35
    ORDER BY doc_a, doc_b
    """,
    tags=("text", "llm", "similarity"),
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity over the inverted index — the
    IR-style near-dup complement to dense embedding cosine. Weights
    are scaled to integer micro-units so norms and dot products are
    exact integer sums (DECIMAL(38,0) accumulators — a long doc's
    wm² passes int64), order-independent; one sqrt+division at the
    end. The posting-list self-join is blocked per TERM, and terms
    with df > 60 are dropped (stop-word pruning — exactly what bounds
    bucket sizes at corpus scale; without it the most common term
    alone would be an O(N²) block)."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words("text")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = table_rowcount(spark, sf_dir, "documents")
    post = (
        tf.join(F.broadcast(df.filter(F.col("df").between(2, 60))), "word")
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf")
                * F.log(F.lit(float(n_docs)) / F.col("df"))
                * 1e6
            )
            .cast("long")
            .alias("wm"),
        )
        # four plan branches read the postings (norms ×2 join sides,
        # dots ×2 join sides) — materialize once, same as the minhash
        # signature cache
        .persist()
    )
    # decimal operand on both second moments: wm ≈ tf·idf·1e6 reaches
    # ~1e12 for a very long doc's top term, so a single wm² (1e24)
    # wraps int64 — the accumulators stay exact in DECIMAL(38,0) and
    # convert to double once at the cosine
    norms = post.groupBy("doc_id").agg(
        F.sum(F.col("wm").cast("decimal(38,0)") * F.col("wm")).alias("n2")
    )
    a, b = post.alias("a"), post.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(F.col("a.wm").cast("decimal(38,0)") * F.col("b.wm")).alias(
                "num"
            )
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cos = F.col("num").cast("double") / (
        F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= 0.35)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
    )


# --------------------------------------------------------------------
# IVF ANN recall vs brute-force ground truth.
# --------------------------------------------------------------------
def _oracle_of(name: str) -> str:
    from filemapreduce_spark.queries import REGISTRY

    return REGISTRY[name].oracle


@register(
    "ivf_recall_measure",
    f"""
    WITH truth AS (
      SELECT query_id, neighbor_id FROM ({_oracle_of("similarity_bruteforce_topk")})
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM ({_oracle_of("similarity_ivf_probe2")})
    ),
    found AS (
      SELECT t.query_id, t.neighbor_id
      FROM truth t
      JOIN approx a ON a.query_id = t.query_id
                   AND a.neighbor_id = t.neighbor_id
    )
    SELECT t.query_id,
           COUNT(*) AS n_truth,
           (SELECT COUNT(*) FROM found f WHERE f.query_id = t.query_id)
             AS n_found,
           round((SELECT COUNT(*) FROM found f
                  WHERE f.query_id = t.query_id) / CAST(COUNT(*) AS DOUBLE),
                 6) AS recall_at_5
    FROM truth t
    GROUP BY t.query_id
    ORDER BY t.query_id
    """,
    tags=("similarity", "ann", "quality", "llm"),
)
def ivf_recall_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the 2-probe IVF index against brute-force cosine
    ground truth, per query — the acceptance metric for any ANN
    config before it replaces exact search at scale (the IVF cost
    dial is nprobe; this query is how you price it in recall). Both
    sides run distributed; composes the two registered formulations
    exactly like minhash_lsh_recall does for LSH."""
    from filemapreduce_spark.queries.llm import (
        similarity_bruteforce_topk,
        similarity_ivf_probe2,
    )

    truth = similarity_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    ).persist()  # 50 rows, but each reference re-runs the brute-force
    # corpus scoring pass without the cut (two references below)
    approx = similarity_ivf_probe2(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    found = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
    n_truth = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    n_found = found.groupBy("query_id").agg(F.count(F.lit(1)).alias("nf"))
    return (
        n_truth.join(n_found, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce("nf", F.lit(0)).alias("n_found"),
            F.round(
                F.coalesce("nf", F.lit(0)) / F.col("n_truth").cast("double"),
                6,
            ).alias("recall_at_5"),
        )
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

    def marker_hits(markers):
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
