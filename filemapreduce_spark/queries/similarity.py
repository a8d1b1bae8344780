"""Vector similarity: brute-force and IVF top-k, recall audits,
random-hyperplane LSH, k-means, Gram matrices and power iteration,
quantization, Matryoshka truncation, MMR and k-center selection over
the fixed-width embedding table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import SQL_WORDS, words
from filemapreduce_spark.operators.vectors import (
    SQL_COSINE,
    cosine_topk,
    dot,
    ivf_topk,
    norm,
    to_double,
)
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t
from filemapreduce_spark.sources.tables import table_rowcount


_DIM = 64
_SCALE = 1_000_000


# --------------------------------------------------------------------
# Gram matrix: G = X^T X over scaled-integer embeddings.
# --------------------------------------------------------------------
@register(
    "embedding_gram_matrix",
    f"""
    WITH v AS (
      SELECT vec_id, t.i AS i,
             CAST(floor(CAST(embedding[t.i+1] AS DOUBLE) * {_SCALE})
                  AS BIGINT) AS vi
      FROM embeddings, unnest(range({_DIM})) AS t(i)
    )
    SELECT a.i AS i, b.i AS j, CAST(SUM(a.vi * b.vi) AS BIGINT) AS gram_e12
    FROM v a JOIN v b USING (vec_id)
    GROUP BY a.i, b.i ORDER BY i, j
    """,
    tags=("linalg", "arrow", "llm"),
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix G[i,j] = Σ_rows x_i·x_j of the embedding corpus,
    computed the distributed-linear-algebra way: ``mapInArrow``
    produces one d×d int64 partial per Arrow batch (a single numpy
    matmul), and a groupBy(i,j) sums the partials — d² tiny rows
    shuffle, never O(rows²) pairs and never per-row d² fanout.

    The SQL oracle is the naive formulation (explode to (row, i, v_i),
    self-join on row, group by (i,j)) — same algebra, different
    physical plan; hash equality proves the matmul path correct.
    """
    from filemapreduce_spark.operators.vectors import gram_partials

    e = t(spark, sf_dir, "embeddings").select("embedding")
    partials = gram_partials(e, "embedding", _DIM, _SCALE)
    return (
        partials.groupBy(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
        )
        .agg(F.sum("gram_e12").alias("gram_e12"))
    )


# --------------------------------------------------------------------
# Per-label centroids in exact scaled-integer space.
# --------------------------------------------------------------------
@register(
    "embedding_centroids_by_label",
    f"""
    WITH v AS (
      SELECT label, t.i AS i,
             CAST(floor(CAST(embedding[t.i+1] AS DOUBLE) * {_SCALE})
                  AS BIGINT) AS vi
      FROM embeddings, unnest(range({_DIM})) AS t(i)
    )
    SELECT label, i, CAST(SUM(vi) AS BIGINT) AS sum_e6,
           COUNT(*) AS n,
           (CAST(CAST(SUM(vi) AS BIGINT) AS DOUBLE) / COUNT(*))
             / {_SCALE}.0 AS centroid
    FROM v GROUP BY label, i ORDER BY label, i
    """,
    tags=("linalg", "agg", "llm"),
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding corpus, one output row per
    (label, dimension). Sums accumulate as exact scaled BIGINTs
    (associative + commutative → partial-agg safe); the only float
    math is the final two-op divide, mirrored exactly in the oracle.

    Scale: posexplode fans each row to d rows but they fold map-side
    into (label, i) partials before the shuffle — wire traffic is
    |labels|·d rows per partition, not |rows|·d. (The mapInArrow
    partial-sum trick of embedding_gram_matrix applies here too; the
    explode form is kept to show the pure-DataFrame path.)
    """
    e = t(spark, sf_dir, "embeddings").select("label", "embedding")
    v = e.select(
        "label",
        F.posexplode("embedding").alias("i", "x"),
    ).select(
        "label",
        F.col("i").cast("long").alias("i"),
        F.floor(F.col("x").cast("double") * _SCALE).cast("long").alias("vi"),
    )
    return (
        v.groupBy("label", "i")
        .agg(F.sum("vi").alias("sum_e6"), F.count(F.lit(1)).alias("n"))
        .withColumn(
            "centroid",
            (F.col("sum_e6").cast("double") / F.col("n")) / float(_SCALE),
        )
    )


# --------------------------------------------------------------------
# Power-iteration top eigenvector of the gram matrix (PCA direction).
# --------------------------------------------------------------------
_PI_TOP = 8  # report the top-|loading| dims


@register(
    "embedding_power_iteration",
    f"""
    WITH v AS (
      SELECT vec_id, t.i AS i,
             CAST(floor(CAST(embedding[t.i+1] AS DOUBLE) * {_SCALE})
                  AS BIGINT) AS vi
      FROM embeddings, unnest(range({_DIM})) AS t(i)
    ), g AS (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(a.vi * b.vi) AS BIGINT) AS g
      FROM v a JOIN v b USING (vec_id) GROUP BY a.i, b.i
    ), v1 AS (
      SELECT i, CAST(SUM(g) AS BIGINT) AS v1 FROM g GROUP BY i
    ), vmax AS (
      SELECT MAX(abs(v1)) AS m FROM v1
    ), v1n AS (
      SELECT i, CAST(floor(CAST(v1 AS DOUBLE) * 1000000.0
                           / (SELECT m FROM vmax)) AS BIGINT) AS v1n
      FROM v1
    ), v2 AS (
      SELECT g.i, SUM(CAST(g.g AS DECIMAL(38,0)) * n.v1n) AS v2
      FROM g JOIN v1n n ON n.i = g.j GROUP BY g.i
    ), ray AS (
      SELECT CAST(SUM(n.v1n * v.v2) AS DOUBLE)
             / CAST(SUM(CAST(n.v1n AS DECIMAL(38,0)) * n.v1n) AS DOUBLE)
               AS lam
      FROM v1n n JOIN v2 v ON v.i = n.i
    ), vmax2 AS (
      SELECT MAX(abs(v2)) AS m2 FROM v2
    ), top AS (
      SELECT i, v2,
             ROW_NUMBER() OVER (ORDER BY abs(v2) DESC, i) AS rk
      FROM v2
    )
    SELECT CAST(rk AS BIGINT) AS rank, CAST(i AS BIGINT) AS dim,
           CAST(floor(1000.0 * CAST(v2 AS DOUBLE)
                      / CAST((SELECT m2 FROM vmax2) AS DOUBLE))
                AS BIGINT) AS loading_milli,
           CAST(round((SELECT lam FROM ray) / 1000000.0) AS BIGINT)
             AS rayleigh_e6
    FROM top WHERE rk <= {_PI_TOP}
    ORDER BY rank
    """,
    tags=("linalg", "pca", "llm"),
)
def embedding_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top principal direction of the embedding corpus by power
    iteration on the gram matrix (von Mises iteration — the kernel
    inside every distributed PCA/SVD): v₁ = G·1, normalized to
    integer milli-units, then v₂ = G·v₁ and the Rayleigh quotient
    λ = v₁ᵀv₂ / v₁ᵀv₁. All matrix entries are the exact scaled-
    integer gram partials (the `embedding_gram_matrix` machinery);
    the matvec products are DECIMAL(38,0)-exact; the two final
    divisions are double ops on identical exact operands. Output:
    the top-{TOP} |loading| dimensions of v₂ (the PCA-1 axis) and
    the Rayleigh eigenvalue estimate.

    Scale shape: the corpus-sized work is ONE mapInArrow gram pass
    (d² partials per batch, independent of rows); every later step
    runs on the d²-row gram table (config-bounded). The matvec
    chain adds two d-row joins — trivial at any corpus size.
    """
    from filemapreduce_spark.operators.vectors import gram_partials
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings").select("embedding")
    g = (
        gram_partials(e, "embedding", _DIM, _SCALE)
        .groupBy(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
        )
        .agg(F.sum("gram_e12").alias("g"))
        .persist()  # d² = 4096 rows, config-bounded; read 2×
    )
    v1 = g.groupBy("i").agg(F.sum("g").cast("long").alias("v1"))
    vmax = v1.agg(F.max(F.abs(F.col("v1"))).alias("m"))
    v1n = v1.crossJoin(F.broadcast(vmax)).select(
        "i",
        F.expr("CAST(floor(CAST(v1 AS DOUBLE) * 1000000.0 / m)"
               " AS BIGINT)").alias("v1n"),
    )
    v2 = (
        g.join(
            F.broadcast(v1n.select(F.col("i").alias("j"), "v1n")), "j"
        )
        .groupBy("i")
        .agg(
            F.sum(F.col("g").cast("decimal(38,0)") * F.col("v1n"))
            .alias("v2")
        )
    )
    ray = (
        v1n.join(v2, "i")
        .agg(
            (
                F.sum(F.col("v1n") * F.col("v2")).cast("double")
                / F.sum(
                    F.col("v1n").cast("decimal(38,0)") * F.col("v1n")
                ).cast("double")
            ).alias("lam")
        )
    )
    vmax2 = v2.agg(F.max(F.abs(F.col("v2"))).alias("m2"))
    top = v2.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.abs(F.col("v2")).desc(), "i")
        ),
    ).where(F.col("rk") <= _PI_TOP)
    return (
        top.crossJoin(F.broadcast(vmax2))
        .crossJoin(F.broadcast(ray))
        .select(
            F.col("rk").cast("long").alias("rank"),
            F.col("i").cast("long").alias("dim"),
            F.expr(
                "CAST(floor(1000.0 * CAST(v2 AS DOUBLE)"
                " / CAST(m2 AS DOUBLE)) AS BIGINT)"
            ).alias("loading_milli"),
            F.round(F.col("lam") / 1000000.0)
            .cast("long")
            .alias("rayleigh_e6"),
        )
    )


embedding_power_iteration.__doc__ = (
    embedding_power_iteration.__doc__.replace("{TOP}", str(_PI_TOP))
)


@register(
    "similarity_bruteforce_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id, {SQL_COSINE} AS cos
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
    )


@register(
    "similarity_ivf_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS cell, embedding AS qe
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, label AS cell, embedding AS ce FROM embeddings
    ), scored AS (
      SELECT q.query_id, c.neighbor_id, c.cell, {SQL_COSINE} AS cos
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
    )


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
      SELECT query_id, neighbor_id, cell, {SQL_COSINE} AS cos FROM cand
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
    return final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("min_member"),
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


_N_PLANES = 16


def _plane_weights() -> list[list[float]]:
    """±1 hyperplane weights, md5-derived → identical in any engine
    that embeds them as literals (no RNG, no seed state)."""
    planes = []
    for p in range(_N_PLANES):
        row = []
        for i in range(_DIM):
            h = hashlib.md5(f"{p}:{i}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


_PLANES = _plane_weights()


def _sig_sql() -> str:
    """DuckDB signature expression, fully unrolled: each plane's dot
    is a left-associated ±embedding[i] chain (the same sequential
    order as the Spark fold — IEEE addition order matters for sign
    stability), with no lambda/list-literal re-evaluation per row."""
    dots = []
    for p in range(_N_PLANES):
        terms = "".join(
            ("+ " if w > 0 else "- ") + f"embedding[{i + 1}]::DOUBLE "
            for i, w in enumerate(_PLANES[p])
        )
        dots.append(f"(CASE WHEN ({terms}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(dots) + " AS BIGINT)"

_SQL_COS = """
    round(
      list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * eb[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * ea[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> eb[i]::DOUBLE * eb[i]::DOUBLE)))),
      6)
"""


@register(
    "srp_lsh_candidate_pairs",
    f"""
    WITH sigs AS (
      SELECT vec_id, {_sig_sql()} AS sig
      FROM embeddings
    ), bands AS (
      SELECT vec_id, 0 AS band_idx, sig % 256 AS band_val FROM sigs
      UNION ALL
      SELECT vec_id, 1 AS band_idx, sig // 256 AS band_val FROM sigs
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos FROM (
      SELECT id_a, id_b, {_SQL_COS} AS cos
      FROM cand
      JOIN (SELECT vec_id, embedding AS ea FROM embeddings) qa
        ON qa.vec_id = id_a
      JOIN (SELECT vec_id, embedding AS eb FROM embeddings) qb
        ON qb.vec_id = id_b
    ) WHERE cos >= 0.3
    ORDER BY id_a, id_b
    """,
    tags=("ann", "lsh", "embedding", "llm"),
)
def srp_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH (Charikar 2002) near-neighbor
    candidates over dense embeddings: each vector gets a 16-bit
    signature (sign of its dot product with 16 fixed ±1 hyperplanes),
    signatures split into 2 bands of 8 bits, vectors colliding in
    either band become candidate pairs, and candidates are verified
    with the exact cosine (keep ≥ 0.3). The collision probability per
    bit is 1 − θ/π, so banding concentrates recall on high-cosine
    pairs without any all-pairs comparison.

    Exactness: hyperplane weights are md5-derived ±1 literals baked
    into both plans; dot folds run in index order, so signatures —
    and therefore the candidate set — are bit-identical across
    engines.

    Scale shape: signatures are row-local (one map over the corpus,
    no shuffle); candidates come from a self-equi-join on
    (band_idx, band_val) — output-linear like the MinHash path, never
    O(N²); the verify joins candidates back to vectors BY ID so the
    64-double payload never rides through the band explode. At 100 TB
    add more bands/bits to hold bucket sizes down and salt hot
    buckets; the plan shape is unchanged.
    """
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("_v")
    )
    # Per-plane dot as a zip_with fold (index order). IEEE-identical
    # to the oracle's unrolled ± chain: 0.0 + t1 + t2 + ... equals
    # t1 ± t2 ± ... bit-for-bit (adding 0.0 is exact; w*e with
    # w = ±1.0 equals ±e). The fold form keeps the codegen tree small
    # where the oracle needs the unrolled form for speed.
    sig = None
    for p, plane in enumerate(_PLANES):
        lit_plane = F.array([F.lit(w) for w in plane])
        bit = F.when(
            dot(F.col("_v"), lit_plane) >= 0, F.lit(1 << p)
        ).otherwise(0)
        sig = bit if sig is None else (sig + bit)
    sigs = emb.select("vec_id", sig.cast("long").alias("sig"))

    bands = sigs.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_idx"),
                    (F.col("sig") % 256).alias("band_val"),
                ),
                F.struct(
                    F.lit(1).alias("band_idx"),
                    F.expr("sig div 256").alias("band_val"),
                ),
            )
        ).alias("b"),
    ).select("vec_id", "b.band_idx", "b.band_val")
    # both self-join sides read bands: persist so signatures (the
    # only nontrivial math) compute once. No eager count() — plan
    # construction (EXPLAIN, plan audit) must stay lazy; the cache
    # populates on first real action and the self-join's second scan
    # reads the cached partitions.
    bands = bands.persist()

    a = bands.select(
        F.col("vec_id").alias("id_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("vec_id").alias("id_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # r11: norms computed once per VECTOR on each side — the old form
    # folded norm(_va) and norm(_vb) inside the pair projection, i.e.
    # two 64-element folds per CANDIDATE PAIR; dot/(na·nb) is the
    # identical double arithmetic (sqrt of the same self-dot), so
    # rounded cosines are unchanged
    va = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id_a"),
        to_double(F.col("embedding")).alias("_va"),
    ).withColumn("_na", norm(F.col("_va")))
    vb = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id_b"),
        to_double(F.col("embedding")).alias("_vb"),
    ).withColumn("_nb", norm(F.col("_vb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= 0.3)
    )


_MMR_QUERY_ID = 0
_MMR_N_CAND = 20
_MMR_K = 5
_MMR_LAMBDA = 0.7


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two FLOAT[] columns, rounded 6dp, in the
    same index-ordered fold both engines evaluate (llm.py pattern)."""
    return f"""
    round(
      list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)))),
      6)
    """


def _mmr_oracle() -> str:
    lam, om = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 1)
    head = f"""
    WITH q AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = {_MMR_QUERY_ID}
    ), c AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      WHERE vec_id != {_MMR_QUERY_ID}
    ), scored AS (
      SELECT cid, {_cos_sql("qe", "ce")} AS rel FROM c CROSS JOIN q
    ), cand AS (
      SELECT cid, rel FROM scored ORDER BY rel DESC, cid LIMIT {_MMR_N_CAND}
    ), cv AS (
      SELECT cand.cid, embedding AS ce FROM cand
      JOIN embeddings ON vec_id = cid
    ), sims AS (
      SELECT a.cid AS ca, b.cid AS cb, {_cos_sql("a.ce", "b.ce")} AS sim
      FROM cv a JOIN cv b ON a.cid != b.cid
    ), s1 AS (
      SELECT cid, rel, 1 AS step, rel AS score
      FROM cand ORDER BY rel DESC, cid LIMIT 1
    ), sel1 AS (SELECT cid FROM s1)
    """
    steps = [head]
    for i in range(2, _MMR_K + 1):
        steps.append(f"""
    , r{i} AS (
      SELECT c.cid, c.rel,
             round({lam} * c.rel - {om} * MAX(s.sim), 9) AS score
      FROM cand c JOIN sims s
        ON s.ca = c.cid AND s.cb IN (SELECT cid FROM sel{i - 1})
      WHERE c.cid NOT IN (SELECT cid FROM sel{i - 1})
      GROUP BY c.cid, c.rel
    ), s{i} AS (
      SELECT cid, rel, {i} AS step, score
      FROM r{i} ORDER BY score DESC, cid LIMIT 1
    ), sel{i} AS (
      SELECT cid FROM sel{i - 1} UNION ALL SELECT cid FROM s{i}
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(1, _MMR_K + 1)
    )
    steps.append(f"""
    SELECT CAST(step AS BIGINT) AS step, cid AS vec_id, rel,
           score AS mmr_score
    FROM ({union}) ORDER BY step
    """)
    return "".join(steps)


@register(
    "mmr_diversified_topk",
    _mmr_oracle(),
    tags=("similarity", "retrieval", "mmr", "llm"),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): greedy top-{K} selection from the query's top-{N} cosine
    candidates, each step maximizing λ·rel(d) − (1−λ)·max_{{s∈S}}
    sim(d, s) with λ={LAM} — the diversified retrieval every RAG stack
    uses so near-duplicate passages don't crowd the context window.
    Step 1's score is its relevance (nothing selected yet); ties break
    on vec_id; rel/sim are 6dp-rounded cosines and scores 9dp-rounded,
    so both engines compare identical doubles.

    Scale shape: candidate generation is the broadcast-query brute
    cosine (one corpus scan, window top-N — at scale the IVF/SRP
    candidate paths in this registry replace it, same contract); the
    greedy phase touches ONLY the N-candidate set (persisted: N rows,
    config-bounded) and its N×N pairwise sims — driver-free unrolled
    DataFrame steps whose cost is independent of corpus size. K and N
    are config dials; the selection is exact greedy MMR, not an
    approximation.
    """
    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        to_double(F.col("embedding")).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    # r11: corpus-side norm once per vector (the rel pass used to
    # fold BOTH norms per (query, corpus) row); same double ops
    corpus = emb.filter(F.col("vec_id") != _MMR_QUERY_ID).select(
        F.col("vec_id").alias("cid"), to_double(F.col("embedding")).alias("_cv")
    ).withColumn("_cn", norm(F.col("_cv")))
    rel = F.round(
        dot(F.col("_qv"), F.col("_cv"))
        / (F.col("_qn") * F.col("_cn")),
        6,
    )
    # candidate set: config-bounded (N rows) and referenced by every
    # unrolled greedy step — persist so the corpus scan runs once
    cand = (
        corpus.crossJoin(F.broadcast(qv))
        .select("cid", rel.alias("rel"))
        .orderBy(F.col("rel").desc(), "cid")
        .limit(_MMR_N_CAND)
        .persist()
    )
    cand_vec = cand.join(
        emb.select(F.col("vec_id").alias("cid"), "embedding"), "cid"
    ).select("cid", to_double(F.col("embedding")).alias("_v"))
    a = cand_vec.select(F.col("cid").alias("ca"), F.col("_v").alias("_va"))
    b = cand_vec.select(F.col("cid").alias("cb"), F.col("_v").alias("_vb"))
    sims = (
        a.join(F.broadcast(b), F.col("ca") != F.col("cb"))
        .select(
            "ca",
            "cb",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / (norm(F.col("_va")) * norm(F.col("_vb"))),
                6,
            ).alias("sim"),
        )
        .persist()  # N×(N−1) rows, config-bounded
    )

    lam = F.lit(_MMR_LAMBDA)
    om = F.lit(round(1 - _MMR_LAMBDA, 1))
    # each pick is lineage-truncated (lazy localCheckpoint, the same
    # pattern as the k-means/label-propagation loops): without it,
    # step i's plan embeds steps 1..i−1 as live subtrees and the
    # greedy unroll re-executes them combinatorially — with it, every
    # 1-row pick materializes once and later steps read the
    # checkpointed row (measured 5.2 s → 1.3 s warm at sf0.01)
    picks = [
        cand.orderBy(F.col("rel").desc(), "cid")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("step"),
            F.col("cid"),
            "rel",
            F.col("rel").alias("mmr_score"),
        )
        .localCheckpoint(eager=False)
    ]
    selected = picks[0].select("cid")
    for i in range(2, _MMR_K + 1):
        maxsim = (
            sims.join(
                F.broadcast(selected.select(F.col("cid").alias("cb"))), "cb"
            )
            .groupBy(F.col("ca").alias("cid"))
            .agg(F.max("sim").alias("ms"))
        )
        scored = (
            cand.join(F.broadcast(selected), "cid", "left_anti")
            .join(maxsim, "cid")
            .select(
                "cid",
                "rel",
                F.round(lam * F.col("rel") - om * F.col("ms"), 9).alias(
                    "score"
                ),
            )
        )
        pick = (
            scored.orderBy(F.col("score").desc(), "cid")
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("step"),
                "cid",
                "rel",
                F.col("score").alias("mmr_score"),
            )
            .localCheckpoint(eager=False)
        )
        picks.append(pick)
        selected = selected.unionAll(pick.select("cid"))

    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select(
        "step", F.col("cid").alias("vec_id"), "rel", "mmr_score"
    )


mmr_diversified_topk.__doc__ = mmr_diversified_topk.__doc__.format(
    K=_MMR_K, N=_MMR_N_CAND, LAM=_MMR_LAMBDA
)


# --------------------------------------------------------------------
# k-center greedy coreset (Gonzalez farthest-point traversal).
# --------------------------------------------------------------------
_KC_K = 5
_KC_START = 0  # deterministic seed point


def _sqd_sql(a: str, b: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, 65), i ->"
        f" ({a}[i]::DOUBLE - {b}[i]::DOUBLE)"
        f" * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), 6)"
    )


def _kcenter_oracle() -> str:
    head = f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    p1 AS (
      SELECT CAST(1 AS BIGINT) AS step,
             CAST(vec_id AS BIGINT) AS vec_id, 0.0 AS radius
      FROM e WHERE vec_id = {_KC_START}
    ), sel1 AS (SELECT vec_id FROM p1)
    """
    steps = [head]
    for i in range(2, _KC_K + 1):
        steps.append(f"""
    , m{i} AS (
      SELECT c.vec_id, MIN({_sqd_sql("c.embedding", "s.embedding")})
               AS mind
      FROM e c
      JOIN (SELECT e2.vec_id, e2.embedding FROM e e2
            JOIN sel{i - 1} z ON z.vec_id = e2.vec_id) s
        ON c.vec_id != s.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
      GROUP BY c.vec_id
    ), p{i} AS (
      SELECT CAST({i} AS BIGINT) AS step, vec_id, mind AS radius
      FROM m{i} ORDER BY mind DESC, vec_id LIMIT 1
    ), sel{i} AS (
      SELECT vec_id FROM sel{i - 1} UNION ALL SELECT vec_id FROM p{i}
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, _KC_K + 1)
    )
    steps.append(f"SELECT * FROM ({union}) ORDER BY step")
    return "".join(steps)


@register(
    "kcenter_coreset_selection",
    _kcenter_oracle(),
    tags=("similarity", "coreset", "sampling", "llm"),
)
def kcenter_coreset_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-center greedy coreset (Gonzalez 1985 farthest-point
    traversal, the 2-approximation for the k-center cover): start
    from vec {START}, then repeatedly select the point farthest (max
    min-squared-L2) from the selected set — the coverage-maximizing
    selection behind embedding-space core-set active learning (Sener
    & Savarese 2018) and diversity-quota data selection. Each pick's
    radius is its min-distance at selection time — a certified
    nonincreasing cover-radius curve. Distances are 6dp-rounded
    index-order folds over float64 casts (both engines identical);
    ties break on the smaller vec_id.

    Scale shape: k−1 declarative rounds, each one corpus scan joined
    to the ≤k-row selected set (broadcast) with a TakeOrdered top-1 —
    O(k·N·d) total work, shuffle-free except the 1-row argmax; picks
    are lazily localCheckpoint-ed (the MMR/k-means lineage pattern) so
    round i does not re-execute rounds 1..i−1. Driver holds only the
    k-row selection — config-bounded, never data-bounded.
    """
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )

    def sqd(a, b):
        return F.round(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    picks = [
        emb.where(F.col("vec_id") == _KC_START)
        .select(
            F.lit(1).cast("long").alias("step"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.lit(0.0).alias("radius"),
            "v",
        )
        .localCheckpoint(eager=False)
    ]
    selected = picks[0].select("vec_id", "v")
    for i in range(2, _KC_K + 1):
        s = selected.select(
            F.col("vec_id").alias("svid"), F.col("v").alias("sv")
        )
        mind = (
            emb.join(
                F.broadcast(selected.select("vec_id")), "vec_id",
                "left_anti",
            )
            .crossJoin(F.broadcast(s))
            .groupBy("vec_id", "v")
            .agg(F.min(sqd(F.col("v"), F.col("sv"))).alias("mind"))
        )
        pick = (
            mind.orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("step"),
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("mind").alias("radius"),
                "v",
            )
            .localCheckpoint(eager=False)
        )
        picks.append(pick)
        selected = selected.unionAll(pick.select("vec_id", "v"))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select("step", "vec_id", "radius")


# --------------------------------------------------------------------
# Matryoshka truncation-recall audit (MRL dimension ablation).
# --------------------------------------------------------------------
_MRL_NQ = 8  # fixed query set: vec_id < _MRL_NQ
_MRL_DIM = 16  # truncated prefix dimensionality
_MRL_K = 5


def _mrl_cos_sql(a: str, b: str, dim: int) -> str:
    rng = f"range(1, {dim + 1})"
    return (
        f"round(list_sum(list_transform({rng}, i ->"
        f" {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform({rng}, i ->"
        f" {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"
        f" * sqrt(list_sum(list_transform({rng}, i ->"
        f" {b}[i]::DOUBLE * {b}[i]::DOUBLE)))), 6)"
    )


@register(
    "matryoshka_truncation_recall",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      WHERE vec_id < {_MRL_NQ}
    ), c AS (
      SELECT vec_id AS nid, embedding AS ce FROM embeddings
    ), full_rk AS (
      SELECT query_id, nid,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {_mrl_cos_sql("qe", "ce", 64)} DESC, nid) AS rk
      FROM q JOIN c ON nid != query_id
    ), trunc_rk AS (
      SELECT query_id, nid,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {_mrl_cos_sql("qe", "ce", _MRL_DIM)} DESC, nid) AS rk
      FROM q JOIN c ON nid != query_id
    )
    SELECT f.query_id AS query_id,
           CAST(COUNT(t.nid) AS BIGINT) AS n_hits,
           CAST((1000 * COUNT(t.nid)) // {_MRL_K} AS BIGINT)
             AS recall_milli
    FROM full_rk f
    LEFT JOIN trunc_rk t
      ON t.query_id = f.query_id AND t.nid = f.nid
         AND t.rk <= {_MRL_K}
    WHERE f.rk <= {_MRL_K}
    GROUP BY f.query_id
    ORDER BY f.query_id
    """,
    tags=("similarity", "embedding", "llm", "audit"),
)
def matryoshka_truncation_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka dimension-truncation audit (Kusupati et al. 2022
    MRL): recall@{K} of top-{K} cosine retrieval using only the first
    {DIM} embedding dimensions against the full-64-dim exact top-{K},
    per query ({NQ} fixed queries) — the measurement behind the
    modern "store the prefix, rerank with the tail" embedding-cost
    ablation. Cosines are 6dp-rounded index-order folds (both engines
    identical); ranks tie-break on neighbor id.

    Scale shape: the fixed {NQ}-query set broadcasts against ONE
    corpus scan computing BOTH cosines per candidate pair (r11: the
    two cosine_topk passes each scanned the corpus, built their own
    broadcast and ranked separately, then re-joined the two top-{K}
    sets — one scan + one broadcast join now feeds both rank windows
    and the intersection becomes a per-row rank conjunction, no
    join). The brute-force pair stream is the registry's audit path —
    at scale the IVF/SRP candidate generators replace it, same recall
    contract.
    """
    from filemapreduce_spark.operators.vectors import dot, norm, to_double
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    # both-resolution vectors + norms computed once per ROW per side
    prep = lambda df, pfx: df.select(  # noqa: E731
        F.col("vec_id").alias(f"{pfx}id"),
        to_double(F.col("embedding")).alias(f"{pfx}v"),
    ).select(
        f"{pfx}id",
        f"{pfx}v",
        F.slice(f"{pfx}v", 1, _MRL_DIM).alias(f"{pfx}t"),
        norm(F.col(f"{pfx}v")).alias(f"{pfx}n"),
        norm(F.slice(f"{pfx}v", 1, _MRL_DIM)).alias(f"{pfx}tn"),
    )
    q = prep(emb.where(F.col("vec_id") < _MRL_NQ), "q_")
    c = prep(emb, "c_")
    scored = c.join(
        F.broadcast(q), F.col("q_id") != F.col("c_id")
    ).select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        F.round(
            dot(F.col("q_v"), F.col("c_v"))
            / (F.col("q_n") * F.col("c_n")),
            6,
        ).alias("cos_full"),
        F.round(
            dot(F.col("q_t"), F.col("c_t"))
            / (F.col("q_tn") * F.col("c_tn")),
            6,
        ).alias("cos_tr"),
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id").asc()
    )
    w_tr = Window.partitionBy("query_id").orderBy(
        F.col("cos_tr").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(w_full).alias("rk_full"),
        F.row_number().over(w_tr).alias("rk_tr"),
    )
    return (
        ranked.filter(F.col("rk_full") <= _MRL_K)
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("rk_tr") <= _MRL_K, 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "query_id",
            "n_hits",
            F.expr(f"CAST((1000 * n_hits) div {_MRL_K} AS BIGINT)").alias(
                "recall_milli"
            ),
        )
    )


matryoshka_truncation_recall.__doc__ = (
    matryoshka_truncation_recall.__doc__
    .replace("{K}", str(_MRL_K))
    .replace("{DIM}", str(_MRL_DIM))
    .replace("{NQ}", str(_MRL_NQ))
)
