"""Distributed linear algebra over embedding columns.

The scale pattern for X^T·X-shaped reductions (gram/covariance
matrices, the core of distributed PCA, linear regression via normal
equations, and whitening): each partition computes a dense d×d
partial product with one numpy matmul over its Arrow batch, and only
the d×d partials — never row pairs — are shuffled. For d=64 that is
4096 longs per partition regardless of row count, so the reduction
cost is independent of corpus size.

Exactness: embedding floats are scaled by 1e6 and floored to BIGINT
on both engines (float→double widening is exact, one IEEE multiply,
floor — identical everywhere), so integer partials hash-match the
DuckDB oracle bit-for-bit with no float-summation order issues.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

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
