"""Vector similarity operators over ``array<float>`` embedding columns.

Everything is built on Spark's higher-order array functions
(``zip_with`` + ``aggregate``) — JVM-side sequential folds, no Python
in the row path. The fold order is the array index order, which both
Spark and DuckDB's list functions preserve, so rounded similarity
values hash-match an SQL oracle.

Scale design:
- ``cosine_topk`` (brute force) broadcasts the QUERY side and streams
  the corpus — right shape when |queries| is small and the corpus is
  huge; top-k per query via window over a (query, corpus-partition)
  partial-topk is handled by AQE.
- ``ivf_topk`` is the scale path: corpus is pre-partitioned into
  coarse cells (here: the precomputed ``label`` column; in a real
  pipeline k-means centroids), the query probes only its nearest
  cell(s) — a partition-pruned join instead of a full scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# DuckDB twin of the 64-wide cosine between list columns ``qe`` and
# ``ce``, rounded to 6 places like the Spark side.
SQL_COSINE = """
    round(
      list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * ce[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * qe[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> ce[i]::DOUBLE * ce[i]::DOUBLE)))),
      6)
"""


def to_double(vec: Column) -> Column:
    """float vector → double vector (do all math in float64)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (index order — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, cos, rank).

    Excludes self-matches. Ties break on neighbor id (deterministic).
    """
    # norms computed once per ROW on each side (not once per pair);
    # dot/(nq*nc) is the same arithmetic as cosine(), so rounded
    # values are unchanged
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", norm(F.col("_cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
                round_to,
            ),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """IVF-style ANN: search only the query's own coarse cell.

    Here the corpus comes pre-assigned to cells (``cell_col``); the
    equi-join on cell is the partition-pruning step that replaces the
    full scan. Output shape matches ``cosine_topk`` plus the cell.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(cell_col).alias("cell"),
        to_double(F.col(vec_col)).alias("_qv"),
    ).withColumn("_qn", norm(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("cell"),
        to_double(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", norm(F.col("_cv")))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
                round_to,
            ),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def gram_partials(df: DataFrame, vec_col: str = "embedding",
                  dim: int = 64, scale: int = 1_000_000) -> DataFrame:
    """Per-Arrow-batch partial gram matrices: one numpy int64 matmul
    per batch over floor(v·scale) integers; output (i, j, gram) rows
    — d² per batch, independent of row count. Sum over (i, j) to get
    X^T·X exactly (integer partials are associative/commutative, so
    partial aggregation cannot perturb the result).
    """
    import numpy as np
    import pyarrow as pa

    ii, jj = np.meshgrid(
        np.arange(dim, dtype=np.int32),
        np.arange(dim, dtype=np.int32),
        indexing="ij",
    )
    i_flat = pa.array(ii.ravel(), type=pa.int32())
    j_flat = pa.array(jj.ravel(), type=pa.int32())

    def partial_gram(batches):
        for batch in batches:
            col = pa.table(batch).column(vec_col).combine_chunks()
            if len(col) == 0:
                continue
            flat = col.flatten().to_numpy(zero_copy_only=False)
            m = flat.reshape(len(col), dim).astype(np.float64)
            mi = np.floor(m * scale).astype(np.int64)
            g = mi.T @ mi
            yield pa.RecordBatch.from_arrays(
                [i_flat, j_flat, pa.array(g.ravel(), type=pa.int64())],
                names=["i", "j", "gram_e12"],
            )

    return df.select(vec_col).mapInArrow(
        partial_gram, "i int, j int, gram_e12 long"
    )
