"""Training-pipeline batch 2: corpus curation and dataloader-prep
operators — per-source document caps, size-balanced shard striping,
and length-bucketed batching with padding-waste accounting.

These are the steps between "filtered corpus" and "tensors on a GPU":
cap any one domain's contribution (FineWeb-style anti-domination),
split the corpus into shards of near-equal byte mass (so data-loader
workers finish together), and group documents into length-homogeneous
batches (so padding doesn't burn FLOPs). All exact-integer
arithmetic; every window is partitioned by a row-local key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# Per-source cap (anti-domination) with removed-mass accounting.
# --------------------------------------------------------------------
_CAP_K = 10


@register(
    "domain_cap_curation",
    f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN rn <= {_CAP_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(CAST(SUM(CASE WHEN rn <= {_CAP_K} THEN n_chars ELSE 0 END)
                AS VARCHAR) AS DOUBLE) AS kept_chars,
           CAST(CAST(SUM(CASE WHEN rn > {_CAP_K} THEN n_chars ELSE 0 END)
                AS VARCHAR) AS DOUBLE) AS dropped_chars
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    tags=("curation", "sampling", "llm"),
)
def domain_cap_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep at most K documents per source
    (best-first by length, ties by doc_id) and account exactly for
    what the cap removes — the anti-domination rule web-scale
    curation applies so no single domain overwhelms the mixture
    (FineWeb/C4 cap the per-domain contribution the same way).

    Scale: one shuffle on source; the row_number window is
    per-source (WindowGroupLimit prunes rows past K+ties below the
    exchange once the filter is on rank); the accounting agg reuses
    the same partitioning — two exchanges total, none global. At
    100 TB source cardinality (domains) is huge, so partitions stay
    small; a skewed megadomain is exactly what the cap bounds.
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = d.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") <= _CAP_K
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(
                F.when(kept, F.col("n_chars")).otherwise(0).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("kept_chars"),
            F.sum(
                F.when(~kept, F.col("n_chars")).otherwise(0).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("dropped_chars"),
        )
    )


# --------------------------------------------------------------------
# Size-balanced shard striping.
# --------------------------------------------------------------------
_N_SHARDS = 8


@register(
    "shard_stripe_balance",
    f"""
    WITH ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ), sharded AS (
      SELECT (rn - 1) % {_N_SHARDS} AS shard, n_chars FROM ranked
    ), mass AS (
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS HUGEINT) AS total_chars
      FROM sharded GROUP BY shard
    )
    SELECT shard, n_docs, CAST(CAST(total_chars AS VARCHAR) AS DOUBLE) AS total_chars,
           CAST(round(1000.0 * ({_N_SHARDS} * total_chars
                 - SUM(total_chars) OVER ())
                 / SUM(total_chars) OVER ()) AS BIGINT)
             AS imbalance_milli
    FROM mass
    ORDER BY shard
    """,
    tags=("curation", "sharding", "llm"),
)
def shard_stripe_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard assignment by rank striping: within each
    language, rank documents by size (desc) and deal them round-robin
    across 8 shards — the classic striping trick that bounds shard
    imbalance by one max-document per stripe round, so data-loader
    workers reading different shards finish together. Output is the
    per-shard doc count, byte mass, and deviation from the ideal
    equal share in milli.

    Scale: ranking windows are per-language; the final imbalance
    window runs over exactly 8 rows (the shard summary), never the
    data. At 100 TB replace the per-lang rank with the registry's
    banded-rank pattern (`orderkey_gap_audit`) if a single language
    dominates; the striping arithmetic is unchanged.
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    sharded = d.select(
        ((F.row_number().over(w) - 1) % _N_SHARDS)
        .cast("long")
        .alias("shard"),
        "n_chars",
    )
    mass = sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        # DECIMAL(38,0): char totals exceed int64 at scale (r10)
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("total_chars"),
    )
    grand = Window.partitionBy()
    return mass.select(
        "shard",
        "n_docs",
        F.col("total_chars").cast("double").alias("total_chars"),
        F.round(
            1000.0
            * (
                _N_SHARDS * F.col("total_chars")
                - F.sum("total_chars").over(grand)
            )
            / F.sum("total_chars").over(grand)
        )
        .cast("long")
        .alias("imbalance_milli"),
    )


# --------------------------------------------------------------------
# Length-bucketed batching with padding-waste accounting.
# --------------------------------------------------------------------
_BUCKET_CHARS = 128
_BATCH_SIZE = 8


@register(
    "length_bucket_batching",
    f"""
    WITH bucketed AS (
      SELECT doc_id, n_chars, n_chars // {_BUCKET_CHARS} AS bucket,
             ROW_NUMBER() OVER (PARTITION BY n_chars // {_BUCKET_CHARS}
                                ORDER BY n_chars, doc_id) AS rn
      FROM documents
    ), batched AS (
      SELECT bucket, n_chars, (rn - 1) // {_BATCH_SIZE} AS batch_id,
             MAX(n_chars) OVER (PARTITION BY bucket,
                                (rn - 1) // {_BATCH_SIZE}) AS batch_max
      FROM bucketed
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_batches,
           CAST(CAST(SUM(n_chars) AS VARCHAR) AS DOUBLE) AS payload_chars,
           CAST(CAST(SUM(batch_max - n_chars) AS VARCHAR) AS DOUBLE) AS padding_chars
    FROM batched
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("curation", "batching", "llm"),
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching: assign documents to fixed-width
    length buckets (row-local key — no global sort), order within a
    bucket by length, cut batches of 8, and charge each document the
    padding it would cost to pad to its batch max — the exact
    padding-waste accounting that justifies bucketed batching in any
    trainer (padding is FLOPs spent on mask tokens).

    Scale: the bucket key is computed per row; ranking and batch-max
    windows are partitioned by bucket (and bucket+batch), so the
    only exchange is on the bucket key. Bucket width trades waste
    against shuffle balance exactly like any histogram bin.
    """
    d = t(spark, sf_dir, "documents")
    bucket = (F.col("n_chars") / _BUCKET_CHARS).cast("long")
    wb = Window.partitionBy("bucket").orderBy("n_chars", "doc_id")
    bucketed = d.select(
        "doc_id", "n_chars", bucket.alias("bucket")
    ).withColumn("rn", F.row_number().over(wb))
    batched = bucketed.withColumn(
        "batch_id", ((F.col("rn") - 1) / _BATCH_SIZE).cast("long")
    ).withColumn(
        "batch_max",
        F.max("n_chars").over(Window.partitionBy("bucket", "batch_id")),
    )
    return (
        batched.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("batch_id").cast("long").alias("n_batches"),
            F.sum(F.col("n_chars").cast("decimal(38,0)"))
            .cast("double")
            .alias("payload_chars"),
            F.sum(
                (F.col("batch_max") - F.col("n_chars")).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("padding_chars"),
        )
    )
