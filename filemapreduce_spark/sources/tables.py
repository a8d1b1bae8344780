"""Relational table sources over the driver's parquet test data.

Column pruning + predicate pushdown reach the parquet scan because we
only ever wrap ``spark.read.parquet`` — no materialization between the
scan and the query plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.session import memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Tables whose queries are dominated by per-row expression work
# (hashing, shingling, vector folds). The test files are single-row-
# group parquet (one scan task no matter what maxPartitionBytes says),
# so without an explicit split ALL that compute runs on one core. On a
# real multi-file dataset the scan already yields >= parallelism
# partitions and the repartition below becomes a no-op branch.
_COMPUTE_HEAVY = {"documents", "embeddings"}


def _file_count(spark: SparkSession, path: str) -> int:
    """Data files under ``path`` via the Hadoop FS API (metadata only —
    no job run)."""
    try:
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        conf = jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if not fs.exists(p) or fs.getFileStatus(p).isFile():
            return 1
        n = sum(
            1
            for s in fs.listStatus(p)
            if s.isFile() and not s.getPath().getName().startswith(("_", "."))
        )
        return max(n, 1)
    except Exception:
        return 1


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's DataFrame, built once per session: a repeat call
    returns the same object, so the parquet footers are read (and the
    compute-heavy tables' files counted) once, not once per query."""
    return memo(
        spark,
        ("table", sf_dir, name),
        lambda: _load_table_uncached(spark, sf_dir, name),
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is TIMESTAMP(NANOS); the session reads nanos as int64
    # — truncate to microseconds (matches DuckDB's read of the file).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # parquet isAdjustedToUTC=false columns arrive as TIMESTAMP_NTZ;
    # with the session timezone pinned to UTC the cast to TIMESTAMP is
    # value-preserving and keeps unix_micros()/window() applicable.
    # Guard loudly: under a non-UTC session the cast would shift values.
    ntz = [c for c, d in df.dtypes if d == "timestamp_ntz"]
    if ntz:
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT"):
            raise RuntimeError(
                f"load_table({name!r}): TIMESTAMP_NTZ columns {ntz} need a "
                f"UTC session timezone for a value-preserving cast; session "
                f"is {tz!r}. Set spark.sql.session.timeZone=UTC."
            )
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    # Single-row-group test files give Spark ONE scan task no matter
    # what maxPartitionBytes says, serializing everything downstream.
    # Split the per-row compute-heavy tables (hashing/shingling — worth
    # it at any size) when the input is under-parallelized. Decided
    # from filesystem metadata (no .rdd probe — that forces physical
    # planning in the timed path); real multi-file datasets already
    # split fine and skip this. Relational tables are never split:
    # an A/B at sf0.1 showed repartitioning lineitem (10.8 MB, single
    # row group) REGRESSED the heavy join/agg queries (q8 +0.77 s,
    # q9 +0.71 s, q17 +0.69 s, total 22.5 s → 28.5 s) — the single-
    # task scan is cheap at this size and the extra exchange breaks
    # the scan→partial-agg pipelining of whole-stage codegen.
    if name in _COMPUTE_HEAVY:
        target = max(8, spark.sparkContext.defaultParallelism // 2)
        if _file_count(spark, f"{sf_dir}/{name}.parquet") < target:
            # round-robin split so the downstream expressions use every
            # core; the shuffled payload is just the raw rows. Half the
            # core count, floor 8: measured sweet spot between per-task
            # overhead and per-row cost (16-way beats both 1-way, 68s,
            # and 32-way, 8.5s vs 6.0s, for the minhash pipeline).
            df = df.repartition(target)
    return df


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """The table's row count, counted once per session: queries that
    derive a plan parameter from corpus size (e.g. SemDeDup's k) pay
    the count job once, not once per run."""
    return memo(
        spark,
        ("rowcount", sf_dir, name),
        lambda: load_table(spark, sf_dir, name).count(),
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for ``spark.sql`` queries."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
