"""Sink round-trip queries: oracle-gated proof that the layout sinks
(partitioned / range-clustered / compacted / CSV / bucketed /
z-ordered) preserve content.

The sink helpers in ``filemapreduce_spark.sinks`` had only plan-level
unit tests (tests/test_sinks.py asserts pruning, disjoint ranges,
file counts); these queries close the loop the driver can verify:
each one WRITES a layout to a scratch directory, READS it back
through the layout's intended access path (partition-pruned filter,
range-skipped scan, compacted scan, schema'd CSV), and aggregates —
the DuckDB oracle runs the same aggregate on the ORIGINAL table, so
a value-hash match proves the write→read cycle is lossless.

The reference's pipeline is read-only (its one sink is the
single-value Finalizer, ``/root/reference/interfaces.go:68-78``);
partitioned columnar sinks are the Spark-native extension a 100 TB
deployment actually writes to (SURVEY.md §2 Part B "Sinks").

Scale: each query's write is one shuffle (repartition /
repartitionByRange) followed by a parallel columnar write — the
shape that holds at any SF. Scratch output lands in a fresh
``tempfile.mkdtemp`` dir per invocation so concurrent runs never
collide; at sf0.01 each dataset is a few MB.
"""

from __future__ import annotations

import atexit
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import SQL_CENTS, cents
from filemapreduce_spark.operators.scratch import scratch_dir
from filemapreduce_spark.queries import register
from filemapreduce_spark.sinks import (
    compact_files,
    write_clustered,
    write_partitioned,
)
from filemapreduce_spark.sources.tables import load_table as t

# uuid-suffixed bucketed tables created per invocation are dropped at
# interpreter exit so repeated runs (bench reps, sweeps, long
# sessions) don't accumulate spark-warehouse tables.
_SCRATCH_TABLES: list[str] = []


@atexit.register
def _reap_scratch() -> None:
    if _SCRATCH_TABLES:
        try:
            spark = SparkSession.getActiveSession()
            if spark is not None:
                for name in _SCRATCH_TABLES:
                    spark.sql(f"DROP TABLE IF EXISTS {name}")
        except Exception:
            pass  # JVM already gone — warehouse dirs swept below
        for name in _SCRATCH_TABLES:
            shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)


# --------------------------------------------------------------------
# Partitioned write → partition-pruned read-back.
# --------------------------------------------------------------------
@register(
    "sink_partitioned_prune_roundtrip",
    """
    SELECT l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("sink", "partitioned", "roundtrip"),
)
def sink_partitioned_prune_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write lineitem partitioned by ``l_returnflag``, read it back
    with a filter on the partition column, and aggregate. The oracle
    aggregates the original table — a hash match proves the
    directory-partitioned layout round-trips losslessly, and the
    read path exercises partition PRUNING (the 'R' filter resolves
    against directory names; the 'A'/'N' directories are never
    opened — tests/test_sinks.py asserts the pruned plan).

    Scale: ``repartition(partition_by)`` before the write means each
    partition directory is produced by one task's worth of files, not
    #tasks × #partitions shards — the layout that avoids the
    small-files problem at 1000 executors.
    """
    base = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    dest = scratch_dir("part_prune")
    write_partitioned(
        base.repartition("l_returnflag"), dest, ["l_returnflag"]
    )
    # explicit schema on the read-back: an all-empty input writes ZERO
    # data files (only _SUCCESS), where schema inference fails with
    # UNABLE_TO_INFER_SCHEMA; the oracle's aggregate over the empty
    # table yields 0 rows, so the read must too (all-empty sweep). At
    # populated SFs the explicit schema is byte-identical to inference.
    back = (
        spark.read.schema(base.schema)
        .parquet(dest)
        .where(F.col("l_returnflag") == "R")
    )
    return (
        back.groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------
# Range-clustered write → time-range read-back (file skipping).
# --------------------------------------------------------------------
@register(
    "sink_clustered_timerange_roundtrip",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM({SQL_CENTS.format(col='l_extendedprice')})
                AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("sink", "clustered", "roundtrip"),
)
def sink_clustered_timerange_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write lineitem range-clustered on ``l_shipdate`` (contiguous,
    disjoint date ranges per file via ``repartitionByRange`` +
    ``sortWithinPartitions``), read it back with a one-year time-range
    predicate, and aggregate revenue per return flag. Oracle runs the
    same aggregate on the original table.

    Scale: with disjoint per-file shipdate ranges, the parquet footer
    min/max lets the scan SKIP the ~5/6 of files wholly outside
    1996 — the clustered layout is what turns a time-range query on
    100 TB into an IO-proportional-to-answer scan. The write itself
    is one range shuffle (sampled, so skew-balanced) + parallel write.
    """
    base = t(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_returnflag", "l_extendedprice"
    )
    dest = scratch_dir("clustered")
    write_clustered(base, dest, ["l_shipdate"], n_files=8)
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    back = spark.read.parquet(dest).where(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents("l_extendedprice")).alias("revenue_cents"),
        )
    )


# --------------------------------------------------------------------
# Fragmented write → compaction → read-back.
# --------------------------------------------------------------------
@register(
    "sink_compact_roundtrip",
    f"""
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM({SQL_CENTS.format(col='p_retailprice')})
                AS BIGINT) AS retail_cents
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    tags=("sink", "compaction", "roundtrip"),
)
def sink_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately fragment the part table into 64 small files (the
    over-parallel-writer pathology), run ``compact_files`` to rewrite
    it at a 1 GiB file target (→ one file at this SF), and aggregate
    the COMPACTED copy. Oracle aggregates the original — a hash match
    proves compaction is content-preserving, not just file-count-
    reducing (tests/test_sinks.py covers the sizing math).

    Scale: compaction sizes output from Hadoop ``getContentSummary``
    bytes (no driver collect of data) and rewrites in one
    ``repartition(n)`` shuffle — linear in data, parallel across the
    cluster; exactly how a nightly small-files sweep runs at 100 TB.
    """
    base = t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    frag = scratch_dir("fragmented")
    dest = scratch_dir("compacted")
    base.repartition(64).write.mode("overwrite").parquet(frag)
    compact_files(spark, frag, dest, target_file_bytes=1 << 30)
    back = spark.read.parquet(dest)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(cents("p_retailprice")).alias("retail_cents"),
        )
    )


# --------------------------------------------------------------------
# CSV write → explicit-schema read-back.
# --------------------------------------------------------------------
@register(
    "sink_csv_schema_roundtrip",
    """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(CAST(SUM(n_chars) AS VARCHAR) AS DOUBLE) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    tags=("sink", "csv", "roundtrip"),
)
def sink_csv_schema_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export document metadata to headered CSV, read it back with an
    explicit DDL schema (``doc_id BIGINT, lang STRING, ...`` — no
    inference pass), and aggregate per (lang, source). Oracle
    aggregates the original parquet — a hash match proves the
    text-format round trip preserves every row and value.

    Scale: an explicit read schema matters twice at 100 TB — schema
    inference costs a full extra pass over the data, and inferred
    types drift with content (a numeric-looking string column flips
    type between batches). Declared DDL makes CSV ingest one
    splittable, single-pass scan.
    """
    base = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    dest = scratch_dir("csv")
    base.write.mode("overwrite").option("header", "true").csv(dest)
    back = spark.read.schema(
        "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"
    ).option("header", "true").csv(dest)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("double").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# --------------------------------------------------------------------
# Bucketed-table write → shuffle-free join read-back.
# --------------------------------------------------------------------
@register(
    "sink_bucketed_join_roundtrip",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM({SQL_CENTS.format(col='l_extendedprice')})
                AS BIGINT) AS revenue_cents
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("sink", "bucketed", "roundtrip"),
)
def sink_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem AND orders as tables bucketed on the join key
    (same bucket count), then join the two bucketed tables and
    aggregate. The oracle joins the ORIGINAL tables — a hash match
    proves the bucketed layout round-trips losslessly, while the
    bucketed-to-bucketed join itself runs with no exchange on either
    side (tests/test_sinks.py asserts the shuffle-free plan).

    Scale: bucketing pre-pays the join shuffle ONCE at write time —
    the decisive layout when a fact table is joined on the same key
    by many downstream queries; at 100 TB the bucket count is sized
    so each bucket file is one task's worth.
    """
    import uuid

    from filemapreduce_spark.sinks import write_bucketed

    suffix = uuid.uuid4().hex[:8]
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    t_li, t_od = f"rt_li_{suffix}", f"rt_od_{suffix}"
    _SCRATCH_TABLES.extend([t_li, t_od])
    write_bucketed(li, t_li, ["l_orderkey"], 8)
    write_bucketed(od, t_od, ["o_orderkey"], 8)
    bli = spark.table(t_li)
    bod = spark.table(t_od)
    return (
        bli.join(bod, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(cents("l_extendedprice")).alias("revenue_cents"),
        )
    )


# --------------------------------------------------------------------
# Z-ordered write → two-dimensional filtered read-back.
# --------------------------------------------------------------------
@register(
    "sink_zorder_roundtrip",
    """
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(p_size) AS BIGINT) AS size_sum
    FROM part
    WHERE p_size BETWEEN 10 AND 20
      AND p_retailprice BETWEEN 920 AND 960
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    tags=("sink", "zorder", "roundtrip"),
)
def sink_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write part z-ordered on (p_size, p_retailprice), read it back
    with predicates on BOTH dimensions, and aggregate; the oracle
    aggregates the original table. A hash match proves the
    Morton-interleaved layout round-trips losslessly — and the read
    exercises exactly the query the layout exists for: with the
    z-curve keeping per-file min/max tight on both columns, footer
    stats skip files for either predicate alone or both
    (tests/test_sinks.py asserts the two-dimensional range
    tightness vs 1-D clustering).

    Scale: the write is one cheap min/max agg + a range shuffle on
    the interleaved key; at 100 TB this is Delta/Hudi OPTIMIZE
    ZORDER in plain DataFrame ops.
    """
    from filemapreduce_spark.sinks import write_zordered

    base = t(spark, sf_dir, "part").select(
        "p_brand", "p_size", "p_retailprice"
    )
    dest = scratch_dir("zorder")
    write_zordered(base, dest, ("p_size", "p_retailprice"), n_files=8)
    back = spark.read.parquet(dest).where(
        F.col("p_size").between(10, 20)
        & F.col("p_retailprice").between(920, 960)
    )
    return (
        back.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("p_size").cast("long").alias("size_sum"),
        )
    )


@register(
    "sink_hilbert_roundtrip",
    """
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(p_size) AS BIGINT) AS size_sum,
           CAST(SUM(CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM part
    WHERE p_size BETWEEN 25 AND 40
      AND p_retailprice BETWEEN 940 AND 980
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    tags=("sink", "hilbert", "roundtrip"),
)
def sink_hilbert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write part HILBERT-clustered on (p_size, p_retailprice), read
    it back with predicates on BOTH dimensions, and aggregate; the
    oracle aggregates the original table. A hash match proves the
    curve layout round-trips losslessly, and the read is exactly the
    2-D range query the layout serves. Hilbert beats Morton/z-order
    on locality — successive curve positions are always Manhattan-
    adjacent (verified by tests/test_sinks.py bijection+adjacency
    planted checks), so per-file min/max boxes avoid the quadrant-
    jump outliers that widen z-order files — the layout behind
    Databricks liquid clustering and Iceberg's hilbert sort order.

    Scale: one min/max agg over the input, a 2^16-row driver LUT
    (config-bounded, data-independent) broadcast-joined on the
    quantized cell, then the same range shuffle + local sort as
    z-order — no Python in the row path at any SF.
    """
    from filemapreduce_spark.sinks import write_hilbert

    base = t(spark, sf_dir, "part").select(
        "p_brand", "p_size", "p_retailprice"
    )
    dest = scratch_dir("hilbert")
    write_hilbert(base, dest, ("p_size", "p_retailprice"), n_files=8)
    back = spark.read.parquet(dest).where(
        F.col("p_size").between(25, 40)
        & F.col("p_retailprice").between(940, 980)
    )
    return (
        back.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("p_size").cast("long").alias("size_sum"),
            F.sum(F.round(F.col("p_retailprice") * 100).cast("long"))
            .cast("long")
            .alias("price_cents"),
        )
    )


@register(
    "sink_manifest_exactly_once",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    tags=("sink", "engine", "roundtrip", "exactly-once"),
)
def sink_manifest_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once ingestion via a manifest-commit protocol (the
    Iceberg/Delta commit shape): each batch writes its data files to
    a UNIQUE subdirectory, then atomically records the subdirectory
    in a manifest; readers list the MANIFEST, not the directory.
    The test plants a failure: batch 1 is written TWICE (a retry
    after a simulated driver death that wrote files but not the
    manifest entry) and batch 2 once — three file-level writes, two
    manifest entries. Reading through the manifest must see each
    batch EXACTLY once, so the aggregate equals the oracle's plain
    aggregate over the source table. Reading the directory naively
    would double-count batch 1 — the exact failure mode the protocol
    exists to kill at 100 TB (speculative retries, zombie executors).

    Scale: the manifest is one tiny file per commit (list of paths);
    the read is spark.read.parquet(*committed_paths) — partition
    pruning and file skipping work unchanged under it.
    """
    import json
    import os
    import uuid

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    b1 = base.where(F.col("o_orderkey") % 2 == 0)
    b2 = base.where(F.col("o_orderkey") % 2 != 0)
    root = scratch_dir("manifest")
    manifest = os.path.join(root, "_manifest.json")

    def write_batch(df, commit: bool) -> str:
        sub = os.path.join(root, f"batch-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(sub)
        if commit:
            entries = []
            if os.path.exists(manifest):
                with open(manifest) as f:
                    entries = json.load(f)
            entries.append(sub)
            tmp = manifest + ".tmp"
            with open(tmp, "w") as f:
                json.dump(entries, f)
            os.replace(tmp, manifest)  # atomic commit point
        return sub

    write_batch(b1, commit=False)  # orphaned retry: files, no commit
    write_batch(b1, commit=True)  # successful batch-1 attempt
    write_batch(b2, commit=True)  # batch 2
    with open(manifest) as f:
        committed = json.load(f)
    # Core exactly-once invariant: the orphaned (uncommitted) batch
    # must be invisible to readers. An assert would vanish under
    # ``python -O`` and let a broken commit protocol read three
    # batches — fail loudly instead.
    if len(committed) != 2:
        raise RuntimeError(
            "manifest commit protocol broken: expected exactly 2 "
            f"committed batch paths, found {len(committed)}: {committed}"
        )
    back = spark.read.parquet(*committed)
    return (
        back.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).cast("long").alias("sum_cents"),
        )
    )
