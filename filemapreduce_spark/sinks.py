"""File sinks: partitioned and bucketed writes (SURVEY.md §2 Part B,
"Sinks").

The reference's only sink is the single-value ``Finalizer``
(``/root/reference/interfaces.go:68-78``); at 100 TB the real sinks
are partitioned columnar tables. These helpers encode the two layout
decisions that matter at scale:

- **Partitioned write** (`write_partitioned`): directory-level
  partitioning by low-cardinality columns → readers get partition
  PRUNING (a filter on the partition column skips whole directories
  before any IO).
- **Bucketed table** (`write_bucketed`): hash-bucketed (and
  sort-ordered) layout by a join/agg key → a join between two tables
  bucketed on the same key by the same bucket count runs with NO
  shuffle on either side.

Both are thin, typed wrappers over the DataFrameWriter so the engine's
job API can declare sinks instead of hand-writing writer chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    format: str = "parquet",
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` as a partitioned dataset.

    ``max_records_per_file`` bounds output file size (the 100 TB guard
    against both giant files and the small-files problem — pair it
    with an upstream ``repartition(partition_by)`` so each partition
    directory is written by few tasks).
    """
    w = df.write.mode(mode).format(format).partitionBy(*partition_by)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Save ``df`` as a bucketed (optionally sort-ordered) table.

    Bucketing is a table-catalog feature (bucket metadata lives in the
    metastore), hence ``saveAsTable`` rather than ``save(path)``.
    Joins/aggregations on ``bucket_by`` between tables with matching
    bucketing run shuffle-free (verified by tests/test_sinks.py
    asserting the absence of Exchange in the join plan).
    """
    w = (
        df.write.mode(mode)
        .format(format)
        .bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def compact_files(
    spark,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    format: str = "parquet",
) -> int:
    """Rewrite a dataset into ~``target_file_bytes`` files and return
    the output file count — the small-files compaction every long-
    running ingest needs (streaming sinks and over-parallel writers
    leave thousands of KB-sized files; each costs a task + an open at
    every downstream read).

    Sizing comes from the source's actual on-disk bytes (Hadoop
    ``getContentSummary``), not a driver-side collect; the rewrite is
    a single ``repartition(n)`` pass, so it scales as one shuffle of
    the data and parallelizes across the cluster. Row-group locality
    within files is preserved per-partition; pair with
    ``write_partitioned``/`sortWithinPartitions`` when the layout must
    also cluster by key.
    """
    jvm = spark._jvm
    jsc = spark._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = path.getFileSystem(conf)
    total_bytes = fs.getContentSummary(path).getLength()
    n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
    df = spark.read.format(format).load(src_path)
    df.repartition(n_files).write.mode("overwrite").format(format).save(
        dest_path
    )
    dest = jvm.org.apache.hadoop.fs.Path(dest_path)
    out = [
        f
        for f in fs.listStatus(dest)
        if f.getPath().getName().startswith("part-")
    ]
    return len(out)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered on ``cluster_by``: range-partition the
    rows on the key (contiguous, non-overlapping key ranges per
    output file) and sort within each partition.

    This is the layout play for range-predicate workloads (time-range
    scans, as-of joins, range joins): with disjoint per-file key
    ranges, parquet footer min/max statistics let readers skip whole
    files — the poor-man's z-order, and the right clustering when one
    dimension dominates the predicates. ``repartitionByRange`` samples
    the key distribution, so skewed keys still yield balanced files
    (contrast hash bucketing, which balances counts but scatters
    ranges across every file).
    """
    _range_write(df, [df[c] for c in cluster_by], path, n_files, format, mode)


def _range_write(df, keys, path, n_files, format, mode, drop=()) -> None:
    """Range-partition ``df`` on ``keys``, sort within each partition,
    drop the ``drop`` helper columns and write."""
    part = (
        df.repartitionByRange(n_files, *keys)
        if n_files
        else df.repartitionByRange(*keys)
    )
    part.sortWithinPartitions(*keys).drop(*drop).write.mode(mode).format(
        format
    ).save(path)


def _write_curve(
    df, path, cluster_by, bits, curve, n_files, format, mode
) -> None:
    """Shared body of the two-column curve writers: min/max-scale each
    cluster column to a ``bits``-bit cell coordinate, let ``curve(df,
    x, y)`` add the cell's curve position ``__k``, then range-partition,
    sort and write on it. Rows with a NULL in either cluster column get
    the dedicated position -1 (before every real cell).

    The min/max scaling pass is one cheap aggregate over the input. An
    empty input (or an all-NULL cluster column) yields NULL min/max;
    the bounds then default to [0, 1) and the write still produces a
    valid (possibly empty) dataset.
    """
    from pyspark.sql import functions as F

    c1, c2 = cluster_by
    bounds = df.agg(
        *(f(F.col(c).cast("double")) for c in cluster_by for f in (F.min, F.max))
    ).collect()[0]
    top = (1 << bits) - 1

    def scaled(c, lo, hi):
        if lo is None:
            lo, hi = 0.0, 1.0  # empty input / all-NULL column
        span = (hi - lo) or 1.0
        return F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - lo) * (top + 1) / span).cast(
                "long"
            ),
        )

    null = F.col(c1).isNull() | F.col(c2).isNull()
    keyed = curve(df, scaled(c1, *bounds[:2]), scaled(c2, *bounds[2:]))
    keyed = keyed.withColumn(
        "__k", F.when(null, F.lit(-1).cast("long")).otherwise(F.col("__k"))
    )
    _range_write(keyed, ["__k"], path, n_files, format, mode, drop=["__k"])


def _spread_bits_16(col):
    """Spread a 16-bit int's bits to even positions (Morton encode
    half): 0b1111 -> 0b01010101. Four shift/or/mask rounds, all JVM
    integer ops inside whole-stage codegen."""
    from pyspark.sql import functions as F

    x = col.cast("long")
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, str],
    n_files: int | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered on the Z-ORDER (Morton) curve of TWO
    numeric columns: each column is min/max-scaled to 16 bits (what
    ``_spread_bits_16`` spreads), the bit patterns are interleaved,
    and rows are range-partitioned + sorted by the interleaved key.

    Where ``write_clustered`` gives perfect file skipping on ONE
    dimension (and none on the others), the Z-curve keeps every file's
    min/max range tight on BOTH dimensions — the multi-dimensional
    file-skipping layout (Delta OPTIMIZE ZORDER BY / Hudi z-order).
    Right choice when predicates hit either column alone.

    The interleave is pure integer codegen (no UDF). Ties in the
    z-value are broken arbitrarily within a file — irrelevant for
    skipping, which only reads footer min/max.

    Degenerate inputs: rows with a NULL in either cluster column get
    the dedicated curve position -1 (before every real cell), so they
    cluster into their own leading file region instead of silently
    landing in the hottest corner cell and widening its min/max
    stats. Empty inputs: see ``_write_curve``.
    """
    from pyspark.sql import functions as F

    def curve(df, x, y):
        z = F.shiftleft(_spread_bits_16(x), 1).bitwiseOR(_spread_bits_16(y))
        return df.withColumn("__k", z)

    _write_curve(df, path, cluster_by, 16, curve, n_files, format, mode)


def hilbert_xy2d(x, y, bits: int):
    """Hilbert-curve index of 2-D cell(s) (x, y) on a 2^bits×2^bits
    grid — the standard xy2d inverse (Hamilton 2006 / Wikipedia
    formulation), VECTORIZED over numpy arrays. Used to build the
    curve lookup table driver-side (2^(2·bits) entries — config-
    bounded, data-independent); the per-row encode is then a
    broadcast hash join, keeping the row path JVM-side. (A fully
    unrolled column-expression encode is exponential in ``bits`` —
    the data-dependent rotate makes each round's x/y reference the
    previous round's twice — so the LUT join is the scale-correct
    form.)
    """
    import numpy as np

    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = 1 << (bits - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant: where ry==0 { if rx==1 reflect; swap(x,y) }
        flip = (ry == 0) & (rx == 1)
        x2 = np.where(flip, s - 1 - x, x)
        y2 = np.where(flip, s - 1 - y, y)
        nx = np.where(ry == 0, y2, x2)
        ny = np.where(ry == 0, x2, y2)
        x, y = nx, ny
        s >>= 1
    return d


def write_hilbert(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, str],
    n_files: int | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered on the HILBERT curve of two numeric
    columns — the same multi-dimensional file-skipping contract as
    ``write_zordered`` but with strictly better locality: successive
    curve positions are always Manhattan-adjacent cells (no Morton
    quadrant jumps), so per-file min/max boxes are tighter on average
    and range predicates skip more files (the layout behind
    Databricks liquid clustering and Iceberg's hilbert sort order).

    Cost shape: one min/max aggregate over the input; a driver-built
    2^(2·8)-row curve LUT (8 bits per column → 65,536 rows ≈ 1 MB —
    config-bounded, data-independent) broadcast-joined on the
    quantized (x, y) cell; then the same range shuffle + local sort
    as z-order. No Python in the row path.

    Degenerate inputs (same contract as ``write_zordered``): rows
    with a NULL in either cluster column get curve position -1 — a
    dedicated leading cell, not a silent clamp into the top corner —
    and NULL min/max bounds (empty input / all-NULL column) default
    to [0, 1) so the write still succeeds.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    bits = 8
    n = 1 << bits
    xs, ys = np.meshgrid(
        np.arange(n, dtype=np.int64), np.arange(n, dtype=np.int64),
        indexing="ij",
    )
    lut = df.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "__cell": (xs * n + ys).ravel(),
                "__k": hilbert_xy2d(xs.ravel(), ys.ravel(), bits),
            }
        )
    )

    def curve(df, x, y):
        # LEFT join: a row with a NULL cluster column has a NULL cell
        # and no LUT row — it must survive the join and take curve
        # position -1, not be dropped by an inner join.
        return (
            df.withColumn("__cell", x * n + y)
            .join(F.broadcast(lut), "__cell", "left")
            .drop("__cell")
        )

    _write_curve(df, path, cluster_by, bits, curve, n_files, format, mode)
