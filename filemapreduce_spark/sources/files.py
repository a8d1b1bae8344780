"""File sources: the engine's canonical ``files`` DataFrame.

The reference models a filesystem as ``List``/``Open`` over a rooted
tree (/root/reference/interfaces.go:89-94) with a disk implementation
(filesystem.go:15-42) and an in-memory virtual one for tests
(virtualFileSystem.go:9-33). The Spark-native equivalents:

- Disk: ``spark.read.format("binaryFile")`` with ``recursiveFileLookup``
  — Spark's InMemoryFileIndex does the listing/traversal (the
  reference's hand-rolled DFS at mapreduce.go:142-205), and
  ``pathGlobFilter`` provides listing-time pruning (the reference's
  ``CouldMatch`` subtree pruning, work.go:75-77). Works unchanged on
  HDFS/S3 via the Hadoop FS layer — this is the 100 TB path.
- Chunked disk or object store: ``read_files_chunked`` lists and opens
  every root, local or remote, through one ``pyarrow.fs.FileSystem``
  (one listing on the driver, one positioned reader in the tasks). It
  keeps Spark's hidden-path rule and reports ``mod_time`` at Spark's
  millisecond precision, so both scans of one tree list the same files
  with the same times.
- In-memory: ``files_from_memory`` builds the same shape from a dict
  (the reference's StaticVirtualFileSystem).

Split policy: Spark packs a binaryFile scan into partitions by charging
every file ``spark.sql.files.openCostInBytes`` (4 MB) on top of its
length, so a tree of small files becomes many near-empty partitions,
and every stage that reads the (shared, persisted) scan pays Spark's
fixed per-task cost once per partition. ``read_files`` sizes the scan
with Spark's own split-size rule (``FilePartition.maxSplitBytes``),
applied to the bytes the listing found, without the per-file
open-cost padding::

    split = min(maxPartitionBytes,
                max(openCostInBytes, ceil(bytes / defaultParallelism)))
    n     = max(1, ceil(bytes / split))

and applies ``n`` as a no-shuffle ``coalesce(n)`` only when it is
below the count Spark chose. The byte total is the relation's own size
statistic, taken from the listing Spark already made (no job, no
second listing). Trees of at least ``openCostInBytes x
defaultParallelism`` (16 MB on 4 cores) get ``max(defaultParallelism,
ceil(bytes / maxPartitionBytes))`` partitions: every core stays busy,
and on large trees, where the byte need reaches Spark's own count,
partitioning is unchanged. Smaller trees get ``ceil(bytes /
openCostInBytes)`` partitions, so a tree of a few hundred KB is one
partition. There is deliberately no ``defaultParallelism`` floor: by
Spark's own reasoning a split carrying less than one file-open's worth
of bytes costs more in per-task overhead than it wins in parallelism,
so an expensive mapper over a few-MB tree runs in fewer tasks, the
same trade-off Spark's file sources make. With one partition every
distribution an operator requires is already met, so an
order-insensitive reduce, the directory-file lookup and a partitioned
write run with no exchange.

Canonical schema: path STRING (relative, '/'-separated), content BINARY,
length LONG, mod_time TIMESTAMP.

Single-file size contract: the canonical DF materializes each file as
ONE ``content`` row, so a file is capped at the JVM byte-array /
single-cell limit (~2 GiB) and a multi-GB file makes its task a
straggler long before that. The reference's ``io.Reader`` streaming
loader (filesystem.go:12) has no whole-file equivalent here by
design. For oversized inputs use ``read_files_chunked`` (bounded
``chunk_bytes`` slices, one row per chunk, reassembly keys included);
``read_files(max_file_bytes=...)`` fails fast with the offending
paths before any content is read.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filemapreduce_spark.globs import Filter, as_filter

FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("length", T.LongType(), True),
        T.StructField("mod_time", T.TimestampType(), True),
    ]
)


# Hard ceiling of the whole-file row representation: one content cell
# is a JVM byte array (2^31-1 bytes). Files at/above this fail inside
# the scan with an opaque JVM error — read_files(max_file_bytes=...)
# turns that into a named, actionable failure up front.
WHOLE_FILE_LIMIT_BYTES = (1 << 31) - 1


def scan_partitions(
    total_bytes: int, parallelism: int, max_partition_bytes: int, open_cost: int
) -> int:
    """The split policy's partition count (module docstring): Spark's
    ``FilePartition.maxSplitBytes`` over ``total_bytes``, without the
    per-file open-cost padding."""
    per_core = -(-total_bytes // parallelism)
    split = min(max_partition_bytes, max(open_cost, per_core))
    return max(1, -(-total_bytes // split))


def read_files(
    spark: SparkSession,
    root: str,
    path_filter: Filter | str | None = None,
    max_file_bytes: int | None = None,
) -> DataFrame:
    """Recursive binary scan rooted at ``root`` → canonical files DF.

    ``path_filter``'s final segment becomes a ``pathGlobFilter`` so
    non-matching files are pruned at listing time (never opened); the
    full anchored regex is applied on the relative path for exactness.

    Partitions: Spark's split-size rule (``FilePartition.
    maxSplitBytes``) over the listed bytes, ``n = max(1, ceil(bytes /
    split))`` with ``split = min(maxPartitionBytes, max(
    openCostInBytes, ceil(bytes / defaultParallelism)))``, when that
    is fewer than Spark's file-count-driven split (a no-shuffle
    ``coalesce``); otherwise Spark's own split. There is no
    ``defaultParallelism`` floor: a tree below ``openCostInBytes x
    defaultParallelism`` (16 MB on 4 cores) gets fewer partitions than
    cores, down to one; larger trees get ``max(defaultParallelism,
    ceil(bytes / maxPartitionBytes))``. An unknown size never
    coalesces. See the module docstring.

    ``max_file_bytes`` (opt-in; costs one metadata-only listing job):
    fail fast with the offending paths if any matched file exceeds
    the limit, instead of an opaque mid-scan JVM failure at the
    ~2 GiB row ceiling (``WHOLE_FILE_LIMIT_BYTES``) or a multi-GB
    single-task straggler. Oversized inputs belong on
    ``read_files_chunked``.
    """
    flt = as_filter(path_filter)
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
    )
    glob = flt.filename_glob() if flt is not None else None
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)

    abs_root = os.path.abspath(root).rstrip("/")
    df = reader.load(abs_root)
    # the relation's size statistic: the listing's summed file lengths
    listed_bytes = int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    rel = F.regexp_replace(F.col("path"), "^.*?" + re.escape(abs_root) + "/", "")
    df = df.select(
        rel.alias("path"),
        F.col("content"),
        F.col("length"),
        F.col("modificationTime").alias("mod_time"),
    )
    if flt is not None:
        df = df.filter(F.col("path").rlike(flt.to_regex()))
    if max_file_bytes is not None:
        # column pruning drops `content`, so this reads footers/
        # listing metadata only — no file bytes
        over = (
            df.select("path", "length")
            .filter(F.col("length") > max_file_bytes)
            .limit(5)
            .collect()
        )
        if over:
            listing = ", ".join(
                f"{r['path']} ({r['length']:,} B)" for r in over
            )
            raise RuntimeError(
                f"read_files: file(s) exceed max_file_bytes="
                f"{max_file_bytes:,} and would breach the whole-file "
                f"row contract (~2 GiB cell ceiling / single-task "
                f"straggler): {listing}. Use read_files_chunked for "
                "oversized inputs."
            )
    # an unknown size (Long.MaxValue) needs more partitions than any
    # scan has, so it changes nothing
    conf = spark._jsparkSession.sessionState().conf()
    need = scan_partitions(
        listed_bytes,
        spark.sparkContext.defaultParallelism,
        conf.filesMaxPartitionBytes(),
        conf.filesOpenCostInBytes(),
    )
    if need < df._jdf.rdd().getNumPartitions():
        df = df.coalesce(need)
    return df


CHUNKED_FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("chunk_idx", T.LongType(), False),
        T.StructField("n_chunks", T.LongType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("file_length", T.LongType(), True),
        T.StructField("mod_time", T.TimestampType(), True),
    ]
)


def _hidden(name: str) -> bool:
    """Spark's file-listing rule (``HadoopFSUtils.
    shouldFilterOutPathName``): a name starting with ``.``, or with
    ``_`` unless it holds ``=``, or ending in ``._COPYING_`` is hidden;
    ``_metadata`` and ``_common_metadata`` names are kept."""
    exclude = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return exclude and not name.startswith(("_common_metadata", "_metadata"))


def _list_files(fs, base: str, flt: Filter | None, chunk_bytes: int) -> list:
    """Metadata-only recursive listing of ``base`` in ``fs`` → one
    ``(path, uri, length, mod_time, n_chunks)`` tuple per file.

    ``path`` is relative to ``base``; ``uri`` is the path within
    ``fs`` that tasks open. Files under a hidden name (``_hidden``) and
    files whose relative path the filter's anchored regex rejects are
    dropped — the same paths a Spark scan of the tree keeps.
    ``mod_time`` is cut to the millisecond, the precision of Spark's
    listing, so ``read_files`` and this scan report equal times.
    """
    import pyarrow.fs as pafs

    keep = re.compile(flt.to_regex()).search if flt is not None else None
    base = base.rstrip("/")
    rows = []
    for i in fs.get_file_info(pafs.FileSelector(base, recursive=True)):
        if i.type != pafs.FileType.File:
            continue
        rel = i.path[len(base) + 1 :] if i.path.startswith(base + "/") else i.path
        if any(map(_hidden, rel.split("/"))) or (keep is not None and not keep(rel)):
            continue
        mtime = i.mtime
        if mtime is not None:
            mtime = mtime.replace(microsecond=mtime.microsecond // 1000 * 1000)
        n_chunks = max(1, -(-i.size // chunk_bytes))
        rows.append((rel, i.path, i.size, mtime, n_chunks))
    return rows


_CHUNK_META_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("mod_time", T.TimestampType(), True),
        T.StructField("n_chunks", T.LongType(), False),
    ]
)


def read_files_chunked(
    spark: SparkSession,
    root: str,
    path_filter: Filter | str | None = None,
    chunk_bytes: int = 128 << 20,
    filesystem=None,
) -> DataFrame:
    """Chunked binary scan: one row per ``chunk_bytes`` slice of each
    file — the scale path for inputs beyond the whole-file row
    ceiling (``WHOLE_FILE_LIMIT_BYTES``) that ``read_files`` cannot
    represent (the reference streams these through its ``io.Reader``
    loader, filesystem.go:12).

    Shape: the chunk PLAN is built on the driver from one
    metadata-only listing (``get_file_info``, O(files), no bytes read,
    no Spark job) exploded to (path, chunk_idx, offset) rows, so a
    40 GiB file becomes 320 independent 128 MiB tasks instead of one
    straggler; each mapInPandas task then issues a positioned
    ``read_at`` for ONLY its [offset, offset+chunk_bytes) slice — a
    ranged GET on object stores, a seek on HDFS and local disk.
    Reassembly keys (chunk_idx, n_chunks, offset) ride along so
    loaders can sort-merge or boundary-patch downstream.

    Roots: every root is listed and opened through one
    ``pyarrow.fs.FileSystem`` (the reference's single ``List``/``Open``
    per backend, interfaces.go:89-94), resolved once on the driver by
    ``FileSystem.from_uri``: an existing local path (``data:v2``
    included) through its absolute path, otherwise the root as a URI
    (``/abs``, ``file:/abs``, ``file:///abs``, ``s3://``, ``gs://``,
    ``hdfs://``). Unsupported schemes fail fast at plan time. The
    resolved handle is shipped to executors in the task closure
    (pyarrow filesystems pickle).

    ``filesystem``: an explicit ``pyarrow.fs.FileSystem`` handle
    (a credentialed ``S3FileSystem``, a ``SubTreeFileSystem``, a
    ``PyFileSystem(FSSpecHandler(...))`` over any fsspec store) to use
    instead of resolving one; ``root`` is then a path WITHIN it.
    """
    import pandas as pd
    import pyarrow.fs as pafs

    root = str(root)
    if filesystem is not None:
        if not isinstance(filesystem, pafs.FileSystem):
            # fail at plan time with the wrapper named, instead of as an
            # opaque AttributeError deep inside get_file_info / task
            # deserialization (a raw fsspec object passed without the
            # PyFileSystem(FSSpecHandler(...)) wrapper is the likely
            # mistake)
            raise TypeError(
                "read_files_chunked: filesystem must be a"
                " pyarrow.fs.FileSystem; wrap fsspec filesystems as"
                " pyarrow.fs.PyFileSystem(pyarrow.fs.FSSpecHandler(fs))"
                f" (got {type(filesystem).__module__}."
                f"{type(filesystem).__qualname__})"
            )
        fs, base = filesystem, root
    else:
        try:
            fs, base = pafs.FileSystem.from_uri(
                os.path.abspath(root) if os.path.exists(root) else root
            )
        except Exception as e:
            raise NotImplementedError(
                f"read_files_chunked: unsupported or unreachable"
                f" filesystem root {root!r}: {e}"
            ) from e

    listing = _list_files(fs, base, as_filter(path_filter), chunk_bytes)
    total_chunks = sum(row[-1] for row in listing)
    plan = (
        spark.createDataFrame(listing, _CHUNK_META_SCHEMA)
        .withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)),
        )
        .withColumn("offset", F.col("chunk_idx") * F.lit(chunk_bytes))
        # One task per chunk, like Spark's own maxPartitionBytes file
        # splits — and the count must be EXPLICIT: the chunk-plan rows
        # are a few KB of metadata, so a column-only repartition is
        # AQE-coalescible (REPARTITION_BY_COL) and adaptive execution
        # would merge the whole plan into ~one partition, serializing
        # every 128 MiB ranged read behind a single task. The count
        # comes from the driver's listing, clamped to 65536 so a
        # 100 TB corpus still plans instantly — above the clamp each
        # task reads a handful of contiguous chunks, which is fine.
        .repartition(
            max(1, min(total_chunks, 65536)), "path", "chunk_idx"
        )
    )

    def _read_slices(batches):
        for pdf in batches:
            contents = []
            for uri, off in zip(pdf["uri"], pdf["offset"]):
                with fs.open_input_file(uri) as f:
                    contents.append(f.read_at(chunk_bytes, int(off)))
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "chunk_idx": pdf["chunk_idx"],
                    "n_chunks": pdf["n_chunks"],
                    "offset": pdf["offset"],
                    "content": contents,
                    "file_length": pdf["length"],
                    "mod_time": pdf["mod_time"],
                }
            )

    return plan.mapInPandas(_read_slices, CHUNKED_FILES_SCHEMA)


def files_from_memory(
    spark: SparkSession, files: dict[str, str | bytes]
) -> DataFrame:
    """Virtual filesystem: dict of relative path → content.

    Parity: /root/reference/virtualFileSystem.go:9-33 (test double).
    """
    rows = []
    for path, content in files.items():
        data = content.encode("utf-8") if isinstance(content, str) else bytes(content)
        rows.append((path, data, len(data), None))
    return spark.createDataFrame(rows, FILES_SCHEMA)


def with_text(df: DataFrame, encoding: str = "UTF-8") -> DataFrame:
    """Add a decoded ``text`` column from ``content`` bytes."""
    return df.withColumn("text", F.decode(F.col("content"), encoding))
