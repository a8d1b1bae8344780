"""Pluggable filesystem as a first-class Spark data source.

The reference exposes a ``FileSystem`` interface — ``List(path)`` /
``Open(path)`` (/root/reference/interfaces.go:89-94) — so users can
plug custom backends (disk at filesystem.go:15-42, in-memory at
virtualFileSystem.go:9-33). The Spark-native equivalent of "implement
the interface" is the Python DataSource API: this module registers a
``fmr_vfs`` format whose reader serves the engine's canonical files
schema (path/content/length/mod_time) from a JSON manifest, with
partition planning so the listing parallelizes across executors (the
reference's worklist distribution, mapreduce.go:142-205 — here Spark
schedules the partitions).

Usage::

    register_vfs_source(spark)
    files = (spark.read.format("fmr_vfs")
             .option("manifest", "/path/to/manifest.json")
             .load())
    FileEngine(spark, files_df=files).run(jobs)

The manifest maps relative path → text content. Real deployments
would back the same reader with any listable/openable store (an
object-store inventory table, a tar archive index, a database of
blobs) — the contract is exactly List/Open.
"""

from __future__ import annotations

import json
import zlib

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

_N_PARTITIONS = 8


def _row(path: str, text: str) -> tuple:
    """One files-schema row; ``length`` is the content's BYTE length."""
    content = text.encode("utf-8")
    return (path, content, len(content), None)


class _VfsReader(DataSourceReader):
    def __init__(self, options):
        self.manifest_path = options.get("manifest")
        if not self.manifest_path:
            raise ValueError("fmr_vfs requires option 'manifest'")
        self.n_partitions = int(options.get("partitions", _N_PARTITIONS))

    def partitions(self):
        # Plan one partition per hash bucket of the path space; each
        # executor task re-reads only the manifest (small) and serves
        # its bucket — the listing itself is distributed.
        return [InputPartition(i) for i in range(self.n_partitions)]

    def read(self, partition):
        with open(self.manifest_path) as fh:
            manifest = json.load(fh)
        for path in sorted(manifest):
            # crc32, not hash(): Python's hash() is salted per process,
            # and partition membership must agree across executors
            bucket = zlib.crc32(path.encode("utf-8")) % self.n_partitions
            if bucket != partition.value:
                continue
            yield _row(path, manifest[path])


class _VfsStreamReader(SimpleDataSourceStreamReader):
    """Streaming List/Open: each micro-batch serves the manifest
    entries that appeared since the last committed offset (offset =
    count of consumed paths in sorted order — the manifest is
    append-only, like an object-store listing).

    This is the reference's traversal loop (mapreduce.go:142-205) run
    CONTINUOUSLY: new files are discovered and mapped incrementally
    with exactly-once offsets, which is the Spark answer to the
    reference's unused incremental-reduce hook (readme.md:43-44) at
    the source level."""

    def __init__(self, options):
        self.manifest_path = options.get("manifest")
        if not self.manifest_path:
            raise ValueError("fmr_vfs requires option 'manifest'")

    def _paths(self):
        with open(self.manifest_path) as fh:
            manifest = json.load(fh)
        return manifest, sorted(manifest)

    def initialOffset(self):
        return {"idx": 0}

    def _rows(self, paths, manifest):
        # a LIST, not a generator: the runtime pickles the batch for
        # its prefetch cache (replay between read and commit)
        return [_row(p, manifest[p]) for p in paths]

    def read(self, start):
        manifest, paths = self._paths()
        return (
            self._rows(paths[start["idx"] :], manifest),
            {"idx": len(paths)},
        )

    def readBetweenOffsets(self, start, end):
        manifest, paths = self._paths()
        return self._rows(paths[start["idx"] : end["idx"]], manifest)


class VfsDataSource(DataSource):
    """``fmr_vfs``: the reference's FileSystem interface as a Spark
    data source (List/Open behind a format string), batch AND
    streaming (incremental file arrival with exactly-once offsets)."""

    @classmethod
    def name(cls) -> str:
        return "fmr_vfs"

    def schema(self) -> str:
        return "path string, content binary, length long, mod_time timestamp"

    def reader(self, schema):
        return _VfsReader(self.options)

    def simpleStreamReader(self, schema):
        return _VfsStreamReader(self.options)


def register_vfs_source(spark: SparkSession) -> None:
    spark.dataSource.register(VfsDataSource)
