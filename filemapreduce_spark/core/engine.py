"""Job API + shared-scan engine: the reference's query lifecycle, Spark-first.

Reference lifecycle (/root/reference/mapreduce.go:12, SURVEY §3): N Jobs
— each ``{Filter, DirectoryFiles, Mapper, Sorter, Reducer, Finalizer}``
(jobs.go:9-20) — run over ONE filesystem traversal, every file opened
and parsed once regardless of how many jobs consume it (jobs.go:3-5,
mapreduce.go:176-184).

Spark-native translation:

- The traversal/IO/worker-pool machinery (mapreduce.go:39-93,
  142-205, 258-342) is Spark's scheduler + datasource layer — we write
  none of it.
- SCAN SHARING, the reference's one real optimization that Spark does
  NOT do automatically across actions, is implemented by persisting the
  canonical files DataFrame once and running every job's (lazy)
  pipeline against it; each job is one action.
- Per-job routing is keyed by job identity (dict name → pipeline),
  which deliberately fixes the reference's aggregator wiring bug
  (mapreduce.go:162-171 routes by position in the filtered subset —
  SURVEY §2 quirk 1).
- Map = a declarative DataFrame transform (preferred — stays in
  whole-stage codegen) or a Pandas-batched ``mapInPandas`` for
  imperative mappers (the reference's ``Map`` fn, interfaces.go:17-27).
- Sorted reduce (interfaces.go:31-48, mapreduce.go:356-399): Spark
  aggregations are order-insensitive, so a sort only matters for
  order-SENSITIVE reducers; for those we produce a deterministic
  global order (the reference only ever sorted per-batch and left the
  tail unsorted — quirk 2 — our semantics are the intended ones).
- Map-only jobs (Reducer==nil, mapreduce.go:344-354) return/write the
  mapped frame directly.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from filemapreduce_spark.core.parents import attach_parents
from filemapreduce_spark.globs import Filter, as_filter
from filemapreduce_spark.sources.files import files_from_memory, read_files

# A loader turns the raw content column into the typed ``data`` column
# (the reference's LoaderFunc, /root/reference/filesystem.go:12 — parse
# once per file, shared by all consumers via the persisted files DF).
LoaderSpec = Callable[[Column], Column] | str | None


def _loader_column(loader: LoaderSpec, strict: bool = False) -> Column:
    content = F.col("content")
    # strict=True → FAILFAST: the first malformed record aborts the
    # job with Spark's parse error (the reference's loader-error
    # propagation, filesystem.go:49-65 + first-error-wins abort,
    # mapreduce.go:25-31). Default PERMISSIVE yields null fields and
    # lets the mapper decide.
    options = {"mode": "FAILFAST"} if strict else {}
    if loader is None or loader == "bytes":
        return content
    if loader == "text":
        return F.decode(content, "UTF-8")
    if isinstance(loader, str) and loader.startswith("json:"):
        schema_ddl = loader[len("json:"):]
        return F.from_json(F.decode(content, "UTF-8"), schema_ddl, options)
    if isinstance(loader, str) and loader.startswith("csv:"):
        # one CSV record per file (header-less); multi-record files go
        # through a mapper that splits lines before from_csv
        schema_ddl = loader[len("csv:"):]
        return F.from_csv(F.decode(content, "UTF-8"), F.lit(schema_ddl), options)
    if callable(loader):
        return loader(content)
    raise ValueError(f"unknown loader spec: {loader!r}")


@dataclass
class Job:
    """Declarative job spec (parity: /root/reference/jobs.go:9-20).

    - name: unique id; results are routed by it.
    - path_filter: glob/Filter choosing this job's data files.
    - mapper: DataFrame → DataFrame over columns
      (path, data[, parents]) — 0..n output rows per file (flatMap
      semantics, interfaces.go:17-27). None = identity.
    - directory_files: glob/Filter for hierarchical metadata files;
      adds a root-first ``parents`` array column (interfaces.go:13-18).
    - loader: how to parse content → data ("bytes" | "text" |
      "json:<ddl>" | "csv:<ddl>" | Column fn). Directory files reuse
      it unless ``dir_loader`` overrides.
    - sort_key: column name(s)/Column(s); establishes a deterministic
      global order before an order-sensitive reducer (Sorter,
      interfaces.go:31-48). CAVEAT: by default this funnels the whole
      mapped output through ONE partition (the reference's
      single-reducer semantics) — on a large mapped stream this
      serializes the reduce. Leave unset for order-insensitive
      reducers, which run fully distributed; set ``sort_partitions``
      to keep order-sensitive reduces parallel (below).
    - sort_partitions: scalable alternative to the single-reducer
      funnel. With N > 1 the sorted stream is range-partitioned on
      the LEADING sort key and locally sorted on the full key
      (``repartitionByRange(N, key[0])`` + ``sortWithinPartitions``):
      the layout is still globally ordered (partition i's leading
      keys all precede partition i+1's, rows fully sorted within
      each) and every distinct leading-key run lands whole in one
      partition, but the reduce runs N-wide. Valid whenever the
      reducer is KEY-RUN-DECOMPOSABLE — its output over the full
      sorted stream equals the union of its outputs over contiguous
      leading-key ranges (true for grouped sequential folds whose
      state resets per leading key; NOT true for a single global fold
      carrying state across keys — those still need the default N=1
      funnel).
    - reducer: DataFrame → DataFrame aggregation. None = map-only job
      (mapreduce.go:344-354).
    - finalizer: DataFrame → Any action (sink). None = return the
      (lazy) DataFrame (Finalizer, interfaces.go:68-78).
    - strict_parse: False (default) parses json:/csv: PERMISSIVE —
      malformed content yields null fields and the pipeline keeps
      going, the mapper decides. True parses FAILFAST: the first
      malformed record aborts the job — the reference's loader-error
      semantics (filesystem.go:49-65 error return; first-error-wins
      abort, mapreduce.go:25-31).
    """

    name: str
    path_filter: Filter | str = "**"
    mapper: Callable[[DataFrame], DataFrame] | None = None
    directory_files: Filter | str | None = None
    loader: LoaderSpec = "bytes"
    dir_loader: LoaderSpec = None
    sort_key: Any = None
    sort_partitions: int = 1
    reducer: Callable[[DataFrame], DataFrame] | None = None
    finalizer: Callable[[DataFrame], Any] | None = None
    strict_parse: bool = False


@dataclass
class FileEngine:
    """Shared-scan executor for N jobs over one files DataFrame.

    Construct from a root directory (disk/HDFS/S3 — anything the Hadoop
    FS layer reaches) or an explicit files DF (e.g. the in-memory VFS).

    Single-file size contract: loaders see each file as ONE
    ``content`` row, so a file is bounded by Spark's
    ``spark.sql.sources.binaryFile.maxLength`` (default 2^31-1 bytes;
    the scan fails with an error naming the file) and a multi-GB file
    is a one-task straggler well before that. Set that conf lower to
    fail earlier, and route big inputs through ``read_files_chunked``
    (bounded slices + reassembly keys) with a chunk-aware mapper.
    """

    spark: SparkSession
    root: str | None = None
    files_df: DataFrame | None = None

    @classmethod
    def from_memory(
        cls, spark: SparkSession, files: dict[str, str | bytes]
    ) -> "FileEngine":
        return cls(spark, files_df=files_from_memory(spark, files))

    def _files(self) -> DataFrame:
        if self.files_df is not None:
            return self.files_df
        if self.root is None:
            raise ValueError("FileEngine needs either root or files_df")
        return read_files(self.spark, self.root)

    def plan(self, job: Job, files: DataFrame | None = None) -> DataFrame:
        """Build one job's (lazy) DataFrame pipeline."""
        n = job.sort_partitions
        if not isinstance(n, int) or isinstance(n, bool) or n < 1:
            raise ValueError(
                f"sort_partitions must be an int >= 1, got {n!r}"
            )
        if n > 1 and (job.sort_key is None or job.reducer is None):
            # the setting only means anything on the sorted-reduce
            # path; a Job that sets it while forgetting sort_key (or
            # the reducer) would otherwise run silently unordered
            raise ValueError(
                "sort_partitions > 1 requires both sort_key and "
                "reducer (it configures the ranged ordered reduce); "
                f"got sort_partitions={n} with "
                f"sort_key={job.sort_key!r}, "
                f"reducer={'set' if job.reducer else None!r}"
            )
        if job.sort_key is not None and job.reducer is None:
            # same silent-misconfiguration class: sorting feeds the
            # reduce input (the reference sorts batches on their way
            # into the single reducer, mapreduce.go:401-431) — with no
            # reducer the key is dead and the output would silently be
            # unordered
            raise ValueError(
                "sort_key requires a reducer (it orders the reduce "
                f"input); got sort_key={job.sort_key!r} with "
                "reducer=None"
            )
        files = files if files is not None else self._files()
        flt = as_filter(job.path_filter)
        data = files.filter(F.col("path").rlike(flt.to_regex()))
        data = data.withColumn(
            "data", _loader_column(job.loader, strict=job.strict_parse)
        )

        if job.directory_files is not None:
            payload = _loader_column(
                job.dir_loader or job.loader, strict=job.strict_parse
            )
            data = attach_parents(
                files, data, job.directory_files, payload
            )

        mapped = job.mapper(data) if job.mapper is not None else data

        if job.reducer is not None:
            if job.sort_key is not None:
                # Deterministic order for order-sensitive reducers: the
                # reference funnels everything into ONE reducer
                # goroutine (mapreduce.go:401-431). Ranges on the
                # LEADING key, each sorted on the full key: at the
                # default sort_partitions=1 one sorted partition
                # (``Exchange SinglePartition`` + ``Sort``). WARNING —
                # that serializes the reduce: the WHOLE mapped output
                # moves through one task, a deliberate scale trade-off
                # (faithful to the reference), not a default.
                # Order-INSENSITIVE reducers must leave sort_key unset:
                # aggregation then runs partial+final fully distributed,
                # and tests assert no single-partition funnel in their
                # plans. sort_partitions > 1 runs the reduce N-wide with
                # a globally ordered layout and each leading-key run
                # whole in one partition — valid for key-run-
                # decomposable reducers (see Job); ranges on a composite
                # key would split a run at a tuple boundary.
                keys = job.sort_key
                if not isinstance(keys, (list, tuple)):
                    keys = [keys]
                mapped = mapped.repartitionByRange(
                    n, keys[0]
                ).sortWithinPartitions(*keys)
            return job.reducer(mapped)
        return mapped

    def run(
        self, jobs: list[Job], with_metrics: bool = False
    ) -> dict[str, Any]:
        """Execute all jobs over a single shared scan.

        With more than one job, the canonical files DF — every file's
        path, content bytes, length and mod time — is persisted
        ``MEMORY_AND_DISK`` so each file is read once no matter how
        many jobs consume it (the reference's scan sharing, jobs.go:3-5);
        loaders run per job over the cached bytes. A ``files_df`` the
        caller already persisted is used as is and left cached. A disk
        root keeps ``read_files``' partitioning (Spark's split-size
        rule over the listed bytes; see ``read_files``), so every stage
        that reads the cache runs that many tasks; an explicit
        ``files_df`` keeps its own partitioning. Each job then triggers
        exactly one action (its finalizer, or nothing if it stays
        lazy).

        ``with_metrics=True`` attaches an ``Observation`` to each
        job's mapped frame: the returned dict gains a ``"_metrics"``
        entry mapping job name → {rows_mapped} collected DURING the
        job's own action — observability with zero extra scans (an
        `observe()` rides the existing plan; a separate count() would
        re-run it). Jobs without a finalizer stay lazy and report no
        metrics.
        """
        if not jobs:
            return {}
        names = [j.name for j in jobs]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate job names: {names}")

        files = self._files()
        # a cache the caller made is theirs: neither re-persisted nor
        # released here
        owned = len(jobs) > 1 and files.storageLevel == StorageLevel.NONE
        if owned:
            files = files.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            results: dict[str, Any] = {}
            metrics: dict[str, dict[str, Any]] = {}
            for job in jobs:
                obs = None
                if with_metrics and job.finalizer is not None:
                    from pyspark.sql import Observation

                    obs = Observation(f"fmr_{job.name}")
                    orig_mapper = job.mapper

                    def observed_mapper(df, _orig=orig_mapper, _obs=obs):
                        mapped = _orig(df) if _orig is not None else df
                        return mapped.observe(
                            _obs, F.count(F.lit(1)).alias("rows_mapped")
                        )

                    job = replace(job, mapper=observed_mapper)
                out = self.plan(job, files)
                if job.finalizer is not None:
                    results[job.name] = job.finalizer(out)
                    if obs is not None:
                        metrics[job.name] = obs.get
                else:
                    results[job.name] = out
            if with_metrics:
                results["_metrics"] = metrics
            return results
        finally:
            if owned:
                # lazily-returned DataFrames still benefit while the
                # session lives; unpersist only frees the cache eagerly
                # when every job had a finalizer (i.e. already ran).
                if all(j.finalizer is not None for j in jobs):
                    files.unpersist()
