"""The benchmark's workloads: inputs, one operation, and its check.

Every workload is a closed loop with one client: ``op`` returns only
when the operation is done, and the next starts after it. Spans around
the calls into each layer go to the run's tracer; when the tracer is
on, each Spark job is also tagged with the job group ``op<n>/<job>``
(``op<n>/<query>`` for the registry) so the event log can be split per
layer.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
from dataclasses import replace

from perfbench import tables, trees
from perfbench.spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def storage_bytes(spark) -> int:
    """Memory plus disk held by cached RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


class OpFailed(Exception):
    """An operation raised; ``where`` names the job."""

    def __init__(self, where: str, cause: BaseException) -> None:
        super().__init__(f"{where}: {type(cause).__name__}: {cause}")


class Workload:
    """Seeded inputs, one operation and its check."""

    name = ""

    def __init__(self, seed: int, work: str, tracer: Tracer) -> None:
        self.seed = seed
        self.work = work
        self.tracer = tracer
        # operation -> peak bytes of cached storage sampled during it
        self.storage_samples: dict[int, int] = {}
        self.n_input_files = 0
        self.digest = ""

    def prepare(self, spark, rep: int) -> None:
        """Write the seeded inputs (once per set-up repetition)."""
        raise NotImplementedError

    def before_op(self) -> None:
        """Untimed clean-up before each operation."""

    def op(self, spark, n: int):
        """Run operation ``n``; instrumented when ``self.tracer`` is on."""
        raise NotImplementedError

    def check(self, result) -> list[str]:
        """Names and reasons of the jobs or queries whose results are wrong."""
        raise NotImplementedError

    def _sample_storage(self, spark, n: int) -> None:
        self.storage_samples[n] = max(self.storage_samples.get(n, 0), storage_bytes(spark))


class SharedScan(Workload):
    """One ``FileEngine(spark, root=tree).run(jobs)`` per operation."""

    name = "engine_shared_scan"

    def prepare(self, spark, rep: int) -> None:
        """Write the seeded tree (once per set-up repetition)."""
        tree = trees.shared_scan_tree(self.seed)
        root = os.path.join(self.work, f"tree{rep}")
        tree.write(root)
        if rep:
            if tree.digest != self.digest:
                raise RuntimeError("the same seed gave two different trees")
            shutil.rmtree(self.root)
        self.tree, self.root, self.digest = tree, root, tree.digest
        self.n_input_files = len(tree.files)
        self.out_b0 = os.path.join(self.work, "out", "b0")
        self.jobs = self.make_jobs()

    def make_jobs(self):
        from pyspark.sql import functions as F

        from filemapreduce_spark import Job
        from filemapreduce_spark.sinks import write_partitioned

        def ints(df, *keep):
            """The integer lines of text files, beside the columns ``keep``."""
            return (df.select(*keep, F.explode(F.split("data", "\n")).alias("line"))
                    .select(*keep, F.col("line").cast("long").alias("v")))

        def top_ints(df):
            return ints(df.withColumn("top", F.split("path", "/")[0]), "top")

        def scalar(df):
            return df.collect()[0][0]

        def weighted(df):
            w = F.aggregate(F.transform("parents", lambda p: p["w"]),
                            F.lit(0).cast("long"), lambda acc, x: acc + x)
            return df.select(F.split("path", "/")[0].alias("top"),
                             (F.col("data.v") * w).alias("x"))

        def by_top(df):
            return df.groupBy("top").agg(F.sum("x").alias("x"))

        def as_dict(df):
            return {r["top"]: r["x"] for r in df.collect()}

        def write_b0(df):
            with self.tracer.span("sinks.write", sink="write_partitioned"):
                write_partitioned(df, self.out_b0, ["top"])

        return [
            Job(name="txt_lines", path_filter="**/*.txt", loader="text", mapper=ints,
                reducer=lambda df: df.agg(F.count("v")), finalizer=scalar),
            Job(name="txt_sum", path_filter="**/*.txt", loader="text", mapper=ints,
                reducer=lambda df: df.agg(F.sum("v")), finalizer=scalar),
            Job(name="a1_bytes", path_filter="a1/**",
                reducer=lambda df: df.agg(F.sum("length")), finalizer=scalar),
            Job(name="b0_files", path_filter="*/b0/*",
                reducer=lambda df: df.agg(F.count("path")), finalizer=scalar),
            Job(name="b0_written", path_filter="*/b0/*.txt", loader="text",
                mapper=top_ints, finalizer=write_b0),
            Job(name="parents_deep", path_filter="**/r*.json", loader="json:id BIGINT, v BIGINT",
                directory_files="**/meta.json", dir_loader="json:w BIGINT",
                mapper=weighted, reducer=by_top, finalizer=as_dict),
            Job(name="parents_top", path_filter="**/r*.json", loader="json:id BIGINT, v BIGINT",
                directory_files="*/meta.json", dir_loader="json:w BIGINT",
                mapper=weighted, reducer=by_top, finalizer=as_dict),
            Job(name="ordered_b1", path_filter="*/b1/*.txt", loader="text", mapper=ints,
                sort_key="v", reducer=lambda df: df.agg(F.collect_list("v")),
                finalizer=scalar),
            Job(name="all_files", path_filter="**", finalizer=lambda df: df.count()),
        ]

    def before_op(self) -> None:
        # a write that did not run must not pass on the last
        # operation's files
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)

    def op(self, spark, n: int):
        from filemapreduce_spark import FileEngine

        instrumented = self.tracer.enabled
        jobs = [self._wrap(spark, job, n, instrumented, last=job is self.jobs[-1])
                for job in self.jobs]
        if instrumented:
            set_group(spark, f"op{n}/_run")
        try:
            with self.tracer.span("core.engine.run", op=n):
                out = FileEngine(spark, root=self.root).run(jobs)
        except OpFailed:
            raise
        except Exception as e:
            raise OpFailed("FileEngine.run", e) from e
        finally:
            if instrumented:
                set_group(spark, None)
        return out

    def _wrap(self, spark, job, n, instrumented, last):
        finalizer = job.finalizer
        tracer = self.tracer

        def run(df):
            if instrumented:
                set_group(spark, f"op{n}/{job.name}")
            try:
                with tracer.span("core.engine.job_action", op=n, job=job.name,
                                 parents=job.directory_files is not None):
                    out = finalizer(df)
                    if instrumented or last:
                        # the shared scan is released right after the
                        # last job: sample before that
                        self._sample_storage(spark, n)
            except Exception as e:
                raise OpFailed(job.name, e) from e
            finally:
                if instrumented:
                    set_group(spark, f"op{n}/_run")
            return out

        return replace(job, finalizer=run)

    def check(self, result) -> list[str]:
        bad = [f"{j.name}: no result" for j in self.jobs if j.name not in result]
        for name, want in self.tree.expected.items():
            got = self._written_b0() if name == "b0_written" else result.get(name)
            if got != want:
                bad.append(f"{name}: got {str(got)[:80]}, want {str(want)[:80]}")
        return bad

    def _written_b0(self) -> dict[str, tuple[int, int]] | None:
        """(rows, sum) per top folder of what ``b0_written`` wrote."""
        import pyarrow.dataset as ds

        if not os.path.isdir(self.out_b0):
            return None
        table = ds.dataset(self.out_b0, format="parquet", partitioning="hive").to_table()
        got: dict[str, tuple[int, int]] = {}
        for top, v in zip(table.column("top").to_pylist(), table.column("v").to_pylist()):
            n, total = got.get(top, (0, 0))
            got[top] = (n + 1, total + v)
        return got


def _oracle_canon():
    """The oracle canonicalizer of ``scripts/check_oracle.py``."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.rows_to_canon


class RegistrySlice(Workload):
    """One pass over a slice of the query registry per operation."""

    name = "registry_slice"
    QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "neardup_minhash_lsh",
               "pandas_udf_char_classes")

    def prepare(self, spark, rep: int) -> None:
        """Write the seeded tables and compute every query's oracle
        result with DuckDB."""
        import duckdb

        from filemapreduce_spark.queries import load_all

        tbl = tables.write_tables(self.seed, os.path.join(self.work, f"tables{rep}"))
        if rep:
            if tbl.digest != self.digest:
                raise RuntimeError("the same seed gave two different tables")
            shutil.rmtree(self.tables_dir)
        self.tables_dir, self.digest = tbl.dir, tbl.digest
        self.n_input_files = len(os.listdir(tbl.dir))
        self.canon = _oracle_canon()
        self.registry = load_all()
        self.order = random.Random(self.seed).sample(self.QUERIES, len(self.QUERIES))
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(tbl.dir)):
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                            f"SELECT * FROM '{os.path.join(tbl.dir, f)}'")
            self.expected = {}
            for q in self.QUERIES:
                res = con.execute(self.registry[q].oracle)
                self.expected[q] = self.canon([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def op(self, spark, n: int):
        instrumented = self.tracer.enabled
        out = {}
        for q in self.order:
            if instrumented:
                set_group(spark, f"op{n}/{q}")
            try:
                with self.tracer.span("queries.build", op=n, query=q):
                    df = self.registry[q].fn(spark, self.tables_dir)
                with self.tracer.span("queries.exec", op=n, query=q):
                    rows = [tuple(r) for r in df.collect()]
                out[q] = (df.columns, rows)
                # a query may persist intermediates: sample before the
                # clear that releases them
                self._sample_storage(spark, n)
                spark.catalog.clearCache()
            except Exception as e:
                raise OpFailed(q, e) from e
            finally:
                if instrumented:
                    set_group(spark, None)
        return out

    def check(self, result) -> list[str]:
        bad = []
        for q in self.QUERIES:
            if q not in result:
                bad.append(f"{q}: no result")
            elif self.canon(*result[q]) != self.expected[q]:
                bad.append(f"{q}: rows differ from the DuckDB oracle")
        return bad


WORKLOADS = {w.name: w for w in (SharedScan, RegistrySlice)}
