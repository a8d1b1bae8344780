"""Golden E2E ports of the reference's test suite (FIXTURES.md §A).

Each test reproduces a hard-coded golden value from
/root/reference/mapreduce_test.go on the same fixture data, executed
through the Spark-native engine.
"""

import contextlib

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark import FileEngine, Job
from filemapreduce_spark.sources.files import files_from_memory, read_files

# FIXTURES.md §A2 — numbers_tree (testFixtures/a, trailing newlines as
# in the reference files)
NUMBERS_TREE = {
    "a/b/d.txt": "1\n23\n4\n",
    "a/b/e.txt": "23\n4\n5\n8\n",
    "a/c/f.txt": "123\n4\n",
}

# FIXTURES.md §A3 — json docs example (mapreduce_test.go:553-603)
JSON_DOC_TREE = {
    "parent.json": '{"value": 2}',
    "folder/child.json": '{"value": 3}',
    "folder/child2.json": '{"value": 4}',
    "folder/file.txt": "not json",
}

# FIXTURES.md §A4 — deep_tree (mapreduce_test.go:431-503)
DEEP_TREE = {
    "file.txt": "even more content",
    "folder/file.txt": "more content",
    "folder/folder/file.txt": "content",
    "folder/folder/folder/map.txt": "map content",
}


def _lines(df):
    """flatMap: one row per newline-terminated line (non-empty)."""
    return df.select(
        F.explode(F.split(F.col("data"), "\n")).alias("line")
    ).filter(F.col("line") != "")


def test_map_only_path_selection(spark):
    """Glob */c/*.txt maps only a/c/f.txt (mapreduce_test.go:56-79)."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    out = eng.run(
        [
            Job(
                name="select",
                path_filter="*/c/*.txt",
                loader="text",
                finalizer=lambda df: sorted(r.path for r in df.select("path").collect()),
            )
        ]
    )
    assert out["select"] == ["a/c/f.txt"]


def test_line_count_9(spark):
    """Newline count over **/*.txt == 9 (mapreduce_test.go:106-137)."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    out = eng.run(
        [
            Job(
                name="lines",
                path_filter="**/*.txt",
                loader="text",
                mapper=_lines,
                reducer=lambda df: df.agg(F.count("*").alias("n")),
                finalizer=lambda df: df.collect()[0]["n"],
            )
        ]
    )
    assert out["lines"] == 9


def test_sum_195(spark):
    """Sum of all integers == 195 (mapreduce_test.go:139-183)."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    out = eng.run(
        [
            Job(
                name="sum",
                path_filter="**/*.txt",
                loader="text",
                mapper=lambda df: _lines(df).select(
                    F.col("line").cast("long").alias("v")
                ),
                reducer=lambda df: df.agg(F.sum("v").alias("s")),
                finalizer=lambda df: df.collect()[0]["s"],
            )
        ]
    )
    assert out["sum"] == 195


def test_multi_job_shared_scan(spark):
    """N jobs, one scan, per-job routing by identity — including the
    differing-filters case that trips the reference's aggregator wiring
    bug (SURVEY §2 quirk 1; mapreduce.go:162-171)."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    out = eng.run(
        [
            Job(
                name="count_b",
                path_filter="a/b/*.txt",
                loader="text",
                mapper=_lines,
                reducer=lambda df: df.agg(F.count("*").alias("n")),
                finalizer=lambda df: df.collect()[0]["n"],
            ),
            Job(
                name="sum_all",
                path_filter="**/*.txt",
                loader="text",
                mapper=lambda df: _lines(df).select(
                    F.col("line").cast("long").alias("v")
                ),
                reducer=lambda df: df.agg(F.sum("v").alias("s")),
                finalizer=lambda df: df.collect()[0]["s"],
            ),
            Job(
                name="files_c",
                path_filter="*/c/*",
                finalizer=lambda df: df.count(),
            ),
        ]
    )
    assert out["count_b"] == 7
    assert out["sum_all"] == 195
    assert out["files_c"] == 1


def test_directory_files_child_times_parent(spark):
    """child.value × parent.value == 6 (mapreduce_test.go:403-429)."""
    eng = FileEngine.from_memory(
        spark,
        {
            "parent.json": '{"value": 2}',
            "subfolder/child.json": '{"value": 3}',
        },
    )
    out = eng.run(
        [
            Job(
                name="mul",
                path_filter="*/*.json",
                directory_files="*.json",
                loader="json:value INT",
                mapper=lambda df: df.select(
                    (
                        F.col("data.value")
                        * F.col("parents")[0]["value"]
                    ).alias("product")
                ),
                finalizer=lambda df: [r.product for r in df.collect()],
            )
        ]
    )
    assert out["mul"] == [6]


def test_doc_example_sum_14(spark):
    """sum(child×parent) == 14 over the doc-example tree
    (mapreduce_test.go:553-603)."""
    eng = FileEngine.from_memory(spark, JSON_DOC_TREE)
    out = eng.run(
        [
            Job(
                name="docsum",
                path_filter="*/*.json",
                directory_files="*.json",
                loader="json:value INT",
                mapper=lambda df: df.select(
                    (
                        F.col("data.value")
                        * F.col("parents")[0]["value"]
                    ).alias("product")
                ),
                reducer=lambda df: df.agg(F.sum("product").alias("s")),
                finalizer=lambda df: df.collect()[0]["s"],
            )
        ]
    )
    assert out["docsum"] == 14


def test_parents_depth_and_root_first_order(spark):
    """map.txt sees 3 parents root-first (mapreduce_test.go:431-471);
    two directory files in one folder are both kept, ordered by
    payload; a null payload (here: an empty file) keeps its slot."""
    cases = {
        "goldens": ({}, ["even more content", "more content", "content"]),
        "two_in_one_folder": (
            {"folder/file2.txt": "a second file"},
            ["even more content", "a second file", "more content", "content"],
        ),
        "null_payload": (
            {"folder/file.txt": ""},
            ["even more content", None, "content"],
        ),
    }
    for case, (extra, expected) in cases.items():
        eng = FileEngine.from_memory(spark, {**DEEP_TREE, **extra})
        out = eng.run(
            [
                Job(
                    name="deep",
                    path_filter="**/map.txt",
                    directory_files="**",  # every file is a potential dir file
                    loader="text",
                    dir_loader=lambda c: F.nullif(
                        F.decode(c, "UTF-8"), F.lit("")
                    ),
                    mapper=lambda df: df.select("path", "parents"),
                    finalizer=lambda df: df.collect(),
                )
            ]
        )
        rows = out["deep"]
        assert len(rows) == 1, case
        assert rows[0].path == "folder/folder/folder/map.txt", case
        # root-first: depth ascending
        assert rows[0].parents == expected, case


def test_parents_per_job_scoping(spark):
    """DirectoryFiles='file.txt' sees 1 parent; '**/file.txt' sees 2 —
    per-job stacks, subfolders-only scope (mapreduce_test.go:472-503)."""
    eng = FileEngine.from_memory(spark, DEEP_TREE)
    out = eng.run(
        [
            Job(
                name="root_only",
                path_filter="**/map.txt",
                directory_files="file.txt",
                loader="text",
                mapper=lambda df: df.select("parents"),
                finalizer=lambda df: df.collect()[0].parents,
            ),
            Job(
                name="nested_only",
                path_filter="**/map.txt",
                directory_files="**/file.txt",
                loader="text",
                mapper=lambda df: df.select("parents"),
                finalizer=lambda df: df.collect()[0].parents,
            ),
        ]
    )
    assert out["root_only"] == ["even more content"]
    assert out["nested_only"] == ["more content", "content"]


def test_directory_file_not_visible_to_siblings(spark):
    """A directory file scopes to subfolders only — sibling files see an
    empty stack (work.go:68-100)."""
    eng = FileEngine.from_memory(
        spark,
        {"folder/meta.json": '{"value": 1}', "folder/data.json": '{"value": 9}'},
    )
    out = eng.run(
        [
            Job(
                name="sib",
                path_filter="*/data.json",
                directory_files="*/meta.json",
                loader="json:value INT",
                mapper=lambda df: df.select("path", "parents"),
                finalizer=lambda df: df.collect(),
            )
        ]
    )
    assert out["sib"][0].parents == []


def _partitions_job():
    return Job(name="n", finalizer=lambda df: df.rdd.getNumPartitions())


def _write_tree(root, tree):
    for rel, text in tree.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(text)
    return sum(len(t) for t in tree.values())


@contextlib.contextmanager
def _files_conf(spark, name, value):
    """Set ``spark.sql.files.<name>`` for a block, then restore it."""
    key = f"spark.sql.files.{name}"
    before = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, before)


def test_disk_scan_partitions_sized_by_bytes(spark, tmp_path):
    """A disk scan gets Spark's split-size rule over its listed bytes,
    ``ceil(bytes / split)`` with ``split = min(maxPartitionBytes,
    max(openCostInBytes, ceil(bytes / defaultParallelism)))``, not one
    partition per few files: a tree far below one open cost per core
    is one partition. The byte total comes from the listing, with no
    Spark job; an explicit files DF keeps its own partitioning."""
    import math

    tree = {
        f"d{i % 7}/s{i % 11}/f{i}.txt": "x" * (40 + i % 90) for i in range(300)
    }
    total = _write_tree(tmp_path, tree)
    sc = spark.sparkContext
    dp = sc.defaultParallelism

    sc.setJobGroup("read_files_listing", "read_files_listing")
    try:
        read_files(spark, str(tmp_path))
        assert sc.statusTracker().getJobIdsForGroup("read_files_listing") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    eng = FileEngine(spark, root=str(tmp_path))
    assert eng.run([_partitions_job()])["n"] == 1

    # a lowered maxPartitionBytes: never coalesced below the byte need
    max_bytes = total // (dp + 8)
    with _files_conf(spark, "maxPartitionBytes", max_bytes):
        need = math.ceil(total / max_bytes)
        assert need > dp
        assert eng.run([_partitions_job()])["n"] == need

    # an open cost of a third of the tree: the split is that cost (or
    # one core's share of bytes, if larger)
    cost = math.ceil(total / 3)
    with _files_conf(spark, "openCostInBytes", cost):
        n = eng.run([_partitions_job()])["n"]
    assert n == math.ceil(total / max(cost, math.ceil(total / dp)))
    assert n == 3 or dp < 3

    # an explicit files DF (size unknown to Spark) keeps its partitions
    files = {f"f{i}": "x" for i in range(300)}
    mem = files_from_memory(spark, files)
    assert (
        FileEngine.from_memory(spark, files).run([_partitions_job()])["n"]
        == mem.rdd.getNumPartitions()
    )
    wide = mem.repartition(3 * dp)
    assert FileEngine(spark, files_df=wide).run([_partitions_job()])["n"] == 3 * dp


def test_uri_roots_read_like_the_plain_path(spark, tmp_path):
    """``file:/abs`` and ``file:///abs`` roots name the same tree as
    ``/abs``: ``read_files`` and a two-job ``FileEngine.run`` give the
    same rows for all three (relative paths included, also below a
    folder that repeats the root's name)."""
    root = tmp_path / "p"
    _write_tree(root, {"x/a.txt": "1\n2", "p/p/b.txt": "3", "c/d.json": "{}"})
    plain = str(root)

    def scanned(r):
        return sorted(
            (row.path, bytes(row.content), row.length)
            for row in read_files(spark, r).collect()
        )

    def engine(r):
        out = FileEngine(spark, root=r).run(
            [
                Job(
                    name="paths",
                    finalizer=lambda df: sorted(x.path for x in df.collect()),
                ),
                Job(
                    name="sum",
                    path_filter="**/*.txt",
                    loader="text",
                    mapper=lambda df: df.select(
                        F.explode(F.split("data", "\n")).alias("v")
                    ),
                    reducer=lambda df: df.agg(F.sum(F.col("v").cast("long"))),
                    finalizer=lambda df: df.collect()[0][0],
                ),
            ]
        )
        return out["paths"], out["sum"]

    want = scanned(plain)
    assert [p for p, _, _ in want] == ["c/d.json", "p/p/b.txt", "x/a.txt"]
    ran = engine(plain)
    assert ran == (["c/d.json", "p/p/b.txt", "x/a.txt"], 6)
    for uri in ("file:" + plain, "file://" + plain):
        assert scanned(uri) == want, uri
        assert engine(uri) == ran, uri


def test_scan_split_unchanged_from_open_cost_per_core(spark, tmp_path):
    """Trees of at least ``openCostInBytes x defaultParallelism`` keep
    ``max(defaultParallelism, ceil(bytes / maxPartitionBytes))``
    partitions: the rule only narrows scans smaller than that."""
    import math

    from filemapreduce_spark.sources.files import scan_partitions

    mb = 1 << 20
    for cores in (1, 2, 3, 4, 7, 16, 64):
        for max_bytes in (mb, 128 * mb):
            for cost in (4 * mb, 64 * mb):
                for total in (cost * cores, cost * cores + 1, 3 * cost * cores + 5,
                              10**9 + 7, 10**12 + 3, 100 * 10**12):
                    if total < cost * cores:
                        continue
                    assert scan_partitions(total, cores, max_bytes, cost) == max(
                        cores, math.ceil(total / max_bytes)
                    ), (total, cores, max_bytes, cost)
    # and below the threshold: one partition per open cost
    assert scan_partitions(120 * 1024, 4, 128 * mb, 4 * mb) == 1
    assert scan_partitions(9 * mb, 4, 128 * mb, 4 * mb) == 3
    assert scan_partitions(0, 4, 128 * mb, 4 * mb) == 1

    # the same on a disk tree, with the open cost lowered so the tree
    # is above the threshold
    tree = {f"d{i % 5}/f{i}.txt": "y" * (60 + i % 70) for i in range(200)}
    total = _write_tree(tmp_path, tree)
    dp = spark.sparkContext.defaultParallelism
    eng = FileEngine(spark, root=str(tmp_path))
    with _files_conf(spark, "openCostInBytes", total // (2 * dp)):
        assert eng.run([_partitions_job()])["n"] == dp
        max_bytes = total // (dp + 5)
        with _files_conf(spark, "maxPartitionBytes", max_bytes):
            assert eng.run([_partitions_job()])["n"] == math.ceil(total / max_bytes)


def test_one_partition_scan_reduces_without_exchange(spark, tmp_path):
    """A scan of one partition meets every distribution a reduce needs,
    so an order-insensitive reducer over the shared cache runs with no
    Exchange; a scan split in two brings the Exchange back."""
    tree = {f"k{i % 3}/f{i}.txt": str(i) for i in range(40)}
    total = _write_tree(tmp_path, tree)

    def executed_plan(df):
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    jobs = [
        Job(
            name="by_dir",
            path_filter="**/*.txt",
            loader="text",
            mapper=lambda df: df.select(
                F.regexp_extract("path", "^(k\\d)/", 1).alias("k"),
                F.col("data").cast("long").alias("v"),
            ),
            reducer=lambda df: df.groupBy("k").agg(F.sum("v").alias("s")),
            finalizer=executed_plan,
        ),
        _partitions_job(),
    ]
    eng = FileEngine(spark, root=str(tmp_path))
    out = eng.run(jobs)
    assert out["n"] == 1
    assert "Exchange" not in out["by_dir"]

    with _files_conf(spark, "openCostInBytes", total // 2):
        out = eng.run(jobs)
    assert out["n"] >= 2
    assert "Exchange" in out["by_dir"]


def test_run_keeps_callers_cache(spark):
    """run() persists and releases only a files DF it cached itself:
    a cache the caller made before run() is still there after it."""
    from pyspark.storagelevel import StorageLevel

    files = files_from_memory(spark, NUMBERS_TREE).cache()
    try:
        assert files.storageLevel != StorageLevel.NONE
        out = FileEngine(spark, files_df=files).run(
            [
                Job(name="n", finalizer=lambda df: df.count()),
                Job(name="txt", path_filter="**/*.txt",
                    finalizer=lambda df: df.count()),
            ]
        )
        assert out == {"n": 3, "txt": 3}
        assert files.storageLevel != StorageLevel.NONE
    finally:
        files.unpersist()


def test_scale_smoke_1000_files(spark):
    """1,000-file VFS, map-only '**' job completes
    (mapreduce_test.go:505-531)."""
    files = {str(i): "filecontent" for i in range(1000)}
    eng = FileEngine.from_memory(spark, files)
    out = eng.run(
        [Job(name="all", path_filter="**", finalizer=lambda df: df.count())]
    )
    assert out["all"] == 1000


def test_mapper_task_error_propagates(spark):
    """A failing mapper surfaces as the job's error
    (mapreduce_test.go:185-274)."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)

    def bad_mapper(df):
        return df.select(
            F.assert_true(F.lit(False), F.lit("mapper failed")).alias("x")
        )

    with pytest.raises(Exception):
        eng.run(
            [
                Job(
                    name="bad",
                    path_filter="**/*.txt",
                    mapper=bad_mapper,
                    finalizer=lambda df: df.collect(),
                )
            ]
        )


def test_disk_filesystem_roundtrip(spark, tmp_path):
    """Disk FS: same goldens through spark.read binaryFile
    (mapreduce_test.go:16-54 + :106-183)."""
    for rel, content in NUMBERS_TREE.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(content)

    eng = FileEngine(spark, root=str(tmp_path))
    out = eng.run(
        [
            Job(
                name="sum",
                path_filter="**/*.txt",
                loader="text",
                mapper=lambda df: _lines(df).select(
                    F.col("line").cast("long").alias("v")
                ),
                reducer=lambda df: df.agg(F.sum("v").alias("s")),
                finalizer=lambda df: df.collect()[0]["s"],
            )
        ]
    )
    assert out["sum"] == 195


def test_sorted_reduce_deterministic_order(spark):
    """sort_key yields a deterministic, globally-sorted stream into an
    order-sensitive reducer (intended Sorter semantics — the reference
    only sorted per-batch, quirk 2)."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    out = eng.run(
        [
            Job(
                name="sorted",
                path_filter="**/*.txt",
                loader="text",
                mapper=lambda df: _lines(df).select(
                    F.col("line").cast("long").alias("v")
                ),
                sort_key="v",
                reducer=lambda df: df.agg(
                    F.collect_list("v").alias("vs")
                ),
                finalizer=lambda df: df.collect()[0]["vs"],
            )
        ]
    )
    assert out["sorted"] == sorted([1, 23, 4, 23, 4, 5, 8, 123, 4])


def test_with_text_helper(spark):
    """The ``text`` loader decodes content as UTF-8."""
    eng = FileEngine.from_memory(spark, {"x.txt": "héllo"})
    out = eng.run(
        [Job(name="t", loader="text", finalizer=lambda df: df.collect())]
    )
    assert [r.data for r in out["t"]] == ["héllo"]


def test_csv_loader(spark):
    """csv:<ddl> loader parses one CSV record per file into a struct."""
    eng = FileEngine.from_memory(
        spark,
        {"rows/a.csv": "1,alpha", "rows/b.csv": "2,beta"},
    )
    out = eng.run(
        [
            Job(
                name="csv",
                path_filter="rows/*.csv",
                loader="csv:id INT, name STRING",
                mapper=lambda df: df.select("data.id", "data.name"),
                finalizer=lambda df: sorted(
                    (r.id, r.name) for r in df.collect()
                ),
            )
        ]
    )
    assert out["csv"] == [(1, "alpha"), (2, "beta")]


def test_loader_error_propagates(spark):
    """A failing parse surfaces as the job's error on action (parity:
    error propagation, /root/reference/mapreduce.go:98-140). Spark's
    from_json nulls out unparseable fields; a strict job turns that
    into a hard failure with assert_true, and the engine propagates
    the executor exception to the caller."""
    import pytest as _pytest

    eng = FileEngine.from_memory(spark, {"bad/x.json": "not json at all"})
    with _pytest.raises(Exception, match="unparseable json"):
        eng.run(
            [
                Job(
                    name="strict",
                    path_filter="**/*.json",
                    loader="json:v BIGINT",
                    mapper=lambda df: df.select(
                        F.assert_true(
                            F.col("data.v").isNotNull(),
                            F.lit("unparseable json"),
                        ).alias("ok")
                    ),
                    finalizer=lambda df: df.collect(),
                )
            ]
        )


def test_mapper_error_propagates(spark):
    """A raising mapper fails the run with the user's exception."""
    import pytest as _pytest

    eng = FileEngine.from_memory(spark, NUMBERS_TREE)

    def bad_mapper(df):
        raise ValueError("mapper exploded")

    with _pytest.raises(ValueError, match="mapper exploded"):
        eng.run([Job(name="boom", path_filter="**", mapper=bad_mapper)])


def test_strict_parse_failfast_vs_permissive(spark):
    """Loader error semantics: default PERMISSIVE nulls malformed
    json fields and the job completes; strict_parse=True aborts on
    the first malformed record (the reference returns the loader's
    error and cancels everything — filesystem.go:49-65,
    mapreduce.go:25-31)."""
    tree = {
        "good.json": '{"value": 3}',
        "bad.json": "{definitely not json",
    }
    eng = FileEngine.from_memory(spark, tree)

    permissive = Job(
        name="p",
        path_filter="*.json",
        loader="json:value BIGINT",
        finalizer=lambda df: sorted(
            (r.path, r.data["value"] if r.data else None)
            for r in df.select("path", "data").collect()
        ),
    )
    out = eng.run([permissive])
    assert out["p"] == [("bad.json", None), ("good.json", 3)]

    strict = Job(
        name="s",
        path_filter="*.json",
        loader="json:value BIGINT",
        strict_parse=True,
        finalizer=lambda df: df.collect(),
    )
    with pytest.raises(Exception) as exc:
        eng.run([strict])
    assert "MALFORMED_RECORD" in str(exc.value) or "FAILFAST" in str(
        exc.value
    )


def test_vfs_datasource_end_to_end(spark, tmp_path):
    """The reference's pluggable FileSystem interface
    (interfaces.go:89-94) as a registered Spark data source: a JSON
    manifest served through format('fmr_vfs') drives a full
    FileEngine job — custom backends need only implement List/Open
    (here: the manifest reader), everything downstream is unchanged."""
    import json as _json

    from filemapreduce_spark.sources.vfs_datasource import (
        register_vfs_source,
    )

    manifest = {
        "a/b/d.txt": "1\n23\n4",
        "a/b/e.txt": "23\n4\n5\n8",
        "a/c/f.txt": "123\n4",
    }
    mpath = tmp_path / "manifest.json"
    mpath.write_text(_json.dumps(manifest))

    register_vfs_source(spark)
    files = (
        spark.read.format("fmr_vfs")
        .option("manifest", str(mpath))
        .option("partitions", "4")
        .load()
    )
    assert files.count() == 3
    eng = FileEngine(spark, files_df=files)
    out = eng.run(
        [
            Job(
                name="sum",
                path_filter="**/*.txt",
                loader="text",
                mapper=lambda df: df.select(
                    F.explode(F.split(F.col("data"), "\n")).alias("line")
                )
                .filter(F.col("line") != "")
                .select(F.col("line").cast("long").alias("v")),
                reducer=lambda df: df.agg(F.sum("v").alias("s")),
                finalizer=lambda df: df.collect()[0]["s"],
            )
        ]
    )
    assert out["sum"] == 195


def test_run_with_metrics_observes_without_extra_scan(spark):
    """with_metrics=True reports per-job mapped-row counts collected
    by observe() during each job's own action — no second scan, no
    count() re-run. Mirrors the reference's per-job accounting, which
    also rode the single traversal."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    out = eng.run(
        [
            Job(
                name="sum",
                path_filter="**/*.txt",
                loader="text",
                mapper=lambda df: df.select(
                    F.explode(F.split(F.col("data"), "\n")).alias("line")
                )
                .filter(F.col("line") != "")
                .select(F.col("line").cast("long").alias("v")),
                reducer=lambda df: df.agg(F.sum("v").alias("s")),
                finalizer=lambda df: df.collect()[0]["s"],
            ),
            Job(
                name="files",
                path_filter="**/*.txt",
                finalizer=lambda df: df.count(),
            ),
        ],
        with_metrics=True,
    )
    assert out["sum"] == 195
    assert out["files"] == 3
    assert out["_metrics"]["sum"]["rows_mapped"] == 9
    assert out["_metrics"]["files"]["rows_mapped"] == 3


def test_unsorted_reducer_stays_distributed(spark):
    """sort_key=None must NOT pass the mapped stream through the
    single-reducer funnel: the plan may contain no 1-partition
    repartition (the reduce runs partial+final, fully distributed).
    Only an explicit sort_key buys the reference's serialized
    single-reducer semantics — and pays its scale cost."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    plan_df = eng.plan(
        Job(
            name="sum",
            path_filter="**/*.txt",
            loader="text",
            mapper=lambda df: df.select(
                F.explode(F.split(F.col("data"), "\n")).alias("line")
            )
            .filter(F.col("line") != "")
            .select(F.col("line").cast("long").alias("v")),
            reducer=lambda df: df.agg(F.sum("v").alias("s")),
        )
    )
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    # the scalar agg's own final stage is SinglePartition by nature;
    # what must be absent is a Repartition(1) funnel BEFORE the reduce
    assert "Repartition 1" not in plan
    assert "RoundRobinPartitioning(1)" not in plan


def test_sorted_reducer_uses_single_partition_funnel(spark):
    """With sort_key set, the plan DOES show the documented
    single-partition funnel (one range partition + local sort) — the
    deliberate, reference-faithful serialization point."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    plan_df = eng.plan(
        Job(
            name="concat",
            path_filter="**/*.txt",
            loader="text",
            mapper=lambda df: df.select(
                F.explode(F.split(F.col("data"), "\n")).alias("line")
            ).filter(F.col("line") != ""),
            sort_key="line",
            reducer=lambda df: df.agg(
                F.concat_ws(",", F.collect_list("line")).alias("all")
            ),
        )
    )
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in plan or "Repartition 1" in plan


def _keyrun_job(n_parts):
    """Order-sensitive, key-run-decomposable job: per-key ascending
    value digest via a per-partition pandas fold (state resets at
    each key boundary, so it decomposes over contiguous key ranges)."""

    def reduce_runs(df):
        def fold(it):
            import pandas as pd

            batches = list(it)
            if not batches:
                return
            pdf = pd.concat(batches, ignore_index=True)
            if pdf.empty:
                return
            digest = pdf.groupby("k", sort=False)["v"].apply(
                lambda s: ",".join(str(x) for x in s)
            )
            yield pd.DataFrame(
                {"k": digest.index.astype("int64"), "vals": digest.values}
            )

        return df.mapInPandas(fold, "k long, vals string")

    return Job(
        name="runs",
        path_filter="**/*.txt",
        loader="text",
        mapper=lambda df: df.select(
            F.explode(F.split(F.col("data"), "\n")).alias("line")
        )
        .filter(F.col("line") != "")
        .select(
            (F.col("line").cast("long") % 3).alias("k"),
            F.col("line").cast("long").alias("v"),
        ),
        sort_key=["k", "v"],
        sort_partitions=n_parts,
        reducer=reduce_runs,
    )


def test_sort_partitions_matches_single_reducer(spark):
    """sort_partitions=N must reproduce the N=1 funnel's output for a
    key-run-decomposable reducer: range partitioning keeps every
    distinct sort-key run whole in one partition, sorted within."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    single = eng.plan(_keyrun_job(1)).collect()
    ranged = eng.plan(_keyrun_job(3)).collect()
    assert sorted((r.k, r.vals) for r in ranged) == sorted(
        (r.k, r.vals) for r in single
    )
    # the per-key digests see values in ascending order in BOTH modes
    assert dict((r.k, r.vals) for r in single) == {
        0: "123", 1: "1,4,4,4", 2: "5,8,23,23"
    }


def test_sort_partitions_plan_is_range_partitioned(spark):
    """sort_partitions>1 must swap the single-reducer funnel for a
    range partitioning: the plan shows rangepartitioning on the sort
    key and no 1-partition round-robin exchange."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    plan = (
        eng.plan(_keyrun_job(3))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert "RoundRobinPartitioning(1)" not in plan
    assert "Repartition 1" not in plan


def test_sort_partitions_validation(spark):
    """sort_partitions < 1 is a loud error, not a silent fallback."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    with pytest.raises(ValueError, match="sort_partitions"):
        eng.plan(_keyrun_job(0))


def test_sort_partitions_requires_sort_key_and_reducer(spark):
    """sort_partitions > 1 without sort_key (or without a reducer) is
    meaningless — the job would silently run with no ordering or range
    partitioning at all — so plan() rejects it up front, even on paths
    that never reach the sorted-reduce branch."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    base = _keyrun_job(3)
    no_key = Job(
        name=base.name,
        path_filter=base.path_filter,
        loader=base.loader,
        mapper=base.mapper,
        sort_partitions=3,
        reducer=base.reducer,
    )
    # match on the VALUE renderings, not the bare field names — the
    # shared message embeds both words, so name-only patterns could
    # not tell which precondition actually fired
    with pytest.raises(ValueError, match="sort_key=None"):
        eng.plan(no_key)
    no_reducer = Job(
        name=base.name,
        path_filter=base.path_filter,
        loader=base.loader,
        mapper=base.mapper,
        sort_key=["k", "v"],
        sort_partitions=3,
    )
    with pytest.raises(ValueError, match="reducer=None"):
        eng.plan(no_reducer)


def test_sort_key_without_reducer_rejected(spark):
    """sort_key with reducer=None is the adjacent silent trap: the key
    orders the REDUCE input (the reference sorts batches on their way
    into the single reducer), so on a map-only job it is dead and the
    output would silently be unordered. plan() rejects it."""
    eng = FileEngine.from_memory(spark, NUMBERS_TREE)
    base = _keyrun_job(1)
    dead_key = Job(
        name=base.name,
        path_filter=base.path_filter,
        loader=base.loader,
        mapper=base.mapper,
        sort_key="v",
    )
    with pytest.raises(ValueError, match="sort_key requires a reducer"):
        eng.plan(dead_key)


def test_sort_partitions_randomized_equivalence(spark):
    """Seeded random trees: for every N, the ranged reduce must equal
    both the N=1 funnel AND a pure-Python expected digest (key runs
    whole, values ascending within each run)."""
    import random

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        vals = [rng.randrange(0, 10_000) for _ in range(60)]
        tree, i = {}, 0
        for f in range(rng.randrange(3, 8)):
            take = rng.randrange(1, 15)
            chunk, i = vals[i : i + take], i + take
            if chunk:
                tree[f"d{f % 3}/f{f}.txt"] = "\n".join(map(str, chunk))
        used = vals[:i]
        expected = {}
        for v in used:
            expected.setdefault(v % 3, []).append(v)
        expected = {
            k: ",".join(str(v) for v in sorted(vs))
            for k, vs in expected.items()
        }
        eng = FileEngine.from_memory(spark, tree)
        single = {
            (r.k, r.vals) for r in eng.plan(_keyrun_job(1)).collect()
        }
        assert single == set(expected.items()), (seed, single, expected)
        for n in (2, 5):
            ranged = {
                (r.k, r.vals)
                for r in eng.plan(_keyrun_job(n)).collect()
            }
            assert ranged == single, (seed, n, ranged, single)


def test_strict_abort_gate_arms(spark):
    """engine_strict_abort_gate surfaces the FAILFAST contract as
    data: with malformed files present the strict row is
    (aborted=True, rows_parsed=NULL); the permissive row counts the
    clean files. The no-malformed arm is pinned by the all-empty
    fixture sweep (oracle EXISTS flips to FALSE there)."""
    from filemapreduce_spark.queries import load_all

    fn = load_all()["engine_strict_abort_gate"].fn
    rows = {r["mode"]: r for r in fn(spark, "/root/testdata/sf0.001").collect()}
    assert rows["strict"]["aborted"] is True
    assert rows["strict"]["rows_parsed"] is None
    assert rows["permissive"]["aborted"] is False
    assert rows["permissive"]["rows_parsed"] > 0
