"""Directory-file propagation: hierarchical metadata inheritance.

The reference's distinctive feature (/root/reference/readme.md:25):
files matching ``Job.DirectoryFiles`` are parsed once per folder and
their contents pushed down to mappers of files in DESCENDANT folders as
a root-first ``parents`` stack (work.go:68-100, jobs.go:13). Scope
rules encoded by the goldens (mapreduce_test.go:403-503):

- a directory file applies to files in strict subfolders only — never
  to its own siblings (stacks are extended only in
  ``addSubfoldersToRemainingWork``, work.go:79-92);
- the stack is ordered root-first (work.go:83-91);
- stacks are per-job (each job has its own DirectoryFiles filter);
- the same file may be both a directory file and a mapped data file
  (mapreduce.go:152-184).

Spark-native design: directory metadata is by construction tiny
relative to the data (one payload per folder), so it is folded into ONE
row — a ``map<meta_dir, array<payload>>`` — and broadcast onto the data
side. Each data row lists its strict-ancestor directories root-first
(``''``, ``a``, ``a/b`` for a file in ``a/b/c``), looks each one up in
the map once and flattens the hits. At 100 TB the data side streams
through executors with no shuffle and no join build beyond that one row.
The lookup is not constant-time: Spark's map access scans the keys
linearly, so each row costs O(depth x folders that hold directory
files); the design assumes those folders are few. Several directory
files in one folder are ordered by payload (``array_sort``), so the
stack is deterministic and computed JVM-side (no Python in the row
path). Payloads are wrapped in a struct while they are collected,
because ``collect_list`` drops nulls and a null payload stays in the
stack.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from filemapreduce_spark.globs import Filter, as_filter


def dir_of(path: Column) -> Column:
    """Parent-directory expression: '' for root-level paths.

    Mirrors the reference's path math (joinWithSlash,
    /root/reference/mapreduce.go:456-459): 'a/b/d.txt' → 'a/b',
    'd.txt' → ''.
    """
    return F.regexp_replace(path, "(^|/)[^/]*$", "")


def _strict_ancestors(dir_col: Column) -> Column:
    """Root-first strict ancestors of a directory: '' → [],
    'a' → [''], 'a/b/c' → ['', 'a', 'a/b']."""
    segs = F.split(dir_col, "/")
    prefixes = F.transform(
        segs, lambda _, i: F.array_join(F.slice(segs, 1, i), "/")
    )
    # distinct: a leading '/' would otherwise list '' twice
    return F.when(dir_col == "", F.array().cast("array<string>")).otherwise(
        F.array_distinct(prefixes)
    )


def attach_parents(
    files_df: DataFrame,
    data_df: DataFrame,
    dir_filter: Filter | str,
    payload: Column,
) -> DataFrame:
    """Attach a root-first ``parents`` array column to ``data_df``.

    - ``files_df``: the full (shared, cached) files DF — directory
      files are discovered here, independent of the data filter.
    - ``data_df``: the job's filtered data files (must retain ``path``).
    - ``dir_filter``: glob/Filter selecting directory files.
    - ``payload``: expression over a directory-file row producing the
      parsed payload handed to mappers (e.g. ``from_json(decode(
      content,'UTF-8'), schema)``).

    Returns ``data_df`` plus ``parents: ARRAY<payload_type>`` ordered
    root-first (empty array when no ancestors match).
    """
    flt = as_filter(dir_filter)
    lookup = (
        files_df.filter(F.col("path").rlike(flt.to_regex()))
        .groupBy(dir_of(F.col("path")).alias("_meta_dir"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(payload.alias("p")))
            ).alias("_stack")
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_meta_dir", "_stack"))
            ).alias("_lookup")
        )
    )
    # one map lookup per ancestor; a folder with no directory file
    # gives an empty stack, since flatten of any null element is null
    none = F.array().cast(lookup.schema["_lookup"].dataType.valueType)
    stacks = F.transform(
        _strict_ancestors(dir_of(F.col("path"))),
        lambda d: F.coalesce(F.col("_lookup")[d], none),
    )
    parents = F.transform(F.flatten(stacks), lambda s: s["p"])
    return (
        data_df.crossJoin(F.broadcast(lookup))
        .withColumn("parents", parents)
        .drop("_lookup")
    )
