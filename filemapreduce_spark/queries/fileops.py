"""File-engine semantics exposed as oracle-testable queries.

The full file-MapReduce surface (shared scan, parents inheritance) is
covered by the golden pytest suite over real file trees; these queries
make the path-predicate layer oracle-checkable by synthesizing paths
from the relational tables and applying the SAME compiled glob regex
in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.globs import MultiFilter, PathFilter, compile_glob
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_GLOB = "src1*/*.txt"
_REGEX = compile_glob(_GLOB)  # ^src1[^/]*/[^/]*\.txt$


@register(
    "glob_path_filter",
    f"""
    SELECT source || '/' || CAST(doc_id AS VARCHAR) || '.txt' AS path, n_chars
    FROM documents
    WHERE regexp_matches(source || '/' || CAST(doc_id AS VARCHAR) || '.txt',
                         '{_REGEX}')
    ORDER BY path
    """,
    tags=("fileops", "glob"),
)
def glob_path_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The glob compiler's output applied as a path predicate — same
    anchored regex evaluated by Spark (rlike) and DuckDB
    (regexp_matches)."""
    d = t(spark, sf_dir, "documents")
    path = F.concat_ws(
        "/", F.col("source"), F.concat(F.col("doc_id").cast("string"), F.lit(".txt"))
    )
    return (
        d.select(path.alias("path"), "n_chars")
        .filter(F.col("path").rlike(_REGEX))
    )


_MULTI = MultiFilter("src2/*.txt", "src?/*.txt".replace("?", "3"))
_MREGEX = _MULTI.to_regex()


@register(
    "glob_multifilter_union",
    f"""
    SELECT source, COUNT(*) AS n
    FROM documents
    WHERE regexp_matches(source || '/' || CAST(doc_id AS VARCHAR) || '.txt',
                         '{_MREGEX}')
    GROUP BY source ORDER BY source
    """,
    tags=("fileops", "glob", "multifilter"),
)
def glob_multifilter_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiFilter OR-combination compiled to an alternation regex
    (parity: /root/reference/glob.go:10-30)."""
    d = t(spark, sf_dir, "documents")
    path = F.concat_ws(
        "/", F.col("source"), F.concat(F.col("doc_id").cast("string"), F.lit(".txt"))
    )
    return (
        d.filter(path.rlike(_MREGEX))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )


@register(
    "hierarchical_rollup_paths",
    """
    WITH f AS (
      SELECT source || '/' || lang AS dir,
             source, lang, n_chars
      FROM documents
      WHERE source IS NOT NULL AND lang IS NOT NULL
    )
    -- char totals exceed int64 at scale -> DOUBLE surface (r10)
    SELECT dir, COUNT(*) AS n_files, CAST(CAST(SUM(n_chars) AS VARCHAR) AS DOUBLE) AS total_chars
    FROM f GROUP BY dir, source, lang
    ORDER BY dir
    """,
    tags=("fileops", "hierarchy"),
)
def hierarchical_rollup_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-level rollup over a synthesized source/lang hierarchy
    (the 'aggregate per folder' file-engine pattern, relationally)."""
    # a NULL source/lang is no directory segment: concat_ws would
    # silently COLLAPSE the missing segment ('src3' instead of
    # 'src3/<lang>'), merging a NULL-lang file into its parent dir,
    # while the oracle's || nulls the whole dir (r9 null sweep)
    d = t(spark, sf_dir, "documents").where(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    return (
        d.select(
            F.concat_ws("/", "source", "lang").alias("dir"),
            F.col("n_chars"),
        )
        .groupBy("dir")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("double").alias("total_chars"),
        )
    )


@register(
    "parents_prefix_inheritance",
    """
    WITH docs AS (
      SELECT * FROM documents
      WHERE source IS NOT NULL AND lang IS NOT NULL
    ), data AS (
      SELECT source || '/' || lang || '/' || CAST(doc_id AS VARCHAR) || '.txt'
               AS path,
             source || '/' || lang AS fdir, n_chars
      FROM docs
    ), metas AS (
      SELECT '' AS mdir, 3 AS w
      UNION ALL
      SELECT DISTINCT source, length(source) % 5 + 2 FROM docs
      UNION ALL
      SELECT DISTINCT source || '/' || lang, 100 FROM docs
    ), j AS (
      SELECT d.path, d.n_chars, m.w
      FROM data d JOIN metas m
        ON m.mdir = '' OR starts_with(d.fdir, m.mdir || '/')
    )
    SELECT path, CAST(COUNT(*) AS INT) AS n_parents,
           -- HUGEINT product, DOUBLE surface: n_chars x parent-weight
           -- product exceeds int64 for 2^62-scale counts (r10 extreme)
           CAST(CAST(CAST(n_chars AS HUGEINT) * CAST(product(w) AS BIGINT) AS VARCHAR) AS DOUBLE)
             AS weighted
    FROM j GROUP BY path, n_chars
    ORDER BY path
    """,
    tags=("fileops", "parents", "hierarchy"),
)
def parents_prefix_inheritance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature operator — directory-file metadata
    inheritance (A-04) — through the REAL core implementation
    (core.parents.attach_parents) on a relationally synthesized tree:
    a root meta (w=3), a per-source meta, and a per-(source,lang)
    SIBLING meta that must NOT be inherited (subfolder-only scope,
    work.go:68-100). The oracle replays the strict-prefix join in SQL.

    Scale shape: the meta table is folders-sized (tiny) and folded
    into one broadcast folder → weights map; each document looks up
    its ancestor folders in it — the big side never shuffles. Each
    lookup scans the map's keys linearly, so a document costs
    O(depth x meta folders), not a constant-time probe.
    """
    from filemapreduce_spark.core.parents import attach_parents
    from filemapreduce_spark.globs import MultiFilter

    # NULL source/lang is no path segment (concat_ws would collapse
    # the segment and reparent the file; r9 null sweep — same
    # declared layout semantics as hierarchical_rollup_paths)
    d = t(spark, sf_dir, "documents").where(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    data = d.select(
        F.concat_ws(
            "/",
            "source",
            "lang",
            F.concat(F.col("doc_id").cast("string"), F.lit(".txt")),
        ).alias("path"),
        "n_chars",
    )
    root_meta = spark.range(1).select(
        F.lit("meta.json").alias("path"), F.lit(3).alias("w")
    )
    source_meta = d.select(
        F.concat(F.col("source"), F.lit("/meta.json")).alias("path"),
        (F.length("source") % 5 + 2).alias("w"),
    ).distinct()
    sibling_meta = d.select(
        F.concat_ws("/", "source", "lang", F.lit("meta.json")).alias("path"),
        F.lit(100).alias("w"),
    ).distinct()
    files = root_meta.unionByName(source_meta).unionByName(sibling_meta)
    out = attach_parents(
        files,
        data,
        MultiFilter("meta.json", "**/meta.json"),
        payload=F.col("w"),
    )
    # DECIMAL(38,0) product, DOUBLE surface — n_chars at 2^62 times
    # the parent-weight product overflows int64 (r10 extreme axis)
    weighted = (
        F.col("n_chars").cast("decimal(38,0)")
        * F.aggregate("parents", F.lit(1).cast("long"), lambda a, p: a * p)
    ).cast("double")
    return out.select(
        "path",
        F.size("parents").alias("n_parents"),
        weighted.alias("weighted"),
    )
