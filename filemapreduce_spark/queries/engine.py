"""The file engine and its neighbours: ``FileEngine``/``Job`` runs
over a virtual file tree, glob and hierarchy file ops, sink round
trips, and the Python UDF/UDTF/Arrow extension points.
"""

from __future__ import annotations

import atexit
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from filemapreduce_spark.core.engine import FileEngine, Job
from filemapreduce_spark.globs import MultiFilter, compile_glob
from filemapreduce_spark.operators.money import SQL_CENTS, cents
from filemapreduce_spark.operators.scratch import scratch_dir
from filemapreduce_spark.operators.textops import ascii_fold
from filemapreduce_spark.queries import register
from filemapreduce_spark.session import memo
from filemapreduce_spark.sinks import compact_files, write_clustered, write_partitioned
from filemapreduce_spark.sources.tables import load_table as t


_DOC_CAP = 40  # documents with doc_id < 40 seed the VFS trees
_ORD_CAP = 200  # orders with o_orderkey < 200 seed the JSON files


# The VFS dicts are built on the driver and memoized per session
# (session.memo): the collect is bounded (<= 40 docs / <= 50 orders)
# and every engine query in a sweep reuses it.
def _vfs_docs(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    def build() -> dict[str, str]:
        rows = (
            t(spark, sf_dir, "documents")
            .filter(
                (F.col("doc_id") < _DOC_CAP)
                & F.col("source").isNotNull()
                & F.col("lang").isNotNull()
                & F.col("text").isNotNull()
            )
            .select("doc_id", "source", "lang", "text")
            .collect()
        )
        return {
            f"{r['source']}/{r['lang']}/{r['doc_id']}.txt": r["text"]
            for r in rows
        }

    return memo(spark, ("vfs_docs", sf_dir), build)


def _vfs_orders_json(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    def build() -> dict[str, str]:
        rows = (
            t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < _ORD_CAP)
            .select("o_orderkey", "o_orderpriority")
            .collect()
        )
        out: dict[str, str] = {}
        for r in rows:
            k = r["o_orderkey"]
            if k % 7 == 0:  # deterministic dead letters
                out[f"orders/{k}.json"] = '{"k": '
            else:
                out[f"orders/{k}.json"] = (
                    '{"k": %d, "p": "%s"}' % (k, r["o_orderpriority"])
                )
        return out

    return memo(spark, ("vfs_orders_json", sf_dir), build)


# source/lang are path SEGMENTS in the VFS layout: a document with a
# NULL segment has no path and is not a file (the Python f-string
# would render a literal "None/" segment while SQL || nulls the whole
# path — r9 null sweep), and a NULL text is no file CONTENT (the VFS
# dict build would crash encoding None — r9 text-null probe);
# declared identically in the VFS builder below
_SQL_DOC_SUB = (
    f"(SELECT * FROM documents WHERE doc_id < {_DOC_CAP}"
    " AND source IS NOT NULL AND lang IS NOT NULL"
    " AND text IS NOT NULL)"
)


# --------------------------------------------------------------------
# In-memory VFS backend + text loader + flatMap + distributed reduce.
# --------------------------------------------------------------------
@register(
    "engine_vfs_wordcount",
    f"""
    WITH toks AS (
      SELECT unnest(list_filter(
        regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')) AS w
      FROM {_SQL_DOC_SUB}
    )
    SELECT w, COUNT(*) AS n
    FROM toks GROUP BY w HAVING COUNT(*) >= 3
    ORDER BY w
    """,
    tags=("engine", "vfs", "mapreduce"),
)
def engine_vfs_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical engine pipeline on the in-memory VFS backend:
    files → text loader → flatMap (tokenize) → distributed reduce
    (no sort_key → partial+final agg, no single-reducer funnel). The
    oracle tokenizes the same documents relationally — a hash match
    proves loader + mapper + reducer preserve every token."""
    eng = FileEngine.from_memory(spark, _vfs_docs(spark, sf_dir))
    df = eng.plan(
        Job(
            name="wordcount",
            path_filter="**/*.txt",
            loader="text",
            mapper=lambda d: d.select(
                F.explode(
                    F.filter(
                        F.split(ascii_fold("data"), r"\s+"),
                        lambda w: w != "",
                    )
                ).alias("w")
            ),
            reducer=lambda d: d.groupBy("w")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 3),
        )
    )
    return df


# --------------------------------------------------------------------
# Path-glob predicate + select/compute columns over the VFS scan.
# --------------------------------------------------------------------
@register(
    "engine_vfs_select_compute",
    f"""
    SELECT COUNT(*) AS n_files,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM {_SQL_DOC_SUB} WHERE lang = 'en'
    """,
    tags=("engine", "vfs", "glob", "select"),
)
def engine_vfs_select_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glob path predicate (``*/en/*.txt``) + computed column
    (decoded length) through the engine scan; the oracle filters the
    same rows on the lang column."""
    eng = FileEngine.from_memory(spark, _vfs_docs(spark, sf_dir))
    df = eng.plan(
        Job(
            name="en_chars",
            path_filter="*/en/*.txt",
            loader="text",
            mapper=lambda d: d.select(
                F.length("data").cast("long").alias("n_chars")
            ),
            reducer=lambda d: d.agg(
                F.count("*").alias("n_files"),
                F.sum("n_chars").alias("total_chars"),
            ),
        )
    )
    return df


# --------------------------------------------------------------------
# sort_key: deterministic global order into an order-sensitive reduce.
# --------------------------------------------------------------------
@register(
    "engine_sorted_reduce_digest",
    f"""
    WITH f AS (
      SELECT source || '/' || lang || '/' || CAST(doc_id AS VARCHAR)
               || '.txt' AS path,
             CAST(doc_id AS VARCHAR) AS id_str
      FROM {_SQL_DOC_SUB}
    )
    SELECT COALESCE(string_agg(id_str, '|' ORDER BY path), '')
             AS ordered_ids,
           COUNT(*) AS n_files
    FROM f
    """,
    tags=("engine", "sort", "reduce"),
)
def engine_sorted_reduce_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sort_key`` semantics made oracle-checkable: the job funnels
    its mapped rows through the documented single sorted partition
    (the reference's one-reducer model) and concatenates doc ids in
    PATH order — any ordering defect changes the digest string. The
    oracle is ``string_agg(... ORDER BY path)``. Scale note: the
    single-partition funnel is the point of this row (engine.py
    sort_key caveat); the input here is the bounded VFS subset."""
    eng = FileEngine.from_memory(spark, _vfs_docs(spark, sf_dir))
    df = eng.plan(
        Job(
            name="digest",
            path_filter="**/*.txt",
            loader="text",
            mapper=lambda d: d.select(
                "path",
                F.regexp_extract("path", r"(\d+)\.txt$", 1).alias("id_str"),
            ),
            sort_key="path",
            reducer=lambda d: d.agg(
                F.concat_ws("|", F.collect_list("id_str")).alias(
                    "ordered_ids"
                ),
                F.count("*").alias("n_files"),
            ),
        )
    )
    return df


# --------------------------------------------------------------------
# sort_partitions: the scalable (range-partitioned) ordered reduce.
# --------------------------------------------------------------------
@register(
    "engine_ranged_sort_digest",
    f"""
    WITH f AS (
      SELECT source || '/' || lang AS grp,
             source || '/' || lang || '/' || CAST(doc_id AS VARCHAR)
               || '.txt' AS path,
             CAST(doc_id AS VARCHAR) AS id_str
      FROM {_SQL_DOC_SUB}
    )
    SELECT grp,
           string_agg(id_str, '|' ORDER BY path) AS ordered_ids,
           COUNT(*) AS n_files
    FROM f
    GROUP BY grp
    ORDER BY grp
    """,
    tags=("engine", "sort", "reduce", "scale"),
)
def engine_ranged_sort_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sort_partitions`` semantics made oracle-checkable: the same
    ordered-digest reduce as ``engine_sorted_reduce_digest`` but per
    leading key and WITHOUT the single-reducer funnel —
    ``sort_partitions=4`` range-partitions the mapped stream on the
    leading sort key (every (source,lang) run lands whole in one
    partition, sorted by path within), and a key-run fold walks each
    partition sequentially (engine.py Job.sort_partitions). Any
    defect in run wholeness or within-run order changes a digest
    string; the oracle is per-group ``string_agg(... ORDER BY path)``.
    This is the scalable twin of the reference's one-reducer model:
    the reduce runs N-wide instead of serializing."""
    eng = FileEngine.from_memory(spark, _vfs_docs(spark, sf_dir))

    def fold_runs(df: DataFrame) -> DataFrame:
        def fold(batches):
            import pandas as pd

            parts = list(batches)
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            if pdf.empty:
                return
            digest = pdf.groupby("grp", sort=False).agg(
                ordered_ids=("id_str", lambda s: "|".join(s)),
                n_files=("id_str", "size"),
            )
            out = digest.reset_index()
            out["n_files"] = out["n_files"].astype("int64")
            yield out

        return df.mapInPandas(
            fold, "grp string, ordered_ids string, n_files long"
        )

    df = eng.plan(
        Job(
            name="ranged_digest",
            path_filter="**/*.txt",
            loader="text",
            mapper=lambda d: d.select(
                F.regexp_extract("path", r"^(.+)/\d+\.txt$", 1).alias(
                    "grp"
                ),
                "path",
                F.regexp_extract("path", r"(\d+)\.txt$", 1).alias(
                    "id_str"
                ),
            ),
            sort_key=["grp", "path"],
            sort_partitions=4,
            reducer=fold_runs,
        )
    )
    return df


# --------------------------------------------------------------------
# Single-value finalize (the reference's Finalizer sink).
# --------------------------------------------------------------------
@register(
    "engine_single_value_finalize",
    f"""
    SELECT CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM {_SQL_DOC_SUB}
    """,
    tags=("engine", "finalize", "sink"),
)
def engine_single_value_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Finalizer contract (reference interfaces.go:68-78): the
    job's action reduces to ONE driver-side value. The query re-wraps
    that scalar as a 1-row frame so the oracle can hash it. The
    collect is the operator's semantics — a single-value sink IS a
    driver-side result."""
    eng = FileEngine.from_memory(spark, _vfs_docs(spark, sf_dir))
    out = eng.run(
        [
            Job(
                name="total",
                path_filter="**/*.txt",
                loader="text",
                mapper=lambda d: d.select(
                    F.length("data").cast("long").alias("n")
                ),
                reducer=lambda d: d.agg(F.sum("n").alias("s")),
                finalizer=lambda d: d.collect()[0]["s"],
            )
        ]
    )
    # empty input → SUM is NULL on both engines (the oracle's SUM over
    # zero rows); int(None) would crash (ultra-sparse sweep finding)
    val = out["total"]
    return spark.createDataFrame(
        [(int(val) if val is not None else None,)], "total_chars BIGINT"
    )


# --------------------------------------------------------------------
# Per-job metrics (observe() — zero extra scans).
# --------------------------------------------------------------------
@register(
    "engine_job_metrics",
    f"""
    SELECT 'all_docs' AS job_name, COUNT(*) AS rows_mapped
    FROM {_SQL_DOC_SUB}
    UNION ALL
    SELECT 'en_docs', COUNT(*) FROM {_SQL_DOC_SUB} WHERE lang = 'en'
    ORDER BY job_name
    """,
    tags=("engine", "metrics"),
    sort="body",
)
def engine_job_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-job row accounting via ``run(with_metrics=True)``: an
    ``observe()`` rides each job's own action (no second scan); the
    collected counters must equal the relational row counts. The
    metrics dict is driver-side by contract — re-wrapped as a 2-row
    frame for the oracle hash."""
    eng = FileEngine.from_memory(spark, _vfs_docs(spark, sf_dir))
    out = eng.run(
        [
            Job(
                name="all_docs",
                path_filter="**/*.txt",
                finalizer=lambda d: d.count(),
            ),
            Job(
                name="en_docs",
                path_filter="*/en/*.txt",
                finalizer=lambda d: d.count(),
            ),
        ],
        with_metrics=True,
    )
    rows = [
        (name, int(m["rows_mapped"]))
        for name, m in sorted(out["_metrics"].items())
    ]
    return spark.createDataFrame(rows, "job_name STRING, rows_mapped BIGINT")


# --------------------------------------------------------------------
# Permissive parse: malformed records become null-field dead letters.
# --------------------------------------------------------------------
@register(
    "engine_permissive_parse_dead_letters",
    f"""
    SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'dead' ELSE 'ok' END
             AS status,
           COUNT(*) AS n
    FROM orders WHERE o_orderkey < {_ORD_CAP}
    GROUP BY 1 ORDER BY 1
    """,
    tags=("engine", "loader", "errors"),
)
def engine_permissive_parse_dead_letters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strict-vs-permissive loader semantics, permissive half: every
    7th JSON file is deterministically truncated; PERMISSIVE parse
    yields null-field structs the mapper routes to a dead-letter
    count instead of aborting (strict=FAILFAST abort is asserted in
    tests/test_engine.py — an oracle can't hash an exception). The
    oracle recomputes the malformed-residue split relationally."""
    eng = FileEngine.from_memory(spark, _vfs_orders_json(spark, sf_dir))
    df = eng.plan(
        Job(
            name="parse",
            path_filter="orders/*.json",
            loader="json:k BIGINT, p STRING",
            mapper=lambda d: d.select(
                F.when(F.col("data.k").isNotNull(), F.lit("ok"))
                .otherwise(F.lit("dead"))
                .alias("status")
            ),
            reducer=lambda d: d.groupBy("status").agg(
                F.count("*").alias("n")
            ),
        )
    )
    return df


# --------------------------------------------------------------------
# Codec selection round trip (zstd + gzip write→read→agg).
# --------------------------------------------------------------------
@register(
    "sink_codec_selection_roundtrip",
    f"""
    SELECT 'gzip' AS codec, COUNT(*) AS n_parts,
           CAST(SUM({SQL_CENTS.format(col='p_retailprice')}) AS BIGINT)
             AS retail_cents
    FROM part
    UNION ALL
    SELECT 'zstd', COUNT(*),
           CAST(SUM({SQL_CENTS.format(col='p_retailprice')}) AS BIGINT)
    FROM part
    ORDER BY codec
    """,
    tags=("sink", "codec", "roundtrip"),
)
def sink_codec_selection_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write part under two explicit codecs (gzip: legacy-compatible;
    zstd: the modern ratio/speed default), read each back, aggregate.
    The oracle aggregates the original twice — a hash match proves
    codec choice never changes content, only bytes on disk
    (tests/test_sinks.py asserts the size ordering)."""
    base = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    frames = []
    for codec in ("gzip", "zstd"):
        dest = scratch_dir(f"codec_{codec}")
        base.write.mode("overwrite").option("compression", codec).parquet(
            dest
        )
        frames.append(
            spark.read.parquet(dest).agg(
                F.lit(codec).alias("codec"),
                F.count("*").alias("n_parts"),
                F.sum(cents("p_retailprice")).alias("retail_cents"),
            )
        )
    return frames[0].unionAll(frames[1])


# --------------------------------------------------------------------
# Partition-layout evolution: two generations, one queryable dataset.
# --------------------------------------------------------------------
@register(
    "sink_partition_evolution_roundtrip",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("sink", "partitioned", "evolution", "roundtrip"),
)
def sink_partition_evolution_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-layout evolution: an old generation partitioned by
    status and a new one by (status, priority) — written as separate
    generations, read back as ONE union'd dataset, aggregated. The
    oracle aggregates the original orders table: a hash match proves
    no row is lost or duplicated across layout generations. At
    100 TB this is the read contract that lets a table change its
    partitioning over the years without rewriting history; pruning
    stays effective inside each generation because each read applies
    its own directory scheme."""
    od = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    gen1 = scratch_dir("evo_gen1")
    gen2 = scratch_dir("evo_gen2")
    od.filter(F.col("o_orderkey") % 2 == 0).write.mode(
        "overwrite"
    ).partitionBy("o_orderstatus").parquet(gen1)
    od.filter(F.col("o_orderkey") % 2 == 1).write.mode(
        "overwrite"
    ).partitionBy("o_orderstatus", "o_orderpriority").parquet(gen2)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    # explicit schema per generation: an all-empty input writes zero
    # data files and schema inference fails (all-empty sweep finding);
    # at populated SFs the explicit schema matches inference exactly
    back = (
        spark.read.schema(od.schema)
        .parquet(gen1)
        .select(*cols)
        .unionAll(
            spark.read.schema(od.schema).parquet(gen2).select(*cols)
        )
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("total_cents"),
        )
    )


# --------------------------------------------------------------------
# Chunked large-binary read: slicing + reassembly keys, oracle-gated.
# --------------------------------------------------------------------
_CHUNK_BYTES = 1000  # deliberately NOT a multiple of the 33-byte line
# width, so chunk boundaries straddle lines and the oracle's substring
# twin would catch any off-by-one in offset arithmetic


@register(
    "engine_chunked_large_file",
    f"""
    WITH blob AS (
      SELECT string_agg(md5(text), chr(10) ORDER BY doc_id)
             || chr(10) AS b
      FROM documents
    ), meta AS (
      SELECT b, CAST(length(b) AS BIGINT) AS len FROM blob
    ), idx AS (
      -- list-valued generate_series: range() cannot take subquery
      -- params in DuckDB, the scalar list form can
      SELECT unnest(generate_series(
               0, CAST(ceil(len / {_CHUNK_BYTES}.0) AS BIGINT) - 1
             )) AS chunk_idx
      FROM meta
    )
    SELECT i.chunk_idx,
           CAST(length(substring(m.b,
                  CAST(i.chunk_idx * {_CHUNK_BYTES} + 1 AS BIGINT),
                  {_CHUNK_BYTES})) AS BIGINT) AS chunk_len,
           md5(substring(m.b,
                  CAST(i.chunk_idx * {_CHUNK_BYTES} + 1 AS BIGINT),
                  {_CHUNK_BYTES})) AS chunk_md5
    FROM idx i CROSS JOIN meta m
    ORDER BY i.chunk_idx
    """,
    tags=("engine", "source", "chunked", "binary"),
)
def engine_chunked_large_file(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chunked binary read of one big file (``read_files_chunked``,
    the scale path past the whole-file row ceiling — the reference
    streams such inputs through its ``io.Reader`` loader,
    /root/reference/filesystem.go:12): a deterministic fixture file is
    built from the documents table (one 33-byte ``md5(text)\\n`` line
    per doc, ordered by doc_id — pure ASCII, so byte offsets equal
    character offsets), read back as 1000-byte (_CHUNK_BYTES) slices, and
    each slice reports its byte length and md5. The DuckDB oracle
    reconstructs the identical blob with string_agg + substring: a
    value-hash match proves every task read EXACTLY its
    [offset, offset+chunk) slice — no gap, overlap, or tail loss.

    Scale shape: the fixture build is a bounded driver-side collect
    (33 B/doc — fixture CONSTRUCTION, not the operator); the read
    itself is the production path — a metadata-only listing exploded
    to (path, chunk_idx, offset) rows, repartitioned so each slice is
    an independent seek+read task, per-chunk digests computed
    row-locally. A 40 GiB file becomes 320 parallel 128 MiB tasks
    under the default chunk size; tests/test_chunked_files.py drives
    a real >100 MB file through the same surface.
    """
    from filemapreduce_spark.sources.files import read_files_chunked

    rows = (
        t(spark, sf_dir, "documents")
        # textless docs contribute no blob line (md5(NULL) is NULL:
        # the oracle's string_agg skips it while the Python join
        # crashed on None — r9 text-null probe)
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.md5(F.encode(F.col("text"), "utf-8")).alias("h"),
        )
        .orderBy("doc_id")
        .collect()
    )
    blob = "".join(r["h"] + "\n" for r in rows).encode("ascii")
    root = scratch_dir("chunked_file")
    with open(f"{root}/corpus_md5.txt", "wb") as f:
        f.write(blob)
    chunks = read_files_chunked(spark, root, chunk_bytes=_CHUNK_BYTES)
    return (
        chunks.select(
            "chunk_idx",
            F.length("content").cast("long").alias("chunk_len"),
            F.md5("content").alias("chunk_md5"),
        )
    )


# --------------------------------------------------------------------
# Strict parse: FAILFAST abort is the CONTRACT, surfaced as data.
# --------------------------------------------------------------------
@register(
    "engine_strict_abort_gate",
    f"""
    WITH src AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey < {_ORD_CAP}
    )
    SELECT 'permissive' AS mode, FALSE AS aborted,
           (SELECT COUNT(*) FROM src WHERE k % 7 <> 0) AS rows_parsed
    UNION ALL
    SELECT 'strict',
           EXISTS (SELECT 1 FROM src WHERE k % 7 = 0),
           CASE WHEN EXISTS (SELECT 1 FROM src WHERE k % 7 = 0)
                THEN NULL
                ELSE (SELECT COUNT(*) FROM src) END
    ORDER BY mode
    """,
    tags=("engine", "loader", "errors"),
)
def engine_strict_abort_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-vs-permissive loader semantics, STRICT half: the
    reference returns the loader's error and cancels the whole run
    (filesystem.go:49-65, mapreduce.go:25-31); here strict_parse=True
    is Spark FAILFAST, and the abort itself is the behavior under
    test — previously asserted only in tests/test_engine.py because
    "an oracle can't hash an exception". This gate makes it
    driver-verifiable by surfacing the outcome AS DATA: the strict
    row carries aborted=TRUE + NULL rows_parsed exactly when the
    fixture contains a malformed file (every 7th JSON is truncated),
    and the permissive row proves the same corpus still completes
    with the malformed files nulled out. Only a FAILFAST/
    MALFORMED_RECORD error is folded into the boolean — any OTHER
    exception (VFS failure, plan bug) re-raises, so a false
    "aborted" can't mask a real defect; the degenerate all-empty
    fixtures pin the opposite arm (no malformed files -> no abort,
    rows_parsed = file count)."""
    eng = FileEngine.from_memory(spark, _vfs_orders_json(spark, sf_dir))

    def count_rows(strict: bool) -> int:
        df = eng.plan(
            Job(
                name="gate",
                path_filter="orders/*.json",
                loader="json:k BIGINT, p STRING",
                strict_parse=strict,
                mapper=lambda d: d.where(
                    F.col("data.k").isNotNull()
                ).select(F.col("data.k").alias("k")),
                reducer=lambda d: d.agg(F.count("*").alias("n")),
            )
        )
        row = df.collect()
        return int(row[0]["n"]) if row else 0

    n_ok = count_rows(strict=False)
    aborted, n_strict = False, None
    try:
        n_strict = count_rows(strict=True)
    except Exception as exc:  # noqa: BLE001 — filtered below
        msg = str(exc)
        if "MALFORMED_RECORD" not in msg and "FAILFAST" not in msg:
            raise  # a real failure must fail the gate, not pass it
        aborted = True
    return spark.createDataFrame(
        [("permissive", False, n_ok), ("strict", aborted, n_strict)],
        "mode STRING, aborted BOOLEAN, rows_parsed BIGINT",
    )


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


@register(
    "pandas_udf_char_classes",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
           CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
           CAST(len(text) AS BIGINT) AS n_chars
    FROM documents ORDER BY doc_id
    """,
    tags=("udx", "pandas_udf", "llm"),
    sort="body",
)
def pandas_udf_char_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar `pandas_udf`: per-document character-class
    counts, computed inside the UDF with pyarrow's RE2-backed
    ``count_substring_regex`` kernel (C++ over the Arrow batch —
    measured ~2× pandas ``str.count``, which walks rows in Python).

    Scale shape: one Python worker per task over Arrow batches
    (zero-copy columnar transfer), ~10-100× a row-at-a-time udf; the
    operator stays embarrassingly parallel. One struct-returning UDF
    (not one per output) ships the text column to Python once. The
    sort runs BEFORE the projection: orderBy after a UDF projection
    makes the range-sampling pass evaluate the UDF a second time,
    while sorting the pruned (doc_id, text) input costs one cheap
    sampling scan and the projection preserves the order.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    @pandas_udf("n_digits long, n_upper long")
    def char_classes(s: pd.Series) -> pd.DataFrame:
        arr = pa.Array.from_pandas(s)
        # nullable Int64, not int64: the RE2 kernel returns NULL for
        # NULL text (matching the oracle's len(regexp_extract_all(
        # NULL))), and plain astype(int64) crashes on the NaN those
        # nulls become (r9 text-null probe)
        return pd.DataFrame(
            {
                "n_digits": pc.count_substring_regex(arr, "[0-9]")
                .to_pandas()
                .astype("Int64"),
                "n_upper": pc.count_substring_regex(arr, "[A-Z]")
                .to_pandas()
                .astype("Int64"),
            }
        )

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.orderBy("doc_id")
        .select(
            "doc_id",
            char_classes("text").alias("c"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .select("doc_id", "c.n_digits", "c.n_upper", "n_chars")
    )


@register(
    "apply_in_pandas_top3",
    """
    SELECT event_type, event_id, rnk FROM (
      SELECT event_type, event_id,
             CAST(row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id
             ) AS BIGINT) AS rnk
      FROM events
    ) WHERE rnk <= 3
    ORDER BY event_type, rnk
    """,
    tags=("udx", "applyInPandas", "llm"),
    # types x 3 rows; orderBy's sampling job would run both Python
    # stages a second time (0.88 -> 0.60 s at sf0.1)
    sort="one_part_sorted",
)
def apply_in_pandas_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped `applyInPandas`: per-event-type top-3 by value computed
    inside a pandas transform (exact integer cents + id tie-break —
    fully deterministic, so the window-function oracle hash-matches).

    Scale shape — partial-reduce before the shuffle: a `mapInPandas`
    stage keeps each input partition's local top-3 per type (no data
    movement, output ≤ partitions × types × 3 rows), so the group-key
    shuffle and the final `applyInPandas` see only finalists instead
    of the full table — the combiner pattern every distributed
    group-local Python operator needs at 100 TB (per-group model
    scoring, custom resampling). Top-3-of-local-top-3s is exact for
    any associative selection. For plain top-k the built-in window
    wins — the point here is validating the Python path against the
    SQL spec.
    """
    e = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def local_top3(batches):
        for pdf in batches:
            yield (
                pdf.sort_values(
                    ["cents", "event_id"], ascending=[False, True]
                )
                # dropna=False: pandas groupby DROPS null keys by
                # default, so the local combiner silently discarded
                # the NULL-type group that Spark's groupBy (and the
                # oracle's window) keep — the combiner must preserve
                # exactly the final stage's key semantics (r9 null
                # sweep)
                .groupby("event_type", sort=False, dropna=False)
                .head(3)
            )

    def top3(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cents", "event_id"], ascending=[False, True]
        ).head(3)
        pdf = pdf.reset_index(drop=True)
        pdf["rnk"] = pdf.index + 1
        return pdf[["event_type", "event_id", "rnk"]]

    return (
        e.mapInPandas(
            local_top3, schema="event_type string, event_id long, cents long"
        )
        .groupBy("event_type")
        .applyInPandas(top3, schema="event_type string, event_id long, rnk long")
    )


@register(
    "udtf_shared_shingles",
    """
    WITH g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(str_split(text, ' ')) - 2),
               i -> array_to_string(str_split(text, ' ')[i:i+3], ' ')
             ))) AS shingle
      FROM documents
    )
    SELECT shingle, COUNT(*) AS n_docs
    FROM g GROUP BY shingle HAVING COUNT(*) >= 3
    ORDER BY n_docs DESC, shingle
    """,
    tags=("udx", "udtf", "llm"),
)
def udtf_shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) in lateral position: a class-based
    ``@udtf`` explodes each document into its distinct 4-word shingles;
    the outer query counts cross-document shingle sharing (the raw
    signal under every shingle-based dedup).

    Scale shape: the UDTF runs Arrow-batched per partition exactly
    where the document rows live — the lateral apply adds no shuffle;
    only the shingle-count agg shuffles. This is the template for any
    one-row→many-rows Python operator (parsers, tokenizers,
    chunkers) that SQL can't express.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="shingle string")
    class DistinctShingles:
        def eval(self, text: str):
            if text is None:
                return  # no text, no shingles (oracle: unnest(NULL)
                # yields no rows; None.split crashed — r9 text-null
                # probe)
            ws = text.split(" ")
            seen = set()
            for i in range(len(ws) - 3):
                s = " ".join(ws[i : i + 4])
                if s not in seen:
                    seen.add(s)
                    yield (s,)

    spark.udtf.register("fmr_distinct_shingles", DistinctShingles)
    t(spark, sf_dir, "documents").createOrReplaceTempView("documents_udtf")
    return spark.sql(
        """
        SELECT s.shingle, COUNT(*) AS n_docs
        FROM documents_udtf d, LATERAL fmr_distinct_shingles(d.text) s
        GROUP BY s.shingle HAVING COUNT(*) >= 3
        """
    )


# --------------------------------------------------------------------
# mapInArrow: zero-copy Arrow-batch Python (the fastest Python path).
# --------------------------------------------------------------------
@register(
    "map_in_arrow_vector_norms",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
    FROM embeddings ORDER BY vec_id
    """,
    tags=("udx", "arrow", "llm"),
)
def map_in_arrow_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: per-batch pyarrow compute with no pandas
    conversion at all — the lowest-overhead Python execution path
    (RecordBatch in, RecordBatch out, zero copies on the JVM side).
    Computes embedding L2 norms batch-wise in numpy.

    Scale shape: embarrassingly parallel map over Arrow batches;
    norms are rounded to 4 decimals so the float64 fold (same
    element order both engines) hash-matches the SQL oracle.
    """
    import pyarrow as pa
    import numpy as np

    def norms(batches):
        for batch in batches:
            tbl = pa.table(batch)
            ids = tbl.column("vec_id")
            embs = tbl.column("embedding").to_pylist()
            dims = [len(e) for e in embs]
            l2 = [
                round(
                    float(
                        np.sqrt(
                            np.sum(np.asarray(e, dtype=np.float64) ** 2)
                        )
                    ),
                    4,
                )
                for e in embs
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    ids.combine_chunks()
                    if isinstance(ids, pa.ChunkedArray)
                    else ids,
                    pa.array(dims, type=pa.int32()),
                    pa.array(l2, type=pa.float64()),
                ],
                names=["vec_id", "dim", "l2_norm"],
            )

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(
        norms, "vec_id long, dim int, l2_norm double"
    )


# --------------------------------------------------------------------
# Grouped-aggregate pandas UDF: a true custom UDAF.
# --------------------------------------------------------------------
@register(
    "pandas_udaf_weighted_price",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS DOUBLE)
           / SUM(CAST(l_quantity AS BIGINT)) AS wavg_price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("udx", "udaf", "pandas"),
)
def pandas_udaf_weighted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via a GROUPED_AGG pandas UDF: quantity-weighted
    mean price per return flag, computed inside numpy on Arrow
    batches. The UDAF accumulates exact int64 (cents × quantity)
    sums — deterministic regardless of row order — and divides once,
    so it hash-matches the SQL oracle exactly.

    Scale caveat (why built-ins still win): a grouped-agg pandas UDF
    has no partial aggregation — Spark shuffles the raw group rows to
    the aggregator. Fine for bounded groups; for 100 TB hot paths,
    express the same math with built-ins (as the oracle does) to get
    map-side partials. This query exists to cover the custom-UDAF
    surface for aggregations built-ins can't express.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # SQL aggregate NULL semantics, hand-rolled (a custom UDAF sees
    # the raw rows, NULLs included, as NaN — int(NaN) raised on the
    # all-NULL measures fixture): the numerator sums rows where BOTH
    # operands are observed, the denominator where qty is observed,
    # and a group with nothing observed returns NULL like SUM does.
    @pandas_udf("double")
    def wavg(price_cents: pd.Series, qty: pd.Series) -> float:
        # annotation marks the GROUPED_AGG eval type; returning None
        # for a nothing-observed group is still valid at runtime
        both = price_cents.notna() & qty.notna()
        if not both.any():
            return None
        num = (
            price_cents[both].to_numpy() * qty[both].to_numpy()
        ).sum()
        den = qty[qty.notna()].to_numpy().sum()
        return float(num) / float(den) if den else None

    # Spark forbids mixing GROUPED_AGG pandas UDFs with JVM
    # aggregates in one agg() — so the companion sum is a UDAF too.
    @pandas_udf("long")
    def qty_sum(qty: pd.Series) -> int:
        obs = qty[qty.notna()]
        return int(obs.to_numpy().sum()) if len(obs) else None

    l = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return (
        l.groupBy("l_returnflag")
        .agg(
            wavg("price_cents", "qty").alias("wavg_price_cents"),
            qty_sum("qty").alias("total_qty"),
        )
    )


# --------------------------------------------------------------------
# Clamped running balance: the canonical NOT-window-expressible fold.
# --------------------------------------------------------------------
_CLAMP_CAP = 100_000  # cents


@register(
    "clamped_running_balance",
    f"""
    WITH deltas AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(round(value*100) AS BIGINT)
                  ELSE -CAST(round(value*100) AS BIGINT) END AS delta
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_ops,
           CAST(SUM(delta) AS BIGINT) AS unclamped_cents,
           CAST(list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list(delta ORDER BY ts, event_id)),
                  (acc, x) -> greatest(CAST(0 AS BIGINT),
                               least(CAST({_CLAMP_CAP} AS BIGINT), acc + x)))
                AS BIGINT) AS balance_cents
    FROM deltas
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("udx", "stateful", "fold"),
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded (clamped) running balance per user: credits (purchase/
    signup) and debits (other events) fold in time order with the
    balance clamped to [0, 1000.00] at EVERY step — the canonical
    stateful fold that NO window function can express (the clamp
    makes each step depend on the clamped previous state, not on any
    prefix aggregate; inventory with restock caps, credit wallets,
    and token-bucket rate limiters are all this shape).

    This is the (b)-tier custom-operator path from the design rules:
    a per-key ordered fold in ``applyInPandas`` (Arrow-batched, one
    shuffle on the key, linear per-key work). The oracle folds the
    same ordered delta list with DuckDB's ``list_reduce`` — exact
    integer arithmetic on both sides, so hashes match. The unclamped
    sum rides along to show where clamping actually bit.

    Scale: state is one integer per key; groups process
    independently after a single hash shuffle — the same plan at any
    SF. A group too large for one task would band by time and chain
    the per-band carry (the scan-style two-pass trick).
    """
    import pandas as pd

    # an undated or valueless event is no balance operation: a NULL
    # ts has no fold position (engines order NULLs at opposite ends)
    # and a NULL value has no delta (the Python int(NaN) raised; the
    # oracle's list_reduce NULL-poisoned instead — r9 null sweeps)
    e = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    deltas = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type").isin("purchase", "signup"),
            cents("value"),
        )
        .otherwise(-cents("value"))
        .alias("delta"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        bal = 0
        for d in pdf["delta"].to_numpy():
            bal = max(0, min(_CLAMP_CAP, bal + int(d)))
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_ops": [len(pdf)],
                "unclamped_cents": [int(pdf["delta"].sum())],
                "balance_cents": [bal],
            }
        )

    return (
        deltas.groupBy("user_id")
        .applyInPandas(
            fold,
            schema=(
                "user_id bigint, n_ops bigint, "
                "unclamped_cents bigint, balance_cents bigint"
            ),
        )
    )


# --------------------------------------------------------------------
# The same clamped fold as a PARALLEL two-pass scan (no Python).
# --------------------------------------------------------------------
_BAND_DAYS = 5


@register(
    "clamped_balance_parallel_scan",
    f"""
    WITH deltas AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) // 86400000000 // {_BAND_DAYS} AS band,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(round(value*100) AS BIGINT)
                  ELSE -CAST(round(value*100) AS BIGINT) END AS delta
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT band) AS BIGINT) AS n_bands,
           CAST(list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list(delta ORDER BY ts, event_id)),
                  (acc, x) -> greatest(CAST(0 AS BIGINT),
                               least(CAST({_CLAMP_CAP} AS BIGINT), acc + x)))
                AS BIGINT) AS balance_cents
    FROM deltas
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("udx", "stateful", "scan", "parallel"),
)
def clamped_balance_parallel_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The clamped running balance AGAIN — but computed by a parallel
    two-pass scan instead of a sequential fold, proving the
    'sequential-looking' operator scales. Key fact: every step
    x ↦ clamp(0, CAP, x + d) is a *clamped-affine* map (s, m, M):
    x ↦ max(m, min(M, x + s)), and those maps are CLOSED under
    composition — (g∘f) = (f.s + g.s, max(g.m, min(g.M, f.m + g.s)),
    min(g.M, f.M + g.s)) — and composition is associative. So:
    pass 1 composes each time-band's steps independently (row-local
    array fold over the band's ordered deltas, pure JVM higher-order
    functions); pass 2 composes the per-band maps in band order (a
    tiny per-user array) and applies the result to 0. Identical
    answer to the ``applyInPandas`` fold (asserted in tests AND by
    sharing its oracle), zero Python, and per-band work is
    embarrassingly parallel — the standard parallel-prefix treatment
    of any composable stateful operator (Blelloch scan).

    Scale: band count bounds the sequential part (composition chain
    per user is #bands long); bands process in parallel across the
    cluster. At 100 TB pick band width so each band's array fits a
    task — the carry composition stays a few integers per band.
    """
    # same declared exclusions as clamped_running_balance (shared
    # oracle semantics): no fold position without ts, no delta
    # without value (r9 null sweeps; the NULL band also made Spark's
    # n_bands count a band the oracle's COUNT(DISTINCT) excluded)
    e = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    deltas = e.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(f"unix_micros(ts) div 86400000000 div {_BAND_DAYS}").alias(
            "band"
        ),
        F.when(
            F.col("event_type").isin("purchase", "signup"),
            cents("value"),
        )
        .otherwise(-cents("value"))
        .alias("delta"),
    )
    big = 1 << 62
    # pass 1: per (user, band) compose the band's steps in time order
    band_steps = deltas.groupBy("user_id", "band").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "delta"))
        ).alias("steps")
    )
    # fold: acc=(s,m,M); next step g=(d, 0, CAP):
    #   s' = s + d; M' = least(CAP, M + d); m' = greatest(0, least(CAP, m + d))
    band_fn = band_steps.select(
        "user_id",
        "band",
        F.size("steps").alias("n_steps"),
        F.aggregate(
            F.col("steps"),
            F.struct(
                F.lit(0).cast("long").alias("s"),
                F.lit(-big).cast("long").alias("lo"),
                F.lit(big).cast("long").alias("hi"),
            ),
            lambda acc, st: F.struct(
                (acc["s"] + st["delta"]).alias("s"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.least(
                        F.lit(_CLAMP_CAP).cast("long"),
                        acc["lo"] + st["delta"],
                    ),
                ).alias("lo"),
                F.least(
                    F.lit(_CLAMP_CAP).cast("long"), acc["hi"] + st["delta"]
                ).alias("hi"),
            ),
        ).alias("fn"),
    )
    # pass 2: compose band maps in band order, apply to 0
    user_fn = band_fn.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_bands"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("band", "fn"))),
                lambda x: x["fn"],
            ),
            F.struct(
                F.lit(0).cast("long").alias("s"),
                F.lit(-big).cast("long").alias("lo"),
                F.lit(big).cast("long").alias("hi"),
            ),
            # g∘f: s=f.s+g.s; m=max(g.m, min(g.M, f.m+g.s));
            #      M=min(g.M, f.M+g.s)   (f=acc so far, g=next band)
            lambda f, g: F.struct(
                (f["s"] + g["s"]).alias("s"),
                F.greatest(
                    g["lo"], F.least(g["hi"], f["lo"] + g["s"])
                ).alias("lo"),
                F.least(g["hi"], f["hi"] + g["s"]).alias("hi"),
            ),
        ).alias("fn"),
    )
    return user_fn.select(
        "user_id",
        "n_bands",
        F.greatest(
            F.col("fn.lo"),
            F.least(F.col("fn.hi"), F.col("fn.s")),
        ).alias("balance_cents"),
    )
