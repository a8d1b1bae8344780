"""File-engine + sink rows promoted to oracle-gated queries.

Round-3 review left 9 SURVEY §2 rows gated only by pytest (VFS
backend, single-value finalize, per-job metrics, codec selection,
partition-layout evolution, select/compute, sort-by-key,
strict-vs-permissive parse, incremental streaming arrival — the
streaming one lives in queries/streaming.py). These queries close the
loop the DRIVER can verify: each builds its inputs deterministically
from the parquet test tables, runs the real engine/sink surface, and
returns a result whose DuckDB oracle aggregates the same tables
directly — a value-hash match proves the engine path is lossless.

The in-memory VFS is the reference's test double
(/root/reference/virtualFileSystem.go:9-33): a driver-built
path→bytes dict by definition, so the bounded ``doc_id < 40`` /
``o_orderkey < 200`` collects here are the operator's semantics, not
a scale shortcut — the same jobs run unchanged against a disk/HDFS
root via ``FileEngine(spark, root=...)`` (tests/test_engine.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import ascii_fold

from filemapreduce_spark.core.engine import FileEngine, Job
from filemapreduce_spark.operators.money import SQL_CENTS, cents
from filemapreduce_spark.operators.scratch import scratch_dir
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_DOC_CAP = 40  # documents with doc_id < 40 seed the VFS trees
_ORD_CAP = 200  # orders with o_orderkey < 200 seed the JSON files

# driver-built VFS dicts, keyed by (session id, sf_dir): the collect
# is bounded (<= 40 docs / <= 50 orders) and reused by every engine
# query in a sweep. Entries for other session ids are purged on each
# miss so restarts don't grow the dict unboundedly (the dicts are
# plain data, so a stale id() can only waste memory, never leak a
# dead session's DataFrames — recollecting after a purge is cheap).
_VFS_CACHE: dict[tuple[int, str, str], dict[str, str]] = {}


def _vfs_cached(spark: SparkSession, key: tuple, build) -> dict[str, str]:
    hit = _VFS_CACHE.get(key)
    if hit is None:
        for k in [k for k in _VFS_CACHE if k[0] != id(spark)]:
            del _VFS_CACHE[k]
        hit = build()
        _VFS_CACHE[key] = hit
    return hit


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

    return _vfs_cached(spark, (id(spark), sf_dir, "docs"), build)


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

    return _vfs_cached(spark, (id(spark), sf_dir, "orders_json"), build)


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
