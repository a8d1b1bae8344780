"""Training-corpus assembly operators (SURVEY.md §2 Part B, north-star
extensions): the steps that turn a cleaned document corpus into model-
ready token streams — sequence packing, chunking with overlap,
corpus-wide segment dedup, and mixture resampling with epochs.

Like the rest of the LLM suite these use exact, order-independent
arithmetic (whitespace token counts, md5 content hashes, integer
window math) so every operator has a bit-exact DuckDB oracle twin.

Reference scope note: the reference (`/root/reference/`) has no
corpus-assembly surface — these operators are the north-star additions
required by BASELINE.json, built on the same engine substrate
(`mapreduce.go:319-342`'s map stage generalizes to the per-row
expressions here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.operators.textops import SQL_WORDS, words
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_SQL_TOK = f"len({SQL_WORDS})"


# --------------------------------------------------------------------
# Sequence packing (concat-and-chop, per-source streams).
# --------------------------------------------------------------------
@register(
    "sequence_pack_streams",
    f"""
    WITH d AS (
      SELECT source, doc_id, CAST({_SQL_TOK} AS BIGINT) AS tok
      FROM documents
    ), c AS (
      SELECT source, doc_id, tok,
             COALESCE(SUM(tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           CAST((SUM(tok) - 1) // 256 + 1 AS BIGINT) AS n_seqs,
           CAST(SUM(CASE WHEN cum_before // 256
                      != (cum_before + tok - 1) // 256 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_crossing
    FROM c GROUP BY source ORDER BY source
    """,
    tags=("llm", "packing"),
)
def sequence_pack_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate each source's documents
    in doc_id order and chop the token stream into fixed 256-token
    training sequences; report per-source sequence counts and how many
    documents cross a sequence boundary. The bin assignment is pure
    window arithmetic (cumulative token offset // capacity) — no
    driver loop, no per-bin state.

    Scale shape: one shuffle on the stream key (source; at 100 TB the
    key is (source, shard) so each window partition stays
    executor-sized), then map-side aggregation.
    """
    d = t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(words(F.col("text"))).cast("long").alias("tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn("cum_before", F.coalesce(F.sum("tok").over(w), F.lit(0)))
    start_seq = F.floor(F.col("cum_before") / 256)
    end_seq = F.floor((F.col("cum_before") + F.col("tok") - 1) / 256)
    return (
        c.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            (F.floor((F.sum("tok") - 1) / 256) + 1).alias("n_seqs"),
            F.sum(F.when(start_seq != end_seq, 1).otherwise(0)).alias("n_crossing"),
        )
    )


# --------------------------------------------------------------------
# Chunking with overlap (context windows for embedding / retrieval).
# --------------------------------------------------------------------
@register(
    "chunk_overlap_windows",
    f"""
    WITH d AS (
      SELECT doc_id, CAST({_SQL_TOK} AS BIGINT) AS tok FROM documents
    ), n AS (
      SELECT doc_id, tok,
             1 + CASE WHEN tok > 64 THEN (tok - 64 + 47) // 48 ELSE 0 END
               AS n_chunks
      FROM d
    )
    SELECT doc_id, CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_idx,
           tok, n_chunks
    FROM n
    ORDER BY doc_id, chunk_idx
    """,
    tags=("llm", "chunking"),
)
def chunk_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: each document's token stream becomes
    64-token chunks with 16-token overlap (stride 48) — the standard
    retrieval/embedding preparation step. Chunk enumeration is a
    row-local ``sequence`` + ``explode`` (closed-form chunk count), so
    the operator is embarrassingly parallel: no shuffle until the
    presentation sort.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(words(F.col("text"))).cast("long").alias("tok")
    )
    n_chunks = F.lit(1) + F.when(
        F.col("tok") > 64, F.floor((F.col("tok") - 64 + 47) / 48)
    ).otherwise(0)
    return (
        d.withColumn("n_chunks", n_chunks.cast("long"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)
            ).alias("chunk_idx"),
            "tok",
            "n_chunks",
        )
    )


# --------------------------------------------------------------------
# Corpus-wide segment-level exact dedup (C4-style line dedup,
# generalized to fixed-width word segments).
# --------------------------------------------------------------------
@register(
    "segment_dedup_corpus",
    f"""
    WITH d AS (
      SELECT source, doc_id, {SQL_WORDS} AS ws FROM documents
    ), s AS (
      SELECT source, doc_id,
             CAST(unnest(range((len(ws) + 7) // 8)) AS BIGINT) AS seg_idx,
             ws
      FROM d
    ), seg AS (
      SELECT source, doc_id, seg_idx,
             array_to_string(
               list_slice(ws, seg_idx * 8 + 1,
                          LEAST(len(ws), (seg_idx + 1) * 8)), ' ') AS seg_text
      FROM s
    ), ranked AS (
      SELECT source, doc_id, seg_idx, seg_text,
             ROW_NUMBER() OVER (
               PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx
             ) AS rn
      FROM seg
    )
    SELECT source,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS segs_removed,
           CAST(SUM(CASE WHEN rn > 1
                    THEN len(string_split(seg_text, ' ')) ELSE 0 END)
             AS BIGINT) AS words_removed
    FROM ranked GROUP BY source ORDER BY source
    """,
    tags=("llm", "dedup"),
)
def segment_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact segment dedup (the C4 line-dedup rule applied
    to fixed 8-word segments, since the corpus is single-line): every
    segment whose content appears earlier anywhere in the corpus —
    first occurrence by (doc_id, seg_idx) — is dropped; report removal
    mass per source. The keep-first choice is a row_number over the
    segment content hash.

    Scale shape: explode to segments (row-local), one shuffle on the
    128-bit segment hash (uniformly distributed — no skew), map-side
    partial aggregation for the accounting.
    """
    d = t(spark, sf_dir, "documents").select(
        "source", "doc_id", words(F.col("text")).alias("ws")
    )
    # guard the sequence: for a token-less doc (text='' under the r10
    # unicode axis) size=0 makes sequence(0, -1), which Spark treats
    # as a DESCENDING range [0, -1] — two phantom segments — while the
    # oracle's range(0) is empty. Zero tokens → zero segments.
    s = d.where(F.size("ws") >= 1).select(
        "source",
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.floor((F.size("ws") + 7) / 8) - 1)
        ).alias("seg_idx"),
        "ws",
    )
    seg = s.select(
        "source",
        "doc_id",
        "seg_idx",
        F.concat_ws(
            " ",
            F.slice(
                F.col("ws"),
                (F.col("seg_idx") * 8 + 1).cast("int"),
                F.least(
                    F.lit(8),
                    (F.size("ws") - F.col("seg_idx") * 8).cast("int"),
                ),
            ),
        ).alias("seg_text"),
    )
    rn = F.row_number().over(
        Window.partitionBy(F.md5("seg_text")).orderBy("doc_id", "seg_idx")
    )
    return (
        seg.withColumn("rn", rn)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("segs_removed"),
            F.sum(
                F.when(
                    F.col("rn") > 1, F.size(F.split("seg_text", " "))
                ).otherwise(0)
            ).alias("words_removed"),
        )
    )


# --------------------------------------------------------------------
# Mixture resampling with epochs (corpus reweighting).
# --------------------------------------------------------------------
@register(
    "mixture_resample_epochs",
    f"""
    WITH d AS (
      SELECT doc_id, lang, CAST({_SQL_TOK} AS BIGINT) AS tok,
             ('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4))::INT
               AS bucket
      FROM documents
    ), c AS (
      SELECT doc_id, lang, tok,
             CASE lang
               WHEN 'en' THEN CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
               WHEN 'zh' THEN 2 + CASE WHEN bucket < 16384 THEN 1 ELSE 0 END
               ELSE 1
             END AS n_copies
      FROM d
    ), e AS (
      SELECT doc_id, lang, tok, unnest(range(n_copies)) AS epoch
      FROM c WHERE n_copies > 0
    )
    SELECT lang,
           COUNT(DISTINCT doc_id) AS docs_in,
           COUNT(*) AS rows_out,
           CAST(SUM(tok) AS BIGINT) AS tokens_out
    FROM e GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "sampling"),
)
def mixture_resample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting with multi-epoch upsampling: per-language
    target weights (en 0.5× — downsample; zh 2.25× — two full epochs
    plus a 25% hash-gated partial epoch; others 1.0×) applied as
    deterministic content-hash decisions + ``explode(sequence(...))``
    replication. This is the "data mixture" step of a training
    pipeline (FineWeb/Dolma-style source weights), reproducible
    across engines and runs — unlike rand()-based sampling.

    Scale shape: row-local hash + replication (output rows ≈ Σ wᵢ·nᵢ,
    no shuffle); only the per-language accounting aggregates.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(words(F.col("text"))).cast("long").alias("tok"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("int")
    n_copies = (
        F.when(
            F.col("lang") == "en",
            F.when(bucket < 32768, 1).otherwise(0),
        )
        .when(
            F.col("lang") == "zh",
            F.lit(2) + F.when(bucket < 16384, 1).otherwise(0),
        )
        .otherwise(1)
    )
    e = (
        d.withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "lang",
            "tok",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("epoch"),
        )
    )
    return (
        e.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("docs_in"),
            F.count("*").alias("rows_out"),
            F.sum("tok").alias("tokens_out"),
        )
    )


# --------------------------------------------------------------------
# Broadcast-model scoring (quality classifier inference).
# --------------------------------------------------------------------
@register(
    "classifier_score_quality",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_WORDS} AS ws, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    ), f AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(list_filter(ws, w -> len(w) > 5)) AS BIGINT) AS n_long,
             n_chars
      FROM d
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(
             -2.0
             + 0.05 * CAST(n_words AS DOUBLE)
             - 0.1  * CAST(n_long AS DOUBLE)
             + 0.002 * CAST(n_chars AS DOUBLE)
           ))), 6) AS quality_prob,
           -- unscorable docs (NULL feature) are declared keep=FALSE:
           -- a bare >= returns NULL and the two engines render the
           -- NULL boolean differently (r9 null-measures sweep)
           COALESCE((0.05 * CAST(n_words AS DOUBLE)
             - 0.1 * CAST(n_long AS DOUBLE)
             + 0.002 * CAST(n_chars AS DOUBLE)) >= 2.0, FALSE) AS keep
    FROM f ORDER BY doc_id
    """,
    tags=("llm", "scoring"),
)
def classifier_score_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference as a row-local expression: a (fixed-weight)
    logistic quality classifier scored over per-document features —
    the fastText-style keep/drop scorer every curation pipeline runs.
    The weight vector rides the plan as literals (at real scale: a
    broadcast variable feeding a Pandas UDF for wide models); the
    sigmoid stays in whole-stage codegen, so scoring 100 TB is a pure
    map with zero shuffles.

    The double formula is identical on both engines (same operation
    order), so 6-decimal rounding hash-matches.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        words(F.col("text")).alias("ws"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    f = d.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size(F.filter("ws", lambda w: F.length(w) > 5))
        .cast("long")
        .alias("n_long"),
        "n_chars",
    )
    logit = (
        F.lit(-2.0)
        + 0.05 * F.col("n_words").cast("double")
        - 0.1 * F.col("n_long").cast("double")
        + 0.002 * F.col("n_chars").cast("double")
    )
    margin = (
        0.05 * F.col("n_words").cast("double")
        - 0.1 * F.col("n_long").cast("double")
        + 0.002 * F.col("n_chars").cast("double")
    )
    return f.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias(
            "quality_prob"
        ),
        F.coalesce(margin >= 2.0, F.lit(False)).alias("keep"),
    )


# --------------------------------------------------------------------
# BPE-style vocabulary induction (one merge round of pair counts).
# --------------------------------------------------------------------
@register(
    "bpe_pair_counts_top50",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), w AS (
      SELECT unnest(ws) AS word FROM d
    ), pairs AS (
      SELECT substring(word, i, 2) AS pair
      FROM w, unnest(range(1, len(word))) AS t(i)
      WHERE len(word) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
    tags=("llm", "tokenizer"),
)
def bpe_pair_counts_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of BPE vocabulary induction: count every adjacent
    character pair across the corpus and rank the top 50 merge
    candidates — the inner loop of tokenizer training, expressed as
    explode + grouped count.

    Scale shape: pair generation is row-local (sequence+transform,
    no Python); the count shuffles once on the pair key (≤ alphabet²
    distinct keys, heavily combined map-side); top-50 is
    TakeOrderedAndProject.
    """
    d = t(spark, sf_dir, "documents").select(words(F.col("text")).alias("ws"))
    w = d.select(F.explode("ws").alias("word")).filter(F.length("word") >= 2)
    # substring with a dynamic start needs expr(): substring(word, i, 2)
    pairs = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(50)
    )


# --------------------------------------------------------------------
# 2-D skyline (Pareto front): cheapest-vs-largest parts.
# --------------------------------------------------------------------
@register(
    "skyline_parts_price_size",
    """
    WITH pairs AS (
      -- a part with unknown price or size has no dominance position
      -- and cannot sit on the front (r9 null-measures sweep)
      SELECT DISTINCT CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             p_size FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    )
    SELECT a.price_cents, a.p_size AS size,
           (SELECT COUNT(*) FROM part p
             WHERE CAST(round(p.p_retailprice * 100) AS BIGINT) = a.price_cents
               AND p.p_size = a.p_size) AS n_parts
    FROM pairs a
    WHERE NOT EXISTS (
      SELECT 1 FROM pairs b
      WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
    )
    ORDER BY price_cents
    """,
    tags=("skyline", "window", "analytics"),
)
def skyline_parts_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) over (minimize price, maximize
    size): a part survives iff nothing is both cheaper-or-equal and
    larger-or-equal with one strict. Computed the scalable way — NOT
    the O(n²) dominance anti-join the oracle uses: (1) aggregate to
    per-price max size (map-side partials); (2) running max WITHIN
    price buckets (window partitioned by bucket — parallel); (3) the
    cross-bucket prefix max comes from a scalar agg of ~|buckets|
    maxima, turned into per-bucket prefixes row-locally and broadcast
    back. No unpartitioned window, no global sort — the classic
    "aggregate the boundaries, broadcast them back" two-level scan.
    The oracle's NOT EXISTS formulation independently proves the
    algebra.
    """
    # unknown price/size has no dominance position (see oracle note)
    p = (
        t(spark, sf_dir, "part")
        .where(
            F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
        )
        .select(cents("p_retailprice").alias("price_cents"), "p_size")
    )
    bucket = (F.col("price_cents") / 100000).cast("long")
    per_price = (
        p.groupBy("price_cents")
        .agg(F.max("p_size").alias("size"))
        .withColumn("bucket", bucket)
    )
    # (2) strictly-cheaper running max inside each price bucket
    in_bucket = (
        Window.partitionBy("bucket")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = per_price.withColumn(
        "local_prev", F.max("size").over(in_bucket)
    )
    # (3) per-bucket maxima -> one row -> prefix max per bucket
    bmax = per_price.groupBy("bucket").agg(F.max("size").alias("bmax"))
    arr = bmax.agg(
        F.sort_array(F.collect_list(F.struct("bucket", "bmax"))).alias("bs")
    )
    prefixes = arr.select(
        F.explode(
            F.transform(
                "bs",
                lambda s, i: F.struct(
                    s["bucket"].alias("bucket"),
                    F.when(
                        i > 0,
                        F.array_max(
                            F.transform(
                                F.slice("bs", 1, i), lambda q: q["bmax"]
                            )
                        ),
                    ).alias("prefix_prev"),
                ),
            )
        ).alias("pb")
    ).select("pb.bucket", "pb.prefix_prev")
    front = (
        local.join(F.broadcast(prefixes), "bucket")
        .where(
            F.col("size")
            > F.greatest(
                F.coalesce("local_prev", F.lit(-1)),
                F.coalesce("prefix_prev", F.lit(-1)),
            )
        )
        .select("price_cents", "size")
    )
    counts = p.groupBy("price_cents", F.col("p_size").alias("size")).agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    return front.join(counts, ["price_cents", "size"])


# --------------------------------------------------------------------
# Robust statistics: median absolute deviation per group.
# --------------------------------------------------------------------
@register(
    "robust_stats_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(MAX(m.med), 6) AS median,
           round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad,
           COUNT(*) AS n
    FROM events e JOIN med m ON m.event_type = e.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    tags=("stats", "robust", "analytics"),
)
def robust_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the outlier-robust
    spread measure (quality-score distributions are heavy-tailed, so
    std-dev-based cutoffs misbehave; MAD-based ones don't). Two exact
    interpolated-percentile passes: group medians, broadcast back,
    then the median of absolute deviations.

    Scale: each pass is a grouped exact percentile (sort within hash
    partition); the join-back is a broadcast of |groups| rows. At
    100 TB swap pass 2's exact percentile for percentile_approx and
    keep pass 1 exact (group count is small).
    """
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 6).alias("median"),
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)),
                6,
            ).alias("mad"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------
# Contingency analysis: chi-square cells for lang × source.
# --------------------------------------------------------------------
@register(
    "contingency_chi2_cells",
    """
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS n FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL
      GROUP BY lang, source
    ),
    margins AS (
      SELECT o.lang, o.source, o.n,
             CAST(SUM(o.n) OVER (PARTITION BY o.lang) AS BIGINT) AS row_total,
             CAST(SUM(o.n) OVER (PARTITION BY o.source) AS BIGINT) AS col_total,
             SUM(o.n) OVER () AS grand_total
      FROM obs o
    )
    SELECT lang, source, n, row_total, col_total,
           round((CAST(row_total AS DOUBLE) * col_total) / grand_total, 6)
             AS expected,
           round(
             ((n - (CAST(row_total AS DOUBLE) * col_total) / grand_total)
              * (n - (CAST(row_total AS DOUBLE) * col_total) / grand_total))
             / ((CAST(row_total AS DOUBLE) * col_total) / grand_total), 6)
             AS chi2_term
    FROM margins ORDER BY lang, source
    """,
    tags=("stats", "analytics"),
)
def contingency_chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence analysis of the lang × source
    contingency table, emitted per cell (observed, margins, expected,
    χ² term) so every float is computed row-locally in one fixed op
    order — no cross-row float summation to perturb hashes; the
    caller folds the rounded terms for the statistic.

    Scale: one exact grouped count over raw rows, then margins via
    broadcast joins of the tiny per-lang/per-source/grand aggregates —
    no window touches raw data and nothing funnels to one partition.
    This is the standard pattern for feature×label dependence
    screening over a corpus.
    """
    # a chi-square contingency table is over OBSERVED categories: a
    # NULL lang/source is no category, declared on both sides (r9
    # null sweep: the oracle's window margins kept NULL cells that
    # Spark's equi-join margins dropped)
    d = t(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    # obs feeds four consumers (margins base + three marginal aggs) —
    # persist the lang×source cell table (tiny) so the corpus count
    # runs once, not once per reference
    obs = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    row_tot = obs.groupBy("lang").agg(F.sum("n").alias("row_total"))
    col_tot = obs.groupBy("source").agg(F.sum("n").alias("col_total"))
    grand = obs.agg(F.sum("n").alias("grand_total"))
    margins = (
        obs.join(F.broadcast(row_tot), "lang")
        .join(F.broadcast(col_tot), "source")
        .crossJoin(F.broadcast(grand))
        .select("lang", "source", "n", "row_total", "col_total", "grand_total")
    )
    expected = (
        F.col("row_total").cast("double") * F.col("col_total")
    ) / F.col("grand_total")
    return margins.select(
        "lang",
        "source",
        "n",
        "row_total",
        "col_total",
        F.round(expected, 6).alias("expected"),
        F.round(
            ((F.col("n") - expected) * (F.col("n") - expected)) / expected, 6
        ).alias("chi2_term"),
    )


# --------------------------------------------------------------------
# Packed-sequence boundary offsets (cu_seqlens for varlen attention).
# --------------------------------------------------------------------
@register(
    "sequence_pack_cu_seqlens",
    f"""
    WITH d AS (
      SELECT source, doc_id, CAST({_SQL_TOK} AS BIGINT) AS tok
      FROM documents
    ), c AS (
      SELECT source, doc_id, tok,
             COALESCE(SUM(tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM d
    ), spans AS (
      SELECT source, doc_id, tok, cum_before,
             unnest(range(CAST(cum_before // 256 AS BIGINT),
                          CAST((cum_before + tok - 1) // 256 + 1 AS BIGINT)))
               AS seq_idx
      FROM c WHERE tok > 0
    )
    SELECT source, CAST(seq_idx AS BIGINT) AS seq_idx,
           COUNT(*) AS n_docs,
           array_to_string(list_sort(list(
             CAST(GREATEST(cum_before - seq_idx * 256, 0) AS BIGINT))), ',')
             AS cu_seqlens
    FROM spans
    GROUP BY source, seq_idx
    ORDER BY source, seq_idx
    """,
    tags=("llm", "packing"),
)
def sequence_pack_cu_seqlens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-boundary offsets inside each packed 256-token training
    sequence — the cu_seqlens input varlen (flash-)attention needs so
    packed documents don't attend across boundaries. Each doc explodes
    to the (≤2 here, always bounded by ceil(doc_len/capacity)+1)
    sequences it overlaps; offsets are exact window arithmetic. One
    shuffle on the stream key, one on (source, seq_idx)."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn(
        "cum_before", F.coalesce(F.sum("tok").over(w), F.lit(0))
    ).filter(F.col("tok") > 0)
    spans = c.select(
        "source",
        "doc_id",
        "tok",
        "cum_before",
        F.explode(
            F.sequence(
                F.floor(F.col("cum_before") / 256),
                F.floor((F.col("cum_before") + F.col("tok") - 1) / 256),
            )
        ).alias("seq_idx"),
    )
    return (
        spans.groupBy("source", "seq_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.greatest(
                            F.col("cum_before") - F.col("seq_idx") * 256,
                            F.lit(0),
                        )
                    )
                ).cast("array<string>"),
                ",",
            ).alias("cu_seqlens"),
        )
    )


# --------------------------------------------------------------------
# Session behavior patterns (event-sequence n-grams per session).
# --------------------------------------------------------------------
@register(
    "session_pattern_top20",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ep, ts, event_type
      FROM events
      WHERE ts IS NOT NULL
    ), l AS (
      SELECT *, lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS prev
      FROM e
    ), f AS (
      SELECT *, CASE WHEN prev IS NULL OR ep - prev > 1800000000
                     THEN 1 ELSE 0 END AS new_s
      FROM l
    ), s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    ), pat AS (
      -- COALESCE: a session whose every event is untyped aggregates
      -- NULL in string_agg but '' in Spark's array_join — declare
      -- the empty pattern (r9 null sweep)
      SELECT user_id, sid,
             COALESCE(string_agg(upper(substring(event_type, 1, 1)), ''
                        ORDER BY ts, event_id), '') AS pattern
      FROM s GROUP BY user_id, sid
    )
    SELECT pattern, COUNT(*) AS n_sessions,
           COUNT(DISTINCT user_id) AS n_users
    FROM pat
    GROUP BY pattern
    ORDER BY n_sessions DESC, pattern
    LIMIT 20
    """,
    tags=("session", "sequence", "llm"),
)
def session_pattern_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral session patterns: each 30-min session becomes an
    ordered string of event-type initials (VCP… = view,click,purchase)
    and the corpus's 20 most common patterns are reported — the
    log-to-training-sequence transform behind behavior-cloning /
    recommendation datasets. Sessionization and the ordered
    string_agg reuse ONE user_id shuffle; the pattern count is a
    second small agg."""
    # NULL event-times are off the session axis (same declared
    # semantics as sessionize_events; r9 null sweep)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = (
        e.select("user_id", "event_id", "ts", "event_type",
                 F.unix_micros("ts").alias("ep"))
        .withColumn("prev", F.lag("ep").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.col("ep") - F.col("prev") > 1_800_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(wrun))
    )
    pat = s.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda st: F.upper(F.substring(st["event_type"], 1, 1)),
            ),
            "",
        ).alias("pattern")
    )
    return (
        pat.groupBy("pattern")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "pattern")
        .limit(20)
    )


# --------------------------------------------------------------------
# Binary header parsing (multimodal metadata without a decoder).
# --------------------------------------------------------------------
@register(
    "binary_header_parse",
    """
    SELECT source,
           COUNT(*) AS n_blobs,
           -- a NULL n_chars synthesizes no blob, hence no magic:
           -- COUNT(n_chars), not COUNT(*) (r9 null-measures sweep)
           COUNT(n_chars) AS n_valid_magic,
           CAST(SUM(16 + n_chars % 4080) AS BIGINT) AS sum_width,
           -- reduce mod-first so n_chars*7 can never overflow int64 (r10)
           CAST(SUM(16 + ((n_chars % 4080) * 7) % 4080) AS BIGINT) AS sum_height
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("multimodal", "binary", "llm"),
)
def binary_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-header metadata extraction WITHOUT an image library:
    synthesize a PNG-style binary header (magic + 4-byte big-endian
    width/height) per document, then parse magic/width/height back by
    hex-slicing the BINARY column — the cheap metadata pass a
    multimodal pipeline runs on billions of blobs before deciding
    what to actually decode. All row-local string/binary codegen; the
    oracle recomputes the fields arithmetically, so the binary
    round-trip is what's verified."""
    d = t(spark, sf_dir, "documents")
    width = (F.lit(16) + F.col("n_chars") % 4080).cast("long")
    # mod-first: n_chars*7 overflows int64 for 2^62-scale counts (r10)
    height = (F.lit(16) + (F.col("n_chars") % 4080) * 7 % 4080).cast("long")
    blob = F.unhex(
        F.concat(
            F.lit("89504E47"),
            F.lpad(F.conv(width.cast("string"), 10, 16), 8, "0"),
            F.lpad(F.conv(height.cast("string"), 10, 16), 8, "0"),
        )
    )
    hexed = F.hex(blob)
    parsed = d.select(
        "source",
        (F.substring(hexed, 1, 8) == "89504E47").alias("magic_ok"),
        F.conv(F.substring(hexed, 9, 8), 16, 10).cast("long").alias("w"),
        F.conv(F.substring(hexed, 17, 8), 16, 10).cast("long").alias("h"),
    )
    return (
        parsed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum(F.when(F.col("magic_ok"), 1).otherwise(0)).alias(
                "n_valid_magic"
            ),
            F.sum("w").alias("sum_width"),
            F.sum("h").alias("sum_height"),
        )
    )
