"""LLM-pipeline batch 3: sign-random-projection LSH over dense
embeddings, and tokenizer-vocabulary coverage / OOV accounting.

Completes the ANN family (SURVEY.md §2): the registry already has
MinHash (set similarity), SimHash (weighted token similarity), IVF
(coarse-quantizer partition pruning) and brute-force cosine; SRP-LSH
(Charikar 2002) is the classic *dense-vector* locality hash — sign
bits of dot products against fixed random hyperplanes, banded so that
high-cosine vectors collide. The vocab-coverage op is the standard
pre-tokenizer diagnostic: what fraction of the corpus token mass a
top-K vocabulary captures, per language.

Both are exact-by-construction across engines: hyperplane weights are
±1 values derived from md5 at module import and embedded as literals
in BOTH the Spark plan and the DuckDB oracle, and all folds run in
array-index order.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.vectors import dot, norm, to_double
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_N_PLANES = 16
_DIM = 64


def _plane_weights() -> list[list[float]]:
    """±1 hyperplane weights, md5-derived → identical in any engine
    that embeds them as literals (no RNG, no seed state)."""
    planes = []
    for p in range(_N_PLANES):
        row = []
        for i in range(_DIM):
            h = hashlib.md5(f"{p}:{i}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


_PLANES = _plane_weights()


def _sig_sql() -> str:
    """DuckDB signature expression, fully unrolled: each plane's dot
    is a left-associated ±embedding[i] chain (the same sequential
    order as the Spark fold — IEEE addition order matters for sign
    stability), with no lambda/list-literal re-evaluation per row."""
    dots = []
    for p in range(_N_PLANES):
        terms = "".join(
            ("+ " if w > 0 else "- ") + f"embedding[{i + 1}]::DOUBLE "
            for i, w in enumerate(_PLANES[p])
        )
        dots.append(f"(CASE WHEN ({terms}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(dots) + " AS BIGINT)"

_SQL_COS = """
    round(
      list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * eb[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * ea[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> eb[i]::DOUBLE * eb[i]::DOUBLE)))),
      6)
"""


@register(
    "srp_lsh_candidate_pairs",
    f"""
    WITH sigs AS (
      SELECT vec_id, {_sig_sql()} AS sig
      FROM embeddings
    ), bands AS (
      SELECT vec_id, 0 AS band_idx, sig % 256 AS band_val FROM sigs
      UNION ALL
      SELECT vec_id, 1 AS band_idx, sig // 256 AS band_val FROM sigs
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos FROM (
      SELECT id_a, id_b, {_SQL_COS} AS cos
      FROM cand
      JOIN (SELECT vec_id, embedding AS ea FROM embeddings) qa
        ON qa.vec_id = id_a
      JOIN (SELECT vec_id, embedding AS eb FROM embeddings) qb
        ON qb.vec_id = id_b
    ) WHERE cos >= 0.3
    ORDER BY id_a, id_b
    """,
    tags=("ann", "lsh", "embedding", "llm"),
)
def srp_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH (Charikar 2002) near-neighbor
    candidates over dense embeddings: each vector gets a 16-bit
    signature (sign of its dot product with 16 fixed ±1 hyperplanes),
    signatures split into 2 bands of 8 bits, vectors colliding in
    either band become candidate pairs, and candidates are verified
    with the exact cosine (keep ≥ 0.3). The collision probability per
    bit is 1 − θ/π, so banding concentrates recall on high-cosine
    pairs without any all-pairs comparison.

    Exactness: hyperplane weights are md5-derived ±1 literals baked
    into both plans; dot folds run in index order, so signatures —
    and therefore the candidate set — are bit-identical across
    engines.

    Scale shape: signatures are row-local (one map over the corpus,
    no shuffle); candidates come from a self-equi-join on
    (band_idx, band_val) — output-linear like the MinHash path, never
    O(N²); the verify joins candidates back to vectors BY ID so the
    64-double payload never rides through the band explode. At 100 TB
    add more bands/bits to hold bucket sizes down and salt hot
    buckets; the plan shape is unchanged.
    """
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("_v")
    )
    # Per-plane dot as a zip_with fold (index order). IEEE-identical
    # to the oracle's unrolled ± chain: 0.0 + t1 + t2 + ... equals
    # t1 ± t2 ± ... bit-for-bit (adding 0.0 is exact; w*e with
    # w = ±1.0 equals ±e). The fold form keeps the codegen tree small
    # where the oracle needs the unrolled form for speed.
    sig = None
    for p, plane in enumerate(_PLANES):
        lit_plane = F.array([F.lit(w) for w in plane])
        bit = F.when(
            dot(F.col("_v"), lit_plane) >= 0, F.lit(1 << p)
        ).otherwise(0)
        sig = bit if sig is None else (sig + bit)
    sigs = emb.select("vec_id", sig.cast("long").alias("sig"))

    bands = sigs.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_idx"),
                    (F.col("sig") % 256).alias("band_val"),
                ),
                F.struct(
                    F.lit(1).alias("band_idx"),
                    F.expr("sig div 256").alias("band_val"),
                ),
            )
        ).alias("b"),
    ).select("vec_id", "b.band_idx", "b.band_val")
    # both self-join sides read bands: persist so signatures (the
    # only nontrivial math) compute once. No eager count() — plan
    # construction (EXPLAIN, plan audit) must stay lazy; the cache
    # populates on first real action and the self-join's second scan
    # reads the cached partitions.
    bands = bands.persist()

    a = bands.select(
        F.col("vec_id").alias("id_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("vec_id").alias("id_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # r11: norms computed once per VECTOR on each side — the old form
    # folded norm(_va) and norm(_vb) inside the pair projection, i.e.
    # two 64-element folds per CANDIDATE PAIR; dot/(na·nb) is the
    # identical double arithmetic (sqrt of the same self-dot), so
    # rounded cosines are unchanged
    va = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id_a"),
        to_double(F.col("embedding")).alias("_va"),
    ).withColumn("_na", norm(F.col("_va")))
    vb = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id_b"),
        to_double(F.col("embedding")).alias("_vb"),
    ).withColumn("_nb", norm(F.col("_vb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= 0.3)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------
# Vocabulary coverage / OOV-rate diagnostic.
# --------------------------------------------------------------------
_SQL_WORDS = (
    "list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')"
)
_VOCAB_K = 200


@register(
    "vocab_coverage_oov",
    f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_WORDS}) AS tok FROM documents
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
        ORDER BY n DESC, tok LIMIT {_VOCAB_K}
      )
    )
    SELECT lang,
           COUNT(*) AS total_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST(COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END)
                AS BIGINT) AS distinct_oov_terms,
           CAST(round(1000.0 * (COUNT(*) - SUM(CASE WHEN v.tok IS NOT NULL
                                               THEN 1 ELSE 0 END))
                      / COUNT(*)) AS BIGINT) AS oov_rate_milli
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("text", "tokenizer", "llm"),
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage diagnostic: build the corpus-global top-200
    token vocabulary (by frequency, ties by token), then report per
    language the total token mass, the mass the vocabulary covers,
    the distinct out-of-vocabulary term count, and the OOV rate in
    milli — the standard pre-tokenizer health check (high OOV in a
    language means the vocabulary under-serves it).

    Scale shape: token counts reduce map-side to one row per distinct
    term; the top-K is a TakeOrderedAndProject (no global sort); the
    coverage pass joins the BROADCAST 200-term vocabulary against the
    token stream — one scan, one broadcast join, one per-lang agg.
    At 100 TB the vocab build and coverage scan stay two linear
    passes; K scaling only grows the broadcast table.
    """
    from filemapreduce_spark.operators.textops import words

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(words(F.col("text"))).alias("tok")
    )
    # r11: the vocab build and the coverage join each re-ran the
    # tokenize+explode pass — reduce once to the (lang, tok, c) grid
    # (map-side combined, persisted); occurrence counts become count
    # weights on the grid
    grid = (
        toks.groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    vocab = (
        grid.groupBy("tok")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    joined = grid.join(F.broadcast(vocab), "tok", "left")
    covered = F.sum(
        F.when(F.col("in_vocab").isNotNull(), F.col("c")).otherwise(0)
    ).cast("long")
    total = F.sum("c").cast("long")
    return (
        joined.groupBy("lang")
        .agg(
            total.alias("total_tokens"),
            covered.alias("covered_tokens"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("tok"))
            )
            .cast("long")
            .alias("distinct_oov_terms"),
            F.round(
                1000.0
                * (F.sum("c") - F.sum(
                    F.when(
                        F.col("in_vocab").isNotNull(), F.col("c")
                    ).otherwise(0)
                ))
                / F.sum("c")
            )
            .cast("long")
            .alias("oov_rate_milli"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# Distinct-n diversity ratios (generation-diversity metric).
# --------------------------------------------------------------------
@register(
    "distinct_n_diversity",
    f"""
    WITH toks AS (
      SELECT source, {_SQL_WORDS} AS ws FROM documents
    ), grams AS (
      SELECT source, n.n,
             unnest(CASE n.n
               WHEN 1 THEN ws
               WHEN 2 THEN list_transform(
                 range(1, greatest(len(ws) - 0, 1)),
                 i -> ws[i] || ' ' || ws[i + 1])
               ELSE list_transform(
                 range(1, greatest(len(ws) - 1, 1)),
                 i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
             END) AS g
      FROM toks CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) n
    )
    SELECT source, CAST(n AS BIGINT) AS n,
           COUNT(*) AS total_ngrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams,
           CAST(round(1000.0 * COUNT(DISTINCT g) / COUNT(*)) AS BIGINT)
             AS distinct_milli
    FROM grams
    GROUP BY source, n
    ORDER BY source, n
    """,
    tags=("text", "diversity", "llm"),
)
def distinct_n_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source: the fraction of 1/2/3-grams
    that are unique (Li et al. 2016's distinct-1/distinct-2) — the
    standard degeneracy metric for generated text (low distinct-n =
    repetitive corpus; also a cheap mode-collapse alarm when scoring
    synthetic training data).

    Scale: n-grams are row-local array transforms (no join), reduced
    by one map-side-combined distinct-count per (source, n). The 3×
    fanout rides the explode, not a shuffle of documents.

    DuckDB range(1, x) is empty when x <= 1, so short docs yield no
    bigrams/trigrams on either engine (Spark's sequence guard
    mirrors it).
    """
    from filemapreduce_spark.operators.textops import words

    docs = t(spark, sf_dir, "documents")
    toks = docs.select("source", words(F.col("text")).alias("ws"))
    sizes = toks.select(
        "source",
        "ws",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("n"),
    )
    grams = sizes.select(
        "source",
        "n",
        F.explode(
            # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]), so
            # the greatest(...,0) clamp alone would emit phantom NULL
            # n-grams on docs shorter than n words — gate on size(ws)
            F.when(F.col("n") == 1, F.col("ws"))
            .when(
                F.col("n") == 2,
                F.expr(
                    "CASE WHEN size(ws) >= 2 THEN"
                    " transform(sequence(1, size(ws) - 1),"
                    " i -> concat(ws[i - 1], ' ', ws[i]))"
                    " ELSE array() END"
                ),
            )
            .otherwise(
                F.expr(
                    "CASE WHEN size(ws) >= 3 THEN"
                    " transform(sequence(1, size(ws) - 2),"
                    " i -> concat(ws[i - 1], ' ', ws[i], ' ', ws[i + 1]))"
                    " ELSE array() END"
                )
            )
        ).alias("g"),
    )
    return (
        grams.groupBy("source", "n")
        .agg(
            F.count("*").alias("total_ngrams"),
            F.countDistinct("g").cast("long").alias("distinct_ngrams"),
            F.round(1000.0 * F.countDistinct("g") / F.count("*"))
            .cast("long")
            .alias("distinct_milli"),
        )
        .select(
            "source",
            F.col("n").cast("long"),
            "total_ngrams",
            "distinct_ngrams",
            "distinct_milli",
        )
        .orderBy("source", "n")
    )


# --------------------------------------------------------------------
# Zipf exponent fit (log-log OLS over the top-K rank-frequency curve).
# --------------------------------------------------------------------
_ZIPF_K = 100


@register(
    "zipf_exponent_fit",
    f"""
    WITH toks AS (
      SELECT unnest({_SQL_WORDS}) AS tok FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok
      ORDER BY f DESC, tok LIMIT {_ZIPF_K}
    ), ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r
      FROM freq
    ), xy AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
      FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           round((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x*x) - SUM(x) * SUM(x)), 6) AS zipf_slope,
           round((SUM(y) - ((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                            / (COUNT(*) * SUM(x*x) - SUM(x) * SUM(x)))
                          * SUM(x)) / COUNT(*), 6) AS intercept
    FROM xy
    """,
    tags=("text", "stats", "llm"),
)
def zipf_exponent_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: OLS slope of ln(frequency) vs
    ln(rank) over the top-100 terms — natural language sits near −1
    (Zipf's law); a corpus that deviates sharply is a red flag for
    templated/synthetic text, and the exponent drives vocabulary-
    size and coverage planning.

    Scale: term counts reduce map-side; the top-K is a
    TakeOrderedAndProject (no global sort of the vocabulary); the
    regression runs over exactly K rows. The ln/Σ float terms follow
    the registry's 6-dp contract.
    """
    from filemapreduce_spark.operators.textops import words

    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(words(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
        .orderBy(F.col("f").desc(), F.col("tok"))
        .limit(_ZIPF_K)
    )
    ranked = freq.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.col("f").desc(), F.col("tok"))
        ),
    )
    xy = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    n = F.count("*")
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return xy.agg(
        n.cast("long").alias("k"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.sum("y") - slope * F.sum("x")) / n, 6).alias("intercept"),
    )


# --------------------------------------------------------------------
# Cross-source near-duplication matrix (who copies whom).
# --------------------------------------------------------------------
def _minhash_pairs_sql() -> str:
    from filemapreduce_spark.queries.llm import _MINHASH_ORACLE

    sql = _MINHASH_ORACLE.strip()
    assert sql.endswith("ORDER BY doc_a, doc_b")
    return sql[: -len("ORDER BY doc_a, doc_b")]


@register(
    "cross_source_dup_matrix",
    f"""
    WITH pairs AS (
      {{pairs}}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(round(p.jaccard * 1000) AS BIGINT)) AS BIGINT)
             AS sum_jaccard_milli
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    ORDER BY source_a, source_b
    """,
    tags=("dedup", "curation", "llm"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: MinHash+LSH verified
    near-dup pairs (the registry's banded pipeline, reused verbatim)
    rolled up by unordered source pair — the curation diagnostic
    that shows WHICH sources mirror each other (off-diagonal mass =
    cross-source syndication; diagonal mass = within-source
    boilerplate), i.e. where a per-source dedup pass would silently
    miss duplicates that only a global pass catches.

    Exactness: pair Jaccards are 6-dp values from the shared
    pipeline; the matrix sums them as milli INTEGERS, so cell
    hashes are order-independent.

    Scale (rewritten round 11): the matrix COUNTS doc pairs, so the
    old shape enumerated the full doc-level pair set — Θ(class²) on a
    duplicate-saturated corpus (2.43M pairs on the saturated sf0.1
    fixture) for a |sources|²-bounded output. Now it aggregates the
    content-collapsed class graph (_lsh_class_graph) with exact
    combinatorics, never materializing a doc pair:

    - cross-class: every member pair of a verified class pair (A, B)
      shares A/B's class Jaccard, so cell (sa, sb) gains
      m_A[sa]·m_B[sb] pairs of that value — one join of the verified
      class edges against the per-(class, source) member counts;
    - intra-class: identical docs have Jaccard exactly 1, so a class
      clique contributes m_s·m_t pairs per source pair and
      m·(m−1)/2 within one source — row-local combinatorics over the
      same counts, ordered by a per-class source index so each
      unordered pair counts once (NULL sources keep the engines'
      least/greatest semantics by flowing through the same
      expressions a doc pair would).
    """
    from filemapreduce_spark.queries.llm import _lsh_class_graph

    doc_cls, verified = _lsh_class_graph(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    # per-(class, source) member counts — the whole doc-level input
    # compressed to |classes|×|sources| rows
    # persisted (r11): three consumers (both cross-pair sides and the
    # intra-class index) re-ran the doc join + count without the
    # cache; the table is |classes|×|sources| rows — tiny at any SF
    cs = (
        doc_cls.join(docs, "doc_id")
        .groupBy("rep", "source")
        .agg(F.count(F.lit(1)).alias("m"))
        .persist()
    )
    milli = F.round(F.col("jaccard") * 1000).cast("long")
    cross = (
        verified.withColumn("jm", milli)
        .join(
            cs.select(
                F.col("rep").alias("rep_a"),
                F.col("source").alias("src_a"),
                F.col("m").alias("ma"),
            ),
            "rep_a",
        )
        .join(
            cs.select(
                F.col("rep").alias("rep_b"),
                F.col("source").alias("src_b"),
                F.col("m").alias("mb"),
            ),
            "rep_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            # DECIMAL(38,0) products: member counts at crawl scale
            # put m_a*m_b (and ×1000 milli) past int64 (r10 exact-
            # accumulator discipline); the final cells cast back to
            # the oracle's BIGINT contract
            (F.col("ma").cast("decimal(38,0)") * F.col("mb")).alias("n"),
            (
                F.col("ma").cast("decimal(38,0)")
                * F.col("mb")
                * F.col("jm")
            ).alias("jm_sum"),
        )
    )
    # intra-class: deterministic per-class source index so each
    # unordered source pair is emitted once (NULLS FIRST pins NULL
    # sources to one side)
    wsrc = Window.partitionBy("rep").orderBy(
        F.col("source").asc_nulls_first()
    )
    csx = cs.withColumn("idx", F.row_number().over(wsrc))
    ia, ib = csx.alias("ia"), csx.alias("ib")
    intra = (
        ia.join(
            ib,
            (F.col("ia.rep") == F.col("ib.rep"))
            & (F.col("ia.idx") <= F.col("ib.idx")),
        )
        .select(
            F.least("ia.source", "ib.source").alias("source_a"),
            F.greatest("ia.source", "ib.source").alias("source_b"),
            F.when(
                F.col("ia.idx") < F.col("ib.idx"),
                F.col("ia.m").cast("decimal(38,0)") * F.col("ib.m"),
            )
            .otherwise(
                # m·(m−1)/2 exactly: halve the even factor in int64,
                # widen the product (m·(m−1) overflows int64 at
                # crawl-scale member counts)
                F.when(
                    F.col("ia.m") % 2 == 0,
                    F.expr("ia.m div 2").cast("decimal(38,0)")
                    * (F.col("ia.m") - 1),
                ).otherwise(
                    F.col("ia.m").cast("decimal(38,0)")
                    * F.expr("(ia.m - 1) div 2")
                ),
            )
            .alias("n"),
        )
        .filter(F.col("n") > 0)
        # identical docs: Jaccard exactly 1 -> 1000 milli per pair
        .withColumn("jm_sum", F.col("n") * 1000)
    )
    return (
        cross.unionByName(intra)
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("n").cast("long").alias("n_pairs"),
            F.sum("jm_sum").cast("long").alias("sum_jaccard_milli"),
        )
        .orderBy("source_a", "source_b")
    )


# patch the oracle with the shared pairs SQL (registered above with a
# placeholder; QuerySpec is frozen, so re-register the final text)
from filemapreduce_spark.queries import REGISTRY as _REG  # noqa: E402
from dataclasses import replace as _dc_replace  # noqa: E402

_spec = _REG["cross_source_dup_matrix"]
_REG["cross_source_dup_matrix"] = _dc_replace(
    _spec, oracle=_spec.oracle.format(pairs=_minhash_pairs_sql())
)


# --------------------------------------------------------------------
# Heaps' law vocabulary-growth curve (fixed 20-checkpoint grid).
# --------------------------------------------------------------------
_HEAPS_CK = 20


@register(
    "heaps_law_curve",
    f"""
    WITH bounds AS (
      SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ), toks AS (
      SELECT ((d.doc_id - b.lo) * {_HEAPS_CK}) // (b.hi - b.lo + 1)
               AS ck,
             unnest({{words}}) AS tok
      FROM documents d CROSS JOIN bounds b
    ), per_ck AS (
      SELECT ck, COUNT(*) AS n_toks FROM toks GROUP BY ck
    ), first_ck AS (
      SELECT tok, MIN(ck) AS ck FROM toks GROUP BY tok
    ), new_vocab AS (
      SELECT ck, COUNT(*) AS n_new FROM first_ck GROUP BY ck
    )
    SELECT p.ck AS checkpoint,
           CAST(SUM(p.n_toks) OVER w AS BIGINT) AS tokens_cum,
           CAST(SUM(COALESCE(v.n_new, 0)) OVER w AS BIGINT) AS vocab_cum
    FROM per_ck p LEFT JOIN new_vocab v ON v.ck = p.ck
    WINDOW w AS (ORDER BY p.ck
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY checkpoint
    """.replace(
        "{words}",
        "list_filter(regexp_split_to_array(translate(d.text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'),"
        " w -> w != '')",
    ),
    tags=("text", "stats", "llm"),
)
def heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct
    vocabulary vs cumulative token count at 20 fixed corpus
    checkpoints (docs in id order) — natural language grows V ≈
    K·N^β with β ≈ 0.4–0.6; a flattening curve means the corpus has
    saturated its domain, a too-straight one suggests synthetic or
    id-heavy text. The companion of the Zipf fit, over growth
    instead of rank.

    The scale trick: cumulative DISTINCT needs no distinct machinery
    — each token counts once, at the checkpoint of its FIRST
    occurrence (the adoption-curve move), so the plan is two
    map-side-combined aggs plus windows over the FIXED 20-row
    checkpoint grid (config-bounded at any corpus size; checkpoint
    ids derive from a 1-row min/max broadcast).
    """
    from filemapreduce_spark.operators.textops import words

    docs = t(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    toks = docs.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"((doc_id - lo) * {_HEAPS_CK}) div (hi - lo + 1)"
        ).alias("ck"),
        F.explode(words(F.col("text"))).alias("tok"),
    )
    # r11: both consumers (tokens per checkpoint, first checkpoint
    # per token) used to re-run the tokenize+explode pass — reduce to
    # the compact (ck, tok, n) grid once (map-side combined), persist
    # it, and derive both aggregates from the cached grid
    grid = (
        toks.groupBy("ck", "tok").agg(F.count("*").alias("n")).persist()
    )
    per_ck = grid.groupBy("ck").agg(
        F.sum("n").cast("long").alias("n_toks")
    )
    first_ck = grid.groupBy("tok").agg(F.min("ck").alias("ck"))
    new_vocab = first_ck.groupBy("ck").agg(F.count("*").alias("n_new"))
    wcum = Window.orderBy("ck").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_ck.join(new_vocab, "ck", "left")
        .select(
            F.col("ck").alias("checkpoint"),
            F.sum("n_toks").over(wcum).cast("long").alias("tokens_cum"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("vocab_cum"),
        )
        .orderBy("checkpoint")
    )
