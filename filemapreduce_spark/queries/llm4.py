"""Round-4 LLM-pipeline batch: exact distributed heavy hitters via
bounded-memory Misra–Gries candidates, and asymmetric CONTAINMENT
contamination screening.

Reference parity: neither exists in the reference (its surface stops
at scan/filter/map/reduce, `/root/reference/interfaces.go`); both are
north-star extension rows for SURVEY.md §2 Part B.

- Heavy hitters: `word_frequencies_top100` already does the exact
  full aggregation; this operator adds the TWO-PHASE shape used when
  even a spilling hash aggregate over the full key domain is too
  expensive — per-partition Misra–Gries (Misra & Gries 1982, the
  deterministic frequent-items summary) emits a config-bounded
  candidate set with the guarantee that every token of global
  frequency > N/K survives in at least one partition's summary
  (pigeonhole over partitions); an exact count pass then touches
  candidates only.
- Containment: Jaccard dilutes when a small benchmark item is pasted
  into a large training document; the decontamination literature
  (e.g. Brown et al. 2020 appendix C; Lee et al. 2022) therefore
  screens on CONTAINMENT |grams(test) ∩ grams(train)| / |grams(test)|
  — asymmetric in exactly the direction leakage happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import SQL_WORDS, word_shingles, words
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_MG_K = 500  # Misra–Gries counter budget per partition
_TOP = 10


# --------------------------------------------------------------------
# Exact heavy hitters: Misra–Gries candidates + exact verify pass.
# --------------------------------------------------------------------
@register(
    "heavy_hitters_exact_mg",
    f"""
    WITH toks AS (
      SELECT unnest({SQL_WORDS}) AS tok FROM documents
    ), cnt AS (
      SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ), total AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cnt
    ), top AS (
      SELECT tok, CAST(n AS BIGINT) AS n,
             CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
               AS rank
      FROM cnt ORDER BY n DESC, tok LIMIT {_TOP}
    )
    SELECT rank, tok, n,
           CAST(CASE WHEN n * {_MG_K} > n_total THEN 1 ELSE 0 END
                AS BIGINT) AS rank_certified
    FROM top CROSS JOIN total
    ORDER BY rank
    """,
    tags=("llm", "heavy-hitters", "sketch", "udx"),
)
def heavy_hitters_exact_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global top-{TOP} tokens computed the way it is done when
    the token domain is too wide for even a spilling full aggregate:
    phase 1 runs MISRA–GRIES with K={K} counters inside each
    partition (an Arrow-batched ``mapInPandas`` whose state lives
    across the partition's batches), emitting ≤ K candidates per
    partition; phase 2 exact-counts ONLY the union of candidates and
    takes the top {TOP}.

    Correctness: Misra–Gries guarantees any item with per-partition
    frequency > n_p/K survives that partition's summary, and a
    globally heavy item (count > N/K) must be locally heavy in at
    least one partition — so the candidate union contains every token
    with count > N/K regardless of partitioning. Each output row
    carries ``rank_certified`` = (n·K > N): a certified row's rank is
    EXACT because no non-candidate token can out-count it. The oracle
    is the plain full aggregation — equality holds whenever the top
    rows are certified (they are, at every shipped SF; the K budget
    is the dial).

    Scale shape: phase 1 is shuffle-free (candidates ≤ K·#partitions
    rows, config-bounded — the broadcast below is bounded by the SAME
    constant, never by corpus size); phase 2 shuffles only candidate
    tokens' partial counts. Phase 1 is fully vectorized: per-batch
    ``value_counts`` (a zero-error MG summary) merged via the
    mergeable-summaries COMBINE+PRUNE (Agarwal et al. 2013) — no
    per-token interpreted loop anywhere; the only Python-side work per
    Arrow batch is one C-speed count plus an O(K) summary merge. An
    uncertified top row raises a named error at execution rather than
    silently diverging from the full-aggregation oracle.
    """
    # r12 (r11 verdict item 4): the r11 form persisted the full
    # exploded token-OCCURRENCE stream — an O(corpus) cache whose
    # MEMORY_AND_DISK spill at 100 TB is a corpus-sized write. Now
    # the only cached relation is the pass-1 output (<= K candidates
    # + 1 total row per partition — config-bounded), the partition
    # totals ride out of the SAME pass (so the former third
    # tokenize-for-total pass is gone), and only the exact recount
    # re-tokenizes: 2 bounded-state corpus passes, no corpus-sized
    # cache. Probe at sf0.1: 0.42 -> 0.33 s cold / warm ~flat.
    toks = t(spark, sf_dir, "documents").select(
        F.explode(words("text")).alias("tok")
    )

    def mg_partition(batches):
        import numpy as np
        import pandas as pd

        # Vectorized Misra–Gries: a per-batch EXACT value_counts (C
        # speed — no per-token Python) is itself a zero-error MG
        # summary, and MG summaries are mergeable (Agarwal et al.
        # 2013, "Mergeable Summaries"): COMBINE by adding counters,
        # then PRUNE to K entries by subtracting the (K+1)-th largest
        # counter from all and dropping non-positives. The merged
        # summary keeps the invariant (any token with partition
        # frequency > n_p/K survives), so the candidate-union
        # guarantee is unchanged — only the constant factor moves.
        summary = pd.Series(dtype="int64")
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            vc = pdf["tok"].value_counts()
            summary = (
                vc
                if summary.empty
                # aligned add promotes to float64 (NaN intermediate);
                # counts are < 2^53 so the cast back is exact
                else summary.add(vc, fill_value=0).astype("int64")
            )
            if len(summary) > _MG_K:
                vals = np.partition(
                    summary.to_numpy(), len(summary) - _MG_K - 1
                )
                thresh = vals[len(summary) - _MG_K - 1]
                summary = summary[summary > thresh] - thresh
        # candidates (tok, NULL) plus ONE partition-total row
        # (NULL, n) — tokens are never NULL (explode of a filtered
        # words array), so the marker is unambiguous
        out = pd.DataFrame(
            {
                "tok": summary.index.astype(str),
                "cnt": pd.array([None] * len(summary), dtype="Int64"),
            }
        )
        yield pd.concat(
            [out, pd.DataFrame({"tok": [None], "cnt": [n_part]})]
        )

    # pass-1 output: <= K candidate rows + 1 total row per partition
    # (config-bounded) — the ONLY cached relation; two consumers
    # (candidate set, corpus total) read it
    mg_out = toks.mapInPandas(
        mg_partition, schema="tok string, cnt long"
    ).persist()
    cand = (
        mg_out.where(F.col("tok").isNotNull()).select("tok").distinct()
    )
    exact = (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    total = mg_out.agg(F.sum("cnt").cast("long").alias("n_total"))
    top = (
        exact.orderBy(F.col("n").desc(), "tok")
        .limit(_TOP)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "tok"))
            .cast("long"),
        )
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "rank",
            "tok",
            "n",
            # fail fast on an uncertified rank: oracle equality is only
            # guaranteed when every returned row is certified (n·K > N),
            # so a too-small K budget must surface as THIS named error —
            # not as a silent top-10 mismatch that reads like an
            # operator regression in a sweep after an SF change
            F.when(
                F.col("n") * _MG_K > F.col("n_total"),
                F.lit(1).cast("long"),
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "heavy_hitters_exact_mg: top rank NOT certified"
                        f" (n*K <= N with K={_MG_K}) - the Misra-Gries"
                        " counter budget is too small for this corpus;"
                        " raise _MG_K in queries/llm4.py (a config dial,"
                        " not an operator regression)"
                    )
                ).cast("long")
            )
            .alias("rank_certified"),
        )
    )


heavy_hitters_exact_mg.__doc__ = heavy_hitters_exact_mg.__doc__.replace(
    "{TOP}", str(_TOP)
).replace("{K}", str(_MG_K))


# --------------------------------------------------------------------
# Asymmetric containment contamination screen (test ⊂ train).
# --------------------------------------------------------------------
@register(
    "containment_contamination_screen",
    f"""
    WITH d AS (
      SELECT doc_id, source, {SQL_WORDS} AS ws FROM documents
    ), g AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(ws)-3),
               i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '
                    ||ws[i+4]))) AS ng
      FROM d WHERE len(ws) >= 5
    ), test_sz AS (
      SELECT doc_id AS t_doc, COUNT(*) AS n_test_grams
      FROM g WHERE source = 'src0' GROUP BY doc_id
    ), shared AS (
      SELECT b.doc_id AS t_doc, a.doc_id AS train_doc,
             COUNT(*) AS n_shared
      FROM g a JOIN g b ON a.ng = b.ng
      WHERE b.source = 'src0' AND a.source <> 'src0'
      GROUP BY b.doc_id, a.doc_id
    ), scored AS (
      SELECT s.t_doc, s.train_doc,
             CAST(s.n_shared AS BIGINT) AS n_shared,
             CAST(z.n_test_grams AS BIGINT) AS n_test_grams,
             (1000 * s.n_shared) // z.n_test_grams AS containment_milli,
             row_number() OVER (
               PARTITION BY s.t_doc
               ORDER BY (1000 * s.n_shared) // z.n_test_grams DESC,
                        s.train_doc) AS rk
      FROM shared s JOIN test_sz z ON z.t_doc = s.t_doc
    )
    SELECT t_doc AS test_doc, train_doc, n_shared, n_test_grams,
           containment_milli
    FROM scored WHERE rk = 1
    ORDER BY test_doc
    """,
    tags=("llm", "contamination", "dedup", "similarity"),
)
def containment_contamination_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-benchmark-item CONTAINMENT screening: for each test doc
    (source src0), the training doc sharing the largest fraction of
    the TEST doc's distinct 5-gram set — |∩| / |grams(test)| in
    milli, exact integers. Jaccard fails here by construction: a
    50-token benchmark item fully pasted into a 50k-token page has
    Jaccard ≈ 0.001 but containment 1.0; the asymmetric denominator
    is the one leakage actually moves.

    Scale shape: the benchmark corpus is tiny next to the training
    corpus, so the test-side gram set is broadcast (bounded by the
    benchmark suite, never the corpus) and the training side streams
    map-side; only the (test, train) pair agg — contaminated pairs
    only — shuffles. Per-test top-1 is a window over that sliver.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", words("text").alias("ws")
    )
    g = d.filter(F.size("ws") >= 5).select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("ws"), 5)).alias("ng"),
    )
    test = g.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("t_doc"), F.col("ng").alias("t_ng")
    )
    test_sz = test.groupBy("t_doc").agg(
        F.count("*").alias("n_test_grams")
    )
    train = g.filter(F.col("source") != "src0")
    shared = (
        train.join(F.broadcast(test), F.col("ng") == F.col("t_ng"))
        .groupBy("t_doc", F.col("doc_id").alias("train_doc"))
        .agg(F.count("*").alias("n_shared"))
    )
    cm = F.expr("(1000 * n_shared) div n_test_grams")
    w_top = Window.partitionBy("t_doc").orderBy(
        cm.desc(), "train_doc"
    )
    return (
        shared.join(F.broadcast(test_sz), "t_doc")
        .withColumn("containment_milli", cm)
        .withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select(
            F.col("t_doc").alias("test_doc"),
            "train_doc",
            "n_shared",
            F.col("n_test_grams").cast("long"),
            "containment_milli",
        )
    )
