"""Round-5 LLM batch 10: classifier agreement, corpus information
measures, and HLL set algebra.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Cohen's kappa (Cohen 1960): chance-corrected agreement between the
  declared language label and the marker-word classifier — the
  single-number companion of the registry's `langid_confusion_matrix`
  row (accuracy alone overstates agreement when the label
  distribution is skewed).
- Bigram mutual information (Shannon 1948; Cover & Thomas ch. 2):
  corpus-level H(W), H(W|V) and I(V;W) from the bigram-type table —
  the "how predictable is the next token" statistic that
  perplexity-style quality gates build on. Per-type LOG factors are
  quantized to integer micro-nats and multiplied by exact integer
  counts, so the accumulation is order-independent at any scale.
- HLL intersection by inclusion-exclusion: |A∩B| estimated as
  est(A)+est(B)−est(A∪B) from mergeable Datasketches HLL state —
  the audience-overlap algebra that replaces exact bitmaps once
  user-id universes outgrow them; oracle-gated by scale-independent
  accuracy contracts plus the exact twin (the
  `hll_sketch_daily_users` discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.operators.textops import (
    LANG_MARKERS,
    SQL_LANG_SCORES,
    SQL_WORDS,
    words,
)
from filemapreduce_spark.sources.tables import load_table as t


# ------------------------------------------------------------------
# Cohen's kappa of the marker-word language classifier.
# ------------------------------------------------------------------
@register(
    "cohens_kappa_langid",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {SQL_WORDS} AS ws FROM documents
    ), s AS (
      SELECT doc_id, lang, {SQL_LANG_SCORES} FROM d
    ), p AS (
      SELECT lang AS actual,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS predicted
      FROM s
    ), cm AS (
      SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
      FROM p GROUP BY actual, predicted
    ), classes AS (
      SELECT actual AS k FROM cm UNION
      SELECT predicted AS k FROM cm
    ), marg AS (
      SELECT c.k,
             CAST(COALESCE((SELECT SUM(n) FROM cm WHERE actual = c.k),
                           0) AS BIGINT) AS row_n,
             CAST(COALESCE((SELECT SUM(n) FROM cm
                            WHERE predicted = c.k), 0) AS BIGINT)
               AS col_n
      FROM classes c
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN actual = predicted THEN n ELSE 0 END)
                  AS BIGINT) AS agree
      FROM cm
    ), pe AS (
      SELECT CAST(SUM(CAST(row_n AS HUGEINT) * col_n) AS HUGEINT)
               AS chance_num
      FROM marg
    )
    SELECT tot.nn AS n_docs, tot.agree,
           CAST(round(1000000.0 * tot.agree / tot.nn) AS BIGINT)
             AS po_micro,
           CAST(round(1000000.0 * CAST(pe.chance_num AS DOUBLE)
                      / (CAST(tot.nn AS DOUBLE) * tot.nn)) AS BIGINT)
             AS pe_micro,
           CAST(round(1000000.0
             * (CAST(tot.agree AS DOUBLE) / tot.nn
                - CAST(pe.chance_num AS DOUBLE)
                  / (CAST(tot.nn AS DOUBLE) * tot.nn))
             / (1.0 - CAST(pe.chance_num AS DOUBLE)
                / (CAST(tot.nn AS DOUBLE) * tot.nn))) AS BIGINT)
             AS kappa_micro
    FROM tot, pe
    """,
    tags=("text", "langid", "agreement"),
)
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between the declared language label
    and the marker-word classifier (same predictor as
    `langid_confusion_matrix`, deterministic de<en<es<fr tie-break,
    'und' when no marker hits): kappa = (p_o − p_e)/(1 − p_e) with
    chance agreement p_e = Σ_k row_k·col_k / N² over the UNION of
    actual and predicted classes (so never-predicted labels like 'zh'
    and never-true labels like 'und' contribute zero chance mass, as
    the definition requires). Marginal products are DECIMAL-wide
    exact integers; the kappa algebra is one row-local double chain.

    Scale shape: one explode-free row-local score per doc, one
    map-side-combined groupBy over the ≤36-cell confusion matrix,
    and algebra on class-bounded summaries — the corpus is scanned
    once.
    """
    d = t(spark, sf_dir, "documents").select(
        "lang", words("text").alias("ws")
    )

    def marker_hits(markers: tuple[str, ...]):
        return F.size(F.filter(F.col("ws"), lambda w: w.isin(*markers)))

    scores = {lang: marker_hits(m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = (
        F.when(best == 0, "und")
        .when(scores["de"] == best, "de")
        .when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .otherwise("fr")
    )
    # ≤36-cell confusion matrix feeding FIVE branches (classes ×2,
    # rows, cols, tot) — persist so the corpus is scanned once
    cm = (
        d.select(F.col("lang").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    ).persist()
    classes = (
        cm.select(F.col("actual").alias("k"))
        .union(cm.select(F.col("predicted").alias("k")))
        .distinct()
    )
    rows = cm.groupBy(F.col("actual").alias("k")).agg(
        F.sum("n").cast("long").alias("row_n")
    )
    cols = cm.groupBy(F.col("predicted").alias("k")).agg(
        F.sum("n").cast("long").alias("col_n")
    )
    marg = (
        classes.join(rows, "k", "left")
        .join(cols, "k", "left")
        .select(
            F.coalesce(F.col("row_n"), F.lit(0)).alias("row_n"),
            F.coalesce(F.col("col_n"), F.lit(0)).alias("col_n"),
        )
    )
    pe = marg.agg(
        F.sum(
            F.col("row_n").cast("decimal(38,0)") * F.col("col_n")
        ).alias("chance_num")
    )
    tot = cm.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(
            F.when(F.col("actual") == F.col("predicted"), F.col("n"))
            .otherwise(0)
        )
        .cast("long")
        .alias("agree"),
    )
    po = F.col("agree").cast("double") / F.col("nn")
    pe_d = F.col("chance_num").cast("double") / (
        F.col("nn").cast("double") * F.col("nn")
    )
    return tot.crossJoin(F.broadcast(pe)).select(
        F.col("nn").alias("n_docs"),
        "agree",
        F.round(1000000.0 * po).cast("long").alias("po_micro"),
        F.round(1000000.0 * pe_d).cast("long").alias("pe_micro"),
        F.round(1000000.0 * (po - pe_d) / (1.0 - pe_d))
        .cast("long")
        .alias("kappa_micro"),
    )


# ------------------------------------------------------------------
# Bigram mutual information / conditional entropy.
# ------------------------------------------------------------------
@register(
    "bigram_mutual_information",
    f"""
    WITH doc AS (
      SELECT {SQL_WORDS} AS ws FROM documents
    ), bg AS (
      SELECT ws[i] AS v, ws[i+1] AS w
      FROM doc, unnest(range(1, len(ws))) AS u(i)
    ), c AS (
      SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c_vw
      FROM bg GROUP BY v, w
    ), vm AS (
      SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v FROM c GROUP BY v
    ), wm AS (
      SELECT w, CAST(SUM(c_vw) AS BIGINT) AS c_w FROM c GROUP BY w
    ), tot AS (
      SELECT CAST(SUM(c_vw) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c
    ), terms AS (
      SELECT c.c_vw,
             CAST(round(1000000.0 * ln(
               CAST(c.c_vw AS DOUBLE) * tot.nn
               / (CAST(vm.c_v AS DOUBLE) * wm.c_w))) AS BIGINT)
               AS mi_lt,
             CAST(round(1000000.0 * ln(
               CAST(c.c_vw AS DOUBLE) / vm.c_v)) AS BIGINT) AS cond_lt
      FROM c
      JOIN vm ON vm.v = c.v
      JOIN wm ON wm.w = c.w
      CROSS JOIN tot
    ), went AS (
      SELECT CAST(SUM(CAST(CAST(round(1000000.0 * ln(
               CAST(wm.c_w AS DOUBLE) / tot.nn)) AS BIGINT)
               AS HUGEINT) * wm.c_w) AS HUGEINT) AS h_w_num
      FROM wm CROSS JOIN tot
    ), acc AS (
      SELECT CAST(SUM(CAST(mi_lt AS HUGEINT) * c_vw) AS HUGEINT)
               AS mi_num,
             CAST(SUM(CAST(cond_lt AS HUGEINT) * c_vw) AS HUGEINT)
               AS cond_num
      FROM terms
    )
    SELECT tot.nn AS n_bigrams, tot.n_types,
           CAST(round(-CAST(went.h_w_num AS DOUBLE) / tot.nn)
                AS BIGINT) AS h_w_micro,
           CAST(round(-CAST(acc.cond_num AS DOUBLE) / tot.nn)
                AS BIGINT) AS h_w_given_v_micro,
           CAST(round(CAST(acc.mi_num AS DOUBLE) / tot.nn)
                AS BIGINT) AS mi_micro
    FROM tot, acc, went
    """,
    tags=("llm", "corpus", "information"),
)
def bigram_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus information measures over the bigram distribution
    (Shannon 1948): the continuation entropy H(W) = −Σ p(w)·ln p(w),
    the conditional entropy H(W|V) = −Σ p(v,w)·ln p(w|v) (the
    entropy RATE a bigram LM can reach), and the mutual information
    I(V;W) = Σ p(v,w)·ln(p(v,w)/(p(v)p(w))) — how many nats one
    token of context buys. Each per-TYPE log factor is quantized to
    integer micro-nats and multiplied by the EXACT integer count
    (quantize-the-log, weight-exactly — the order-independent
    discipline; quantizing the weighted product instead would
    overflow int64 at corpus scale), then summed as DECIMAL.

    Scale shape: one corpus scan to the bigram-type table, marginal
    aggs OF that table joined back by vocabulary-bounded equi-joins,
    and 1-row totals — the `kneser_ney_bigram_probs` plan family.
    """
    d = t(spark, sf_dir, "documents").select(words("text").alias("ws"))
    idx = F.when(
        F.size("ws") >= 2, F.sequence(F.lit(1), F.size("ws") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = d.select(F.explode(idx).alias("i"), F.col("ws")).select(
        F.element_at("ws", F.col("i")).alias("v"),
        F.element_at("ws", F.col("i") + 1).alias("w"),
    )
    # the bigram-type table feeds FOUR branches (vm, wm, tot, joined);
    # persist it so the corpus scan + explode + groupBy run once, not
    # once per branch (round-5 plan audit: 7 scans / 22 exchanges)
    c = bg.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c_vw")
    ).persist()
    vm = c.groupBy("v").agg(F.sum("c_vw").cast("long").alias("c_v"))
    wm = c.groupBy("w").agg(F.sum("c_vw").cast("long").alias("c_w"))
    tot = c.agg(
        F.sum("c_vw").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    joined = (
        c.join(vm, "v").join(wm, "w").crossJoin(F.broadcast(tot))
    )
    mi_lt = F.round(
        1000000.0
        * F.log(
            F.col("c_vw").cast("double")
            * F.col("nn")
            / (F.col("c_v").cast("double") * F.col("c_w"))
        )
    ).cast("long")
    cond_lt = F.round(
        1000000.0
        * F.log(F.col("c_vw").cast("double") / F.col("c_v"))
    ).cast("long")
    acc = joined.select(
        (mi_lt.cast("decimal(38,0)") * F.col("c_vw")).alias("mi_t"),
        (cond_lt.cast("decimal(38,0)") * F.col("c_vw")).alias("cond_t"),
    ).agg(
        F.sum("mi_t").alias("mi_num"),
        F.sum("cond_t").alias("cond_num"),
    )
    w_lt = F.round(
        1000000.0
        * F.log(F.col("c_w").cast("double") / F.col("nn"))
    ).cast("long")
    went = (
        wm.crossJoin(F.broadcast(tot))
        .select((w_lt.cast("decimal(38,0)") * F.col("c_w")).alias("t"))
        .agg(F.sum("t").alias("h_w_num"))
    )
    return (
        tot.crossJoin(F.broadcast(acc))
        .crossJoin(F.broadcast(went))
        .select(
            F.col("nn").alias("n_bigrams"),
            "n_types",
            F.round(-F.col("h_w_num").cast("double") / F.col("nn"))
            .cast("long")
            .alias("h_w_micro"),
            F.round(-F.col("cond_num").cast("double") / F.col("nn"))
            .cast("long")
            .alias("h_w_given_v_micro"),
            F.round(F.col("mi_num").cast("double") / F.col("nn"))
            .cast("long")
            .alias("mi_micro"),
        )
    )


# ------------------------------------------------------------------
# HLL audience intersection by inclusion-exclusion.
# ------------------------------------------------------------------
_HLL_PAIRS = (("view", "purchase"), ("click", "purchase"), ("view", "click"))


@register(
    "hll_intersection_overlap",
    """
    WITH u AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ), pairs0(ta, tb) AS (
      VALUES ('view', 'purchase'), ('click', 'purchase'),
             ('view', 'click')
    ), obs AS (SELECT DISTINCT event_type FROM u
    ), pairs AS (
      -- overlap is defined over OBSERVED audiences: a pair whose
      -- type has no users at all has no sketch to merge, and the
      -- Spark side's per-type sketch table naturally omits it
      -- (all-empty sweep alignment; every populated SF has all 3)
      SELECT ta, tb FROM pairs0 p
      WHERE EXISTS (SELECT 1 FROM obs WHERE event_type = p.ta)
        AND EXISTS (SELECT 1 FROM obs WHERE event_type = p.tb)
    ), ex AS (
      SELECT p.ta, p.tb,
             CAST((SELECT COUNT(*) FROM u a JOIN u b
                   ON b.user_id = a.user_id
                   WHERE a.event_type = p.ta AND b.event_type = p.tb)
                  AS BIGINT) AS exact_inter,
             CAST((SELECT COUNT(DISTINCT user_id) FROM u
                   WHERE event_type IN (p.ta, p.tb)) AS BIGINT)
               AS exact_union
      FROM pairs p
    )
    SELECT ta || '^' || tb AS pair, exact_inter, exact_union,
           TRUE AS union_est_within_2pct,
           TRUE AS inter_within_5pct_of_union
    FROM ex ORDER BY pair
    """,
    tags=("agg", "sketch", "set-algebra"),
)
def hll_intersection_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience-overlap estimation from mergeable HLL state:
    |A∩B| ≈ est(A) + est(B) − est(A∪B) by inclusion-exclusion, for
    three event-type audience pairs — the sketch-algebra answer to
    "how many users did both X and Y" once user universes outgrow
    exact bitmaps. Like `hll_sketch_daily_users`, the oracle gates
    SCALE-INDEPENDENT contracts rather than raw estimates (I-E error
    is bounded by the union estimate's relative error, so the
    5%-of-union band holds at every SF): (1) the unioned sketch's
    estimate is within 2% of the exact union; (2) the I-E
    intersection estimate is within 5% OF THE UNION of the exact
    intersection. Exact twins ride along for the error audit.

    Scale shape: raw events reduce to one ~KB sketch per event type
    in a single map-side-combined agg; every pair is answered by
    merging TWO sketches (a 3-row broadcast join of the per-type
    sketch table to itself) — no re-shuffle of raw rows, the whole
    point of mergeable state. The exact twin costs one distinct +
    self-join and exists only for the audit.
    """
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("event_type", "user_id")
    )
    # u feeds both sides of the exact-intersection self-join and sk
    # (3 rows of sketch state) is read by both pair sides — persist
    # so the raw-events scan + distinct + sketch agg run once, not
    # once per downstream reference (static audit: 8 scans → 1)
    u = e.distinct().persist()
    sk = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").cast("long").alias("exact_n"),
    ).persist()
    pairs = spark.createDataFrame(
        list(_HLL_PAIRS), "ta string, tb string"
    )
    a = sk.select(
        F.col("event_type").alias("ta"),
        F.col("sk").alias("sk_a"),
        F.col("exact_n").alias("n_a"),
    )
    b = sk.select(
        F.col("event_type").alias("tb"),
        F.col("sk").alias("sk_b"),
        F.col("exact_n").alias("n_b"),
    )
    est = (
        pairs.join(F.broadcast(a), "ta")
        .join(F.broadcast(b), "tb")
        .select(
            "ta",
            "tb",
            F.hll_sketch_estimate(F.col("sk_a")).alias("est_a"),
            F.hll_sketch_estimate(F.col("sk_b")).alias("est_b"),
            F.hll_sketch_estimate(
                F.hll_union(F.col("sk_a"), F.col("sk_b"))
            ).alias("est_union"),
        )
    )
    ua, ub = u.alias("ua"), u.alias("ub")
    exact_i = (
        ua.join(
            ub,
            (F.col("ub.user_id") == F.col("ua.user_id")),
        )
        .groupBy(
            F.col("ua.event_type").alias("ta"),
            F.col("ub.event_type").alias("tb"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    exact_u = (
        # LEFT join + coalesce(0): an empty intersection produces no
        # group in the inner self-join above, but the oracle's
        # correlated COUNT emits exact_inter=0 for that pair — an
        # inner join here would silently drop the row (latent at SFs
        # where every pair overlaps; a sparse fixture would diverge)
        pairs.join(F.broadcast(exact_i), ["ta", "tb"], "left")
        .withColumn(
            "exact_inter",
            F.coalesce(F.col("exact_inter"), F.lit(0).cast("long")),
        )
        .join(
            F.broadcast(
                a.select("ta", F.col("n_a"))
            ),
            "ta",
        )
        .join(F.broadcast(b.select("tb", "n_b")), "tb")
        .select(
            "ta",
            "tb",
            "exact_inter",
            (F.col("n_a") + F.col("n_b") - F.col("exact_inter"))
            .cast("long")
            .alias("exact_union"),
        )
    )
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return (
        exact_u.join(est, ["ta", "tb"])
        .select(
            F.concat_ws("^", "ta", "tb").alias("pair"),
            "exact_inter",
            "exact_union",
            (
                F.abs(F.col("est_union") - F.col("exact_union")) * 50
                <= F.greatest(F.col("exact_union"), F.lit(1))
            ).alias("union_est_within_2pct"),
            (
                F.abs(est_inter - F.col("exact_inter")) * 20
                <= F.greatest(F.col("exact_union"), F.lit(1))
            ).alias("inter_within_5pct_of_union"),
        )
    )
