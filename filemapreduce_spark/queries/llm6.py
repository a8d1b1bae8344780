"""Round-5 LLM-pipeline batch 2: language-model scoring, corpus
similarity structure, coreset selection, and URL canonicalization.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Stupid-backoff trigram scoring (Brants et al. 2007, "Large Language
  Models in Machine Translation"): the smoothing-free backoff score
  Google used at web scale — trained on the content-hash train split,
  scored on the held-out split so backoff genuinely fires.
- Pairwise Jensen–Shannon divergence between source unigram
  distributions: the symmetric, bounded drift metric — "which sources
  are interchangeable, which are distinct" — feeding mixture design.
- k-center greedy coreset (Gonzalez 1985 farthest-point traversal):
  the 2-approximation coverage selection behind diversity-quota
  sampling and embedding-space "core-set" active learning.
- Canonical-URL dedup: strip tracking params / fragments / case /
  trailing slashes and account the collapse — the first dedup pass
  every web-crawl pipeline runs before any content hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import SQL_WORDS, ascii_fold, words
from filemapreduce_spark.operators.vectors import to_double
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_SB_ALPHA = 0.4  # Brants et al. backoff penalty
_TRAIN_GATE = 58982  # first 16 md5 bits < 0.9·65536 → train split


# --------------------------------------------------------------------
# Stupid-backoff trigram LM: train on the hash split, score held-out.
# --------------------------------------------------------------------
@register(
    "stupid_backoff_trigram_score",
    f"""
    WITH doc AS (
      SELECT doc_id, source, {SQL_WORDS} AS ws,
             ('0x' || substring(md5(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')), 1, 4))::INT < {_TRAIN_GATE}
               AS is_train
      FROM documents
    ), tri AS (
      SELECT doc_id, source, is_train,
             ws[i] AS a, ws[i + 1] AS b, ws[i + 2] AS c
      FROM doc, unnest(range(1, len(ws) - 1)) AS u(i)
      WHERE len(ws) >= 3
    ), bi AS (
      SELECT doc_id, is_train, ws[i] AS a, ws[i + 1] AS b
      FROM doc, unnest(range(1, len(ws))) AS u(i)
      WHERE len(ws) >= 2
    ), uni AS (
      SELECT doc_id, is_train, unnest(ws) AS w FROM doc
    ), n_train AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni WHERE is_train
    ), c1 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM uni
      WHERE is_train GROUP BY w
    ), c2 AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi
      WHERE is_train GROUP BY a, b
    ), c3 AS (
      SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM tri
      WHERE is_train GROUP BY a, b, c
    ), tri_s AS (
      SELECT c3.a, c3.b, c3.c,
             c3.cnt::DOUBLE / c2.cnt AS s3
      FROM c3 JOIN c2 ON c2.a = c3.a AND c2.b = c3.b
    ), bi_s AS (
      SELECT c2.a AS b, c2.b AS c,
             {_SB_ALPHA} * (c2.cnt::DOUBLE / c1.cnt) AS s2
      FROM c2 JOIN c1 ON c1.w = c2.a
    ), uni_s AS (
      SELECT c1.w AS c,
             {_SB_ALPHA} * {_SB_ALPHA}
               * (c1.cnt::DOUBLE / (SELECT n FROM n_train)) AS s1
      FROM c1
    ), scored AS (
      SELECT t.doc_id, t.source,
             ln(COALESCE(ts.s3, bs.s2, us.s1,
                 {_SB_ALPHA} * {_SB_ALPHA} / (SELECT n FROM n_train)))
               AS lp
      FROM tri t
      LEFT JOIN tri_s ts ON ts.a = t.a AND ts.b = t.b AND ts.c = t.c
      LEFT JOIN bi_s bs ON bs.b = t.b AND bs.c = t.c
      LEFT JOIN uni_s us ON us.c = t.c
      WHERE NOT t.is_train
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_tri,
           CAST(round(1000000.0 * SUM(lp) / COUNT(*)) AS BIGINT)
             AS avg_logscore_micro
    FROM scored GROUP BY doc_id, source
    ORDER BY doc_id
    """,
    tags=("llm", "text", "lm", "quality"),
)
def stupid_backoff_trigram_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al. 2007): S(c|ab) =
    count(abc)/count(ab), backing off to α·count(bc)/count(b), then
    α²·count(c)/N, then α²/N for OOV — the deliberately unnormalized
    score Google trained on 2T tokens BECAUSE it needs no smoothing
    statistics, only raw counts (α=0.4). Counts come from the
    content-hash train split (same 90% gate as `dataset_split_assign`,
    so assignment is reproducible and leakage-free); scored docs are
    the held-out 10%, where backoff genuinely fires for unseen grams.
    Counts are exact integers; each trigram's score is one float
    division chain with identical operands in both engines; the
    per-doc mean log-score is micro-rounded (float-parity contract).

    Scale shape: gram-count tables are groupBy aggs over exploded
    grams (map-side combined, shuffled on the gram key — the same
    shape at any corpus size); scoring is three hash LEFT JOINs from
    held-out trigram occurrences to those tables. No broadcast of an
    unbounded side is forced — AQE picks the strategy from runtime
    sizes. No driver state, no collect.
    """
    d = t(spark, sf_dir, "documents")
    doc = d.select(
        "doc_id",
        "source",
        words("text").alias("ws"),
        (
            F.conv(F.substring(F.md5(ascii_fold("text")), 1, 4), 16, 10)
            .cast("int")
            < _TRAIN_GATE
        ).alias("is_train"),
    ).persist()  # tokenized once; read by the tri/bi/uni explodes —
    # same corpus-token persist pattern as the MinHash builders
    # (spills to disk at volume; avoids 4× re-tokenization)
    ws = F.col("ws")
    tri_struct = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.struct(
            F.element_at(ws, i).alias("a"),
            F.element_at(ws, i + 1).alias("b"),
            F.element_at(ws, i + 2).alias("c"),
        ),
    )
    tri = (
        doc.where(F.size(ws) >= 3)
        .select(
            "doc_id", "source", "is_train",
            F.explode(tri_struct).alias("g"),
        )
        .select("doc_id", "source", "is_train", "g.a", "g.b", "g.c")
    )
    bi_struct = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 1),
        lambda i: F.struct(
            F.element_at(ws, i).alias("a"),
            F.element_at(ws, i + 1).alias("b"),
        ),
    )
    bi = (
        doc.where(F.size(ws) >= 2)
        .select("is_train", F.explode(bi_struct).alias("g"))
        .select("is_train", "g.a", "g.b")
    )
    uni = doc.select("is_train", F.explode(ws).alias("w"))

    c1 = (
        uni.where("is_train")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt1"))
    )
    c2 = (
        bi.where("is_train")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt2"))
    )
    c3 = (
        tri.where("is_train")
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt3"))
    )
    n_train = uni.where("is_train").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    alpha = F.lit(_SB_ALPHA)
    tri_s = c3.join(c2, ["a", "b"]).select(
        "a", "b", "c",
        (F.col("cnt3").cast("double") / F.col("cnt2")).alias("s3"),
    )
    bi_s = c2.join(c1, F.col("w") == F.col("a")).select(
        F.col("a").alias("bb"),
        F.col("b").alias("bc"),
        (alpha * (F.col("cnt2").cast("double") / F.col("cnt1"))).alias(
            "s2"
        ),
    )
    uni_s = c1.crossJoin(F.broadcast(n_train)).select(
        F.col("w").alias("uc"),
        (
            alpha * alpha * (F.col("cnt1").cast("double") / F.col("n"))
        ).alias("s1"),
    )
    held = tri.where(~F.col("is_train"))
    scored = (
        held.join(tri_s, ["a", "b", "c"], "left")
        .join(
            bi_s,
            (F.col("b") == F.col("bb")) & (F.col("c") == F.col("bc")),
            "left",
        )
        .join(uni_s, F.col("c") == F.col("uc"), "left")
        .crossJoin(F.broadcast(n_train))
        .select(
            "doc_id",
            "source",
            F.log(
                F.coalesce(
                    F.col("s3"),
                    F.col("s2"),
                    F.col("s1"),
                    alpha * alpha / F.col("n"),
                )
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tri"),
            F.round(1000000.0 * F.sum("lp") / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_logscore_micro"),
        )
    )


# --------------------------------------------------------------------
# Pairwise Jensen–Shannon divergence between source distributions.
# --------------------------------------------------------------------
_JSD_V = 100  # top-V global vocabulary + one OOV bucket


def _jsd_term(p: str, q: str) -> str:
    return (
        f"0.5 * ({p} * ln(2.0 * {p} / ({p} + {q}))"
        f" + {q} * ln(2.0 * {q} / ({p} + {q})))"
    )


@register(
    "jsd_pairwise_sources",
    f"""
    WITH tok AS (
      SELECT source, unnest({SQL_WORDS}) AS w FROM documents
    ), vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS cg FROM tok GROUP BY w
        ORDER BY cg DESC, w LIMIT {_JSD_V}
      )
    ), src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM tok
      GROUP BY source
    ), src_cnt AS (
      SELECT t.source, t.w, CAST(COUNT(*) AS BIGINT) AS cs
      FROM tok t JOIN vocab v ON v.w = t.w
      GROUP BY t.source, t.w
    ), grid AS (
      SELECT s.source, v.w,
             (COALESCE(c.cs, 0) + 1)::DOUBLE / (s.n_s + {_JSD_V} + 1)
               AS p
      FROM src_tot s CROSS JOIN vocab v
      LEFT JOIN src_cnt c ON c.source = s.source AND c.w = v.w
    ), oov AS (
      SELECT s.source,
             (s.n_s - COALESCE(x.inv_s, 0) + 1)::DOUBLE
               / (s.n_s + {_JSD_V} + 1) AS p
      FROM src_tot s
      LEFT JOIN (SELECT source, SUM(cs) AS inv_s FROM src_cnt
                 GROUP BY source) x ON x.source = s.source
    ), terms AS (
      SELECT a.source AS source_a, b.source AS source_b,
             {_jsd_term("a.p", "b.p")} AS term
      FROM grid a JOIN grid b
        ON a.w = b.w AND a.source < b.source
      UNION ALL
      SELECT a.source, b.source, {_jsd_term("a.p", "b.p")}
      FROM oov a JOIN oov b ON a.source < b.source
    )
    SELECT source_a, source_b,
           CAST(round(1000000.0 * SUM(term)) AS BIGINT) AS jsd_micro
    FROM terms GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
    tags=("llm", "text", "drift", "stats"),
)
def jsd_pairwise_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between every two sources'
    unigram distributions (top-{V} global vocab + one OOV bucket,
    add-one smoothed) — the symmetric, bounded [0, ln 2] similarity
    structure of the corpus: which sources are near-interchangeable
    (candidates for merging/deduping mixture weight) and which carry
    distinct distributions. JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M the
    midpoint, computed term-by-term as identical float expressions in
    both engines over exact-integer counts; pair sums micro-rounded.

    Scale shape: one explode feeds the vocab top-V (TakeOrdered) and
    the per-source count tables; the smoothed grid is #sources × V
    rows, and the pairwise join is (#sources·V)² / V keyed on the
    vocab word — bounded by the SOURCE COUNT squared (catalog-sized),
    never by corpus volume. Token-level data is reduced before any
    pairwise work.
    """
    d = t(spark, sf_dir, "documents")
    # the token stream feeds THREE branches (vocab, src_tot, src_cnt)
    # — persist so the corpus scan + explode runs once, not once per
    # reference (round-6 plan audit: 26 exchanges)
    tok = d.select(
        "source", F.explode(words("text")).alias("w")
    ).persist()
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cg"))
        .orderBy(F.col("cg").desc(), "w")
        .limit(_JSD_V)
        .select("w")
        .persist()  # top-V rows, config-bounded; read by 2 branches
    )
    src_tot = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    ).persist()  # #sources rows; read by grid AND the OOV branch
    src_cnt = (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cs"))
        .persist()  # ≤ #sources × V rows; read by grid AND inv_s
    )
    vp1 = F.lit(_JSD_V + 1)
    grid = (
        src_tot.crossJoin(F.broadcast(vocab))
        # ≤ #sources × V rows — broadcast beats shuffling the grid
        .join(F.broadcast(src_cnt), ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                (F.coalesce(F.col("cs"), F.lit(0)) + 1).cast("double")
                / (F.col("n_s") + vp1)
            ).alias("p"),
        )
        .persist()  # #sources × V rows; read by BOTH pair-join sides
    )
    inv_s = src_cnt.groupBy("source").agg(F.sum("cs").alias("inv_s"))
    oov = src_tot.join(inv_s, "source", "left").select(
        "source",
        (
            (
                F.col("n_s") - F.coalesce(F.col("inv_s"), F.lit(0)) + 1
            ).cast("double")
            / (F.col("n_s") + vp1)
        ).alias("p"),
    ).persist()  # #sources rows; read by BOTH OOV pair-join sides

    def jsd_term(p, q):
        return 0.5 * (
            p * F.log(2.0 * p / (p + q)) + q * F.log(2.0 * q / (p + q))
        )

    ga = grid.select(
        F.col("source").alias("source_a"),
        F.col("w").alias("wa"),
        F.col("p").alias("pa"),
    )
    gb = grid.select(
        F.col("source").alias("source_b"),
        F.col("w").alias("wb"),
        F.col("p").alias("pb"),
    )
    in_terms = ga.join(
        gb,
        (F.col("wa") == F.col("wb"))
        & (F.col("source_a") < F.col("source_b")),
    ).select(
        "source_a",
        "source_b",
        jsd_term(F.col("pa"), F.col("pb")).alias("term"),
    )
    oa = oov.select(
        F.col("source").alias("source_a"), F.col("p").alias("pa")
    )
    ob = oov.select(
        F.col("source").alias("source_b"), F.col("p").alias("pb")
    )
    oov_terms = oa.join(
        ob, F.col("source_a") < F.col("source_b")
    ).select(
        "source_a",
        "source_b",
        jsd_term(F.col("pa"), F.col("pb")).alias("term"),
    )
    return (
        in_terms.unionAll(oov_terms)
        .groupBy("source_a", "source_b")
        .agg(
            F.round(1000000.0 * F.sum("term"))
            .cast("long")
            .alias("jsd_micro")
        )
    )


# --------------------------------------------------------------------
# k-center greedy coreset (Gonzalez farthest-point traversal).
# --------------------------------------------------------------------
_KC_K = 5
_KC_START = 0  # deterministic seed point


def _sqd_sql(a: str, b: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, 65), i ->"
        f" ({a}[i]::DOUBLE - {b}[i]::DOUBLE)"
        f" * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), 6)"
    )


def _kcenter_oracle() -> str:
    head = f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    p1 AS (
      SELECT CAST(1 AS BIGINT) AS step,
             CAST(vec_id AS BIGINT) AS vec_id, 0.0 AS radius
      FROM e WHERE vec_id = {_KC_START}
    ), sel1 AS (SELECT vec_id FROM p1)
    """
    steps = [head]
    for i in range(2, _KC_K + 1):
        steps.append(f"""
    , m{i} AS (
      SELECT c.vec_id, MIN({_sqd_sql("c.embedding", "s.embedding")})
               AS mind
      FROM e c
      JOIN (SELECT e2.vec_id, e2.embedding FROM e e2
            JOIN sel{i - 1} z ON z.vec_id = e2.vec_id) s
        ON c.vec_id != s.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
      GROUP BY c.vec_id
    ), p{i} AS (
      SELECT CAST({i} AS BIGINT) AS step, vec_id, mind AS radius
      FROM m{i} ORDER BY mind DESC, vec_id LIMIT 1
    ), sel{i} AS (
      SELECT vec_id FROM sel{i - 1} UNION ALL SELECT vec_id FROM p{i}
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, _KC_K + 1)
    )
    steps.append(f"SELECT * FROM ({union}) ORDER BY step")
    return "".join(steps)


@register(
    "kcenter_coreset_selection",
    _kcenter_oracle(),
    tags=("similarity", "coreset", "sampling", "llm"),
)
def kcenter_coreset_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-center greedy coreset (Gonzalez 1985 farthest-point
    traversal, the 2-approximation for the k-center cover): start
    from vec {START}, then repeatedly select the point farthest (max
    min-squared-L2) from the selected set — the coverage-maximizing
    selection behind embedding-space core-set active learning (Sener
    & Savarese 2018) and diversity-quota data selection. Each pick's
    radius is its min-distance at selection time — a certified
    nonincreasing cover-radius curve. Distances are 6dp-rounded
    index-order folds over float64 casts (both engines identical);
    ties break on the smaller vec_id.

    Scale shape: k−1 declarative rounds, each one corpus scan joined
    to the ≤k-row selected set (broadcast) with a TakeOrdered top-1 —
    O(k·N·d) total work, shuffle-free except the 1-row argmax; picks
    are lazily localCheckpoint-ed (the MMR/k-means lineage pattern) so
    round i does not re-execute rounds 1..i−1. Driver holds only the
    k-row selection — config-bounded, never data-bounded.
    """
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )

    def sqd(a, b):
        return F.round(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    picks = [
        emb.where(F.col("vec_id") == _KC_START)
        .select(
            F.lit(1).cast("long").alias("step"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.lit(0.0).alias("radius"),
            "v",
        )
        .localCheckpoint(eager=False)
    ]
    selected = picks[0].select("vec_id", "v")
    for i in range(2, _KC_K + 1):
        s = selected.select(
            F.col("vec_id").alias("svid"), F.col("v").alias("sv")
        )
        mind = (
            emb.join(
                F.broadcast(selected.select("vec_id")), "vec_id",
                "left_anti",
            )
            .crossJoin(F.broadcast(s))
            .groupBy("vec_id", "v")
            .agg(F.min(sqd(F.col("v"), F.col("sv"))).alias("mind"))
        )
        pick = (
            mind.orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("step"),
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("mind").alias("radius"),
                "v",
            )
            .localCheckpoint(eager=False)
        )
        picks.append(pick)
        selected = selected.unionAll(pick.select("vec_id", "v"))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select("step", "vec_id", "radius")


# --------------------------------------------------------------------
# Canonical-URL dedup (tracking-param stripping).
# --------------------------------------------------------------------
_SQL_URL = """
      SELECT event_type,
             'https://'
             || CASE WHEN event_id % 7 = 0
                     THEN 'SHOP' || CAST(user_id % 3 AS VARCHAR)
                          || '.Example.COM'
                     ELSE 'shop' || CAST(user_id % 3 AS VARCHAR)
                          || '.example.com' END
             || '/p/' || CAST(event_id % 50 AS VARCHAR)
             || CASE WHEN event_id % 2 = 0 THEN '/' ELSE '' END
             || CASE
                  WHEN event_id % 3 = 0 THEN
                    '?v=' || CAST(CAST(round(value) AS BIGINT) % 10
                                  AS VARCHAR)
                    || '&utm_source=news&utm_campaign=x'
                  WHEN event_id % 3 = 1 THEN
                    '?v=' || CAST(CAST(round(value) AS BIGINT) % 10
                                  AS VARCHAR)
                  ELSE '?utm_source=mail' END
             || CASE WHEN event_id % 5 = 0 THEN '&fbclid=AbC123'
                     ELSE '' END
             || CASE WHEN event_id % 4 = 0 THEN '#top' ELSE '' END
               AS url
      FROM events
"""


@register(
    "canonical_url_dedup",
    f"""
    WITH urls AS ({_SQL_URL}
    ), canon AS (
      SELECT event_type, url,
             'https://'
             || lower(regexp_extract(url, 'https://([^/]+)', 1))
             || regexp_replace(
                  regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1),
                  '/$', '')
             || CASE WHEN regexp_extract(url, '[?&]v=(\\d+)', 1) != ''
                     THEN '?v=' || regexp_extract(url, '[?&]v=(\\d+)', 1)
                     ELSE '' END AS curl
      FROM urls
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           COUNT(DISTINCT url) AS n_raw_distinct,
           COUNT(DISTINCT curl) AS n_canon_distinct,
           CAST((1000 * (COUNT(DISTINCT url) - COUNT(DISTINCT curl)))
                // COUNT(DISTINCT url) AS BIGINT) AS collapse_milli
    FROM canon
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("llm", "dedup", "text", "web"),
)
def canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL deduplication — the first dedup pass of every
    web-crawl pipeline (CommonCrawl/C4 lineage): lowercase the host,
    drop the fragment, strip tracking parameters (utm_*, fbclid),
    keep meaningful params (v), trim the trailing slash, and account
    how many raw-distinct URLs collapse per event_type. URLs are
    synthesized deterministically from events (same derivation in
    both engines) with planted case/slash/tracking/fragment noise, so
    the collapse the query measures is real canonicalization work.
    Spark parses with `parse_url` (HOST/PATH/QUERY param — JVM
    codegen); the oracle re-derives the components with regexes, so
    the parse path itself is what's checked.

    Scale shape: entirely row-local string work inside whole-stage
    codegen plus one grouped distinct-count agg (partial aggregation
    on event_type) — no joins, no Python, linear in input at any SF.
    """
    e = t(spark, sf_dir, "events")
    host = F.when(
        F.col("event_id") % 7 == 0,
        F.concat(
            F.lit("SHOP"),
            (F.col("user_id") % 3).cast("string"),
            F.lit(".Example.COM"),
        ),
    ).otherwise(
        F.concat(
            F.lit("shop"),
            (F.col("user_id") % 3).cast("string"),
            F.lit(".example.com"),
        )
    )
    vparam = (F.round("value").cast("long") % 10).cast("string")
    q = (
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("?v="), vparam,
                F.lit("&utm_source=news&utm_campaign=x"),
            ),
        )
        .when(F.col("event_id") % 3 == 1, F.concat(F.lit("?v="), vparam))
        .otherwise(F.lit("?utm_source=mail"))
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit("/p/"),
        (F.col("event_id") % 50).cast("string"),
        F.when(F.col("event_id") % 2 == 0, F.lit("/")).otherwise(
            F.lit("")
        ),
        q,
        F.when(F.col("event_id") % 5 == 0, F.lit("&fbclid=AbC123"))
        .otherwise(F.lit("")),
        F.when(F.col("event_id") % 4 == 0, F.lit("#top")).otherwise(
            F.lit("")
        ),
    )
    # r11: collapse to DISTINCT (event_type, url) first — curl is a
    # pure function of url, so the parse_url×3 + regex
    # canonicalization runs once per distinct URL instead of once per
    # event row, the raw-distinct count becomes a plain grid-row
    # count (no distinct-expand), and only ONE count_distinct (curl)
    # survives to the final agg (guide §2.3: aggregate before the
    # expensive per-row compute).
    grid = (
        e.select("event_type", url.alias("url"))
        .groupBy("event_type", "url")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    v = F.parse_url("url", F.lit("QUERY"), F.lit("v"))
    curl = F.concat(
        F.lit("https://"),
        F.lower(F.parse_url("url", F.lit("HOST"))),
        F.regexp_replace(
            F.parse_url("url", F.lit("PATH")), r"/$", ""
        ),
        F.when(
            v.isNotNull() & (v != ""), F.concat(F.lit("?v="), v)
        ).otherwise(F.lit("")),
    )
    canon = grid.select("event_type", "url", "n", curl.alias("curl"))
    return (
        canon.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_urls"),
            # COUNT(url) over the distinct grid == COUNT(DISTINCT url)
            # (one row per URL; NULL urls excluded by both forms)
            F.count("url").cast("long").alias("n_raw_distinct"),
            F.count_distinct("curl").alias("n_canon_distinct"),
            F.expr(
                "CAST((1000 * (count(url) - count(DISTINCT curl)))"
                " div count(url) AS BIGINT)"
            ).alias("collapse_milli"),
        )
    )


# --------------------------------------------------------------------
# Matryoshka truncation-recall audit (MRL dimension ablation).
# --------------------------------------------------------------------
_MRL_NQ = 8  # fixed query set: vec_id < _MRL_NQ
_MRL_DIM = 16  # truncated prefix dimensionality
_MRL_K = 5


def _mrl_cos_sql(a: str, b: str, dim: int) -> str:
    rng = f"range(1, {dim + 1})"
    return (
        f"round(list_sum(list_transform({rng}, i ->"
        f" {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform({rng}, i ->"
        f" {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"
        f" * sqrt(list_sum(list_transform({rng}, i ->"
        f" {b}[i]::DOUBLE * {b}[i]::DOUBLE)))), 6)"
    )


@register(
    "matryoshka_truncation_recall",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      WHERE vec_id < {_MRL_NQ}
    ), c AS (
      SELECT vec_id AS nid, embedding AS ce FROM embeddings
    ), full_rk AS (
      SELECT query_id, nid,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {_mrl_cos_sql("qe", "ce", 64)} DESC, nid) AS rk
      FROM q JOIN c ON nid != query_id
    ), trunc_rk AS (
      SELECT query_id, nid,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {_mrl_cos_sql("qe", "ce", _MRL_DIM)} DESC, nid) AS rk
      FROM q JOIN c ON nid != query_id
    )
    SELECT f.query_id AS query_id,
           CAST(COUNT(t.nid) AS BIGINT) AS n_hits,
           CAST((1000 * COUNT(t.nid)) // {_MRL_K} AS BIGINT)
             AS recall_milli
    FROM full_rk f
    LEFT JOIN trunc_rk t
      ON t.query_id = f.query_id AND t.nid = f.nid
         AND t.rk <= {_MRL_K}
    WHERE f.rk <= {_MRL_K}
    GROUP BY f.query_id
    ORDER BY f.query_id
    """,
    tags=("similarity", "embedding", "llm", "audit"),
)
def matryoshka_truncation_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka dimension-truncation audit (Kusupati et al. 2022
    MRL): recall@{K} of top-{K} cosine retrieval using only the first
    {DIM} embedding dimensions against the full-64-dim exact top-{K},
    per query ({NQ} fixed queries) — the measurement behind the
    modern "store the prefix, rerank with the tail" embedding-cost
    ablation. Cosines are 6dp-rounded index-order folds (both engines
    identical); ranks tie-break on neighbor id.

    Scale shape: the fixed {NQ}-query set broadcasts against ONE
    corpus scan computing BOTH cosines per candidate pair (r11: the
    two cosine_topk passes each scanned the corpus, built their own
    broadcast and ranked separately, then re-joined the two top-{K}
    sets — one scan + one broadcast join now feeds both rank windows
    and the intersection becomes a per-row rank conjunction, no
    join). The brute-force pair stream is the registry's audit path —
    at scale the IVF/SRP candidate generators replace it, same recall
    contract.
    """
    from filemapreduce_spark.operators.vectors import dot, norm, to_double
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    # both-resolution vectors + norms computed once per ROW per side
    prep = lambda df, pfx: df.select(  # noqa: E731
        F.col("vec_id").alias(f"{pfx}id"),
        to_double(F.col("embedding")).alias(f"{pfx}v"),
    ).select(
        f"{pfx}id",
        f"{pfx}v",
        F.slice(f"{pfx}v", 1, _MRL_DIM).alias(f"{pfx}t"),
        norm(F.col(f"{pfx}v")).alias(f"{pfx}n"),
        norm(F.slice(f"{pfx}v", 1, _MRL_DIM)).alias(f"{pfx}tn"),
    )
    q = prep(emb.where(F.col("vec_id") < _MRL_NQ), "q_")
    c = prep(emb, "c_")
    scored = c.join(
        F.broadcast(q), F.col("q_id") != F.col("c_id")
    ).select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        F.round(
            dot(F.col("q_v"), F.col("c_v"))
            / (F.col("q_n") * F.col("c_n")),
            6,
        ).alias("cos_full"),
        F.round(
            dot(F.col("q_t"), F.col("c_t"))
            / (F.col("q_tn") * F.col("c_tn")),
            6,
        ).alias("cos_tr"),
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id").asc()
    )
    w_tr = Window.partitionBy("query_id").orderBy(
        F.col("cos_tr").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(w_full).alias("rk_full"),
        F.row_number().over(w_tr).alias("rk_tr"),
    )
    return (
        ranked.filter(F.col("rk_full") <= _MRL_K)
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("rk_tr") <= _MRL_K, 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "query_id",
            "n_hits",
            F.expr(f"CAST((1000 * n_hits) div {_MRL_K} AS BIGINT)").alias(
                "recall_milli"
            ),
        )
    )


matryoshka_truncation_recall.__doc__ = (
    matryoshka_truncation_recall.__doc__
    .replace("{K}", str(_MRL_K))
    .replace("{DIM}", str(_MRL_DIM))
    .replace("{NQ}", str(_MRL_NQ))
)


# --------------------------------------------------------------------
# Curriculum interleave: difficulty-ordered, source-round-robin.
# --------------------------------------------------------------------
_CUR_TOP = 100


@register(
    "curriculum_interleave_order",
    f"""
    WITH si AS (
      SELECT source,
             ROW_NUMBER() OVER (ORDER BY source) AS sidx,
             (SELECT COUNT(DISTINCT source) FROM documents) AS n_src
      FROM (SELECT DISTINCT source FROM documents
            WHERE source IS NOT NULL)
    ), rk AS (
      -- the difficulty proxy must be OBSERVED: NULL n_chars ranked
      -- 'easiest' in Spark (NULLS FIRST) and 'hardest' in DuckDB
      -- (r9 mixed-null sweep)
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r
      FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
    )
    SELECT CAST((rk.r - 1) * si.n_src + si.sidx AS BIGINT) AS position,
           rk.doc_id, rk.source, rk.n_chars
    FROM rk JOIN si ON si.source = rk.source
    WHERE (rk.r - 1) * si.n_src + si.sidx <= {_CUR_TOP}
    ORDER BY position
    """,
    tags=("llm", "pipeline", "ordering"),
)
def curriculum_interleave_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum data ordering with source interleave: rank each
    source's documents easiest-first (n_chars as the difficulty
    proxy, doc_id tie-break), then round-robin across sources —
    position = (rank−1)·#sources + source_index — so training sees
    difficulty ramp WITHOUT source clumping (the ordering step of
    curriculum-learning pipelines; Bengio et al. 2009). First
    {TOP} positions returned; position arithmetic is exact integers.

    Scale shape: one window per source partition (volume splits
    across sources) + a #sources-row index table broadcast back;
    no global sort of the corpus — the curriculum position is
    computed arithmetically, and only the top-{TOP} slice (bounded)
    is returned. The full ordered write would partition by
    position ranges with the same arithmetic.
    """
    # a NULL source is no interleave stream: it would shift every
    # real source's round-robin index by one — at OPPOSITE ends in
    # the two engines (NULLS FIRST vs LAST in the sidx ordering) —
    # while the equi-join dropped its own rows anyway (r9 null sweep)
    d = t(spark, sf_dir, "documents").where(F.col("source").isNotNull())
    from pyspark.sql import Window

    srcs = d.select("source").distinct()
    # ranked docs additionally need an observed difficulty proxy; the
    # source index keeps ALL non-null sources (matching the oracle's
    # COUNT(DISTINCT source)), so filter n_chars on the ranked side
    # only
    d = d.where(F.col("n_chars").isNotNull())
    n_src = srcs.agg(F.count(F.lit(1)).cast("long").alias("n_src"))
    si = (
        srcs.withColumn(
            "sidx",
            F.row_number().over(Window.orderBy("source")).cast("long"),
        )
        .crossJoin(F.broadcast(n_src))
    )
    rk = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy("n_chars", "doc_id")
        )
        .cast("long")
        .alias("r"),
    )
    pos = (F.col("r") - 1) * F.col("n_src") + F.col("sidx")
    return (
        rk.join(F.broadcast(si), "source")
        .select(
            pos.alias("position"), "doc_id", "source", "n_chars"
        )
        .where(F.col("position") <= _CUR_TOP)
    )


curriculum_interleave_order.__doc__ = (
    curriculum_interleave_order.__doc__.replace("{TOP}", str(_CUR_TOP))
)


# --------------------------------------------------------------------
# Feature-hashing (hashing-trick) linear classifier scoring.
# --------------------------------------------------------------------
_FH_BUCKETS = 1024  # 2^10 hashed feature space
_FH_KNUTH = 2654435761  # Knuth multiplicative constant for weights


@register(
    "feature_hashing_classifier_score",
    f"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                    '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')) AS w
      FROM documents
    ), feat AS (
      SELECT doc_id, source,
             ('0x' || substring(md5('fh:' || w), 1, 8))::BIGINT
               % {_FH_BUCKETS} AS h,
             CASE WHEN substring(md5('sg:' || w), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 1 ELSE -1 END AS sg
      FROM tok
    ), terms AS (
      SELECT doc_id, source,
             sg * (((h * {_FH_KNUTH}) % 1000 - 500) / 1000.0) AS term
      FROM feat
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(round(1000000.0 * SUM(term) / COUNT(*)) AS BIGINT)
             AS margin_micro,
           CAST(CASE WHEN round(1000000.0 * SUM(term) / COUNT(*)) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS pred
    FROM terms GROUP BY doc_id, source
    ORDER BY doc_id
    """,
    tags=("llm", "mlprep", "classifier", "hashing"),
)
def feature_hashing_classifier_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Feature-hashing ("hashing trick") linear scoring (Weinberger
    et al. 2009): each token is hashed into a {B}-bucket feature
    space with a second hash supplying the ±1 sign (the unbiasedness
    device from the paper), and the document margin is the
    length-normalized signed sum of the bucket weights. Weights are
    a fixed deterministic function of the bucket index (Knuth
    multiplicative mix → [−0.5, 0.5)), so BOTH engines evaluate the
    identical model with NO weight table at all — the operational
    point of the hashing trick: memory is O(2^b), independent of
    vocabulary, and scoring needs no vocabulary join whatsoever.
    Margins are micro-rounded; the prediction derives from the
    rounded margin (stable across engines).

    Scale shape: pure row-local expressions after one explode — no
    join, no broadcast, no vocabulary state; one groupBy(doc_id)
    with map-side partial aggregation. The same plan at any corpus
    size; this is why hashing-trick scoring is THE baseline for
    trillion-token classifier sweeps (fastText-style quality
    filters).
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(words("text")).alias("w")
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("fh:"), F.col("w"))), 1, 8),
        16,
        10,
    ).cast("long") % _FH_BUCKETS
    sg = F.when(
        F.substring(F.md5(F.concat(F.lit("sg:"), F.col("w"))), 1, 1).isin(
            *"01234567"
        ),
        1,
    ).otherwise(-1)
    term = sg * (
        ((h * _FH_KNUTH) % 1000 - 500) / F.lit(1000.0)
    )
    margin = F.round(
        1000000.0 * F.sum("term") / F.count(F.lit(1))
    )
    return (
        tok.select("doc_id", "source", term.alias("term"))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            margin.cast("long").alias("margin_micro"),
            F.when(margin > 0, 1).otherwise(0).cast("long").alias("pred"),
        )
    )


feature_hashing_classifier_score.__doc__ = (
    feature_hashing_classifier_score.__doc__.replace(
        "{B}", str(_FH_BUCKETS)
    )
)


# --------------------------------------------------------------------
# Skip-gram PMI pairs (SGNS training-prep collocation mining).
# --------------------------------------------------------------------
_SG_WINDOW = 2  # skip-gram window (offsets 1..2)
_SG_MIN = 5  # minimum pair count
_SG_TOP = 50


@register(
    "skipgram_pmi_pairs",
    f"""
    WITH doc AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), uni AS (
      SELECT unnest(ws) AS w FROM doc
    ), n_tok AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni
    ), c1 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM uni GROUP BY w
    ), pairs AS (
      SELECT ws[i] AS a, ws[i + k] AS b
      FROM doc,
           unnest(range(1, len(ws) + 1)) AS u(i),
           unnest(range(1, {_SG_WINDOW + 1})) AS v(k)
      WHERE i + k <= len(ws)
    ), n_pairs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np FROM pairs
    ), pc AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM pairs GROUP BY a, b
      HAVING COUNT(*) >= {_SG_MIN}
    ), scored AS (
      SELECT pc.a, pc.b, pc.c_ab,
             CAST(round(1000000.0 * ln(
               (CAST(pc.c_ab AS DOUBLE) / (SELECT np FROM n_pairs))
               / ((CAST(ca.cnt AS DOUBLE) / (SELECT n FROM n_tok))
                  * (CAST(cb.cnt AS DOUBLE) / (SELECT n FROM n_tok)))
             )) AS BIGINT) AS pmi_micro
      FROM pc
      JOIN c1 ca ON ca.w = pc.a
      JOIN c1 cb ON cb.w = pc.b
    )
    SELECT a, b, c_ab, pmi_micro FROM scored
    ORDER BY pmi_micro DESC, a, b LIMIT {_SG_TOP}
    """,
    tags=("llm", "text", "collocation", "embedding-prep"),
)
def skipgram_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram collocation mining with pointwise mutual information
    (the SGNS/word2vec training-prep statistic; Church & Hanks 1990):
    ordered token pairs within a ±{W}-token window are counted, and
    PMI = ln(P(a,b)/(P(a)·P(b))) ranks the pairs whose co-occurrence
    beats the unigram-independence baseline — the table behind
    phrase detection ("new york"-style merges) and SGNS shifted-PMI
    analysis (Levy & Goldberg 2014). Pairs under {M} occurrences are
    dropped (PMI's low-count pathology); top-{K} returned. All
    counts exact integers; one ln per surviving pair, micro-rounded.

    Scale shape: position×offset explode is row-local ({W} pairs per
    token); pair counts are one map-side-combined groupBy on the
    pair key with a HAVING that prunes the long tail map-side; the
    PMI join touches only surviving pairs × the unigram table.
    TakeOrdered top-{K} finishes — no global sort. The two
    normalizer scalars never touch the explodes: n_tok folds the
    vocab-bounded unigram table (sum of counts == token total) and
    n_pairs is the CLOSED FORM of the window fan-out — a doc of L
    tokens emits sum_(k=1..min(W,L-1)) (L-k) ordered pairs, so one
    cheap size() pass replaces a second full pair materialization
    (this query previously exploded the corpus four times: unigrams
    and pairs twice each, once per normalizer).
    """
    d = t(spark, sf_dir, "documents")
    doc = d.select("doc_id", words("text").alias("ws"))
    ws = F.col("ws")
    uni = doc.select(F.explode(ws).alias("w"))
    # persisted: THREE branches read the unigram table (both PMI
    # join sides and the token-total fold) — without the cache each
    # re-runs the corpus scan + token explode; the cache is one row
    # per VOCAB TERM, tiny at any corpus size
    c1 = (
        uni.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist()
    )
    n_tok = c1.agg(F.sum("cnt").cast("long").alias("n"))
    # pairs-per-doc closed form: m = clamp(min(W, L-1), >=0) offsets
    # contribute m*L - m(m+1)/2 ordered pairs — exact twin of the
    # explode below for every L including 0 and L <= W
    L = F.size(ws).cast("long")
    m = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(_SG_WINDOW).cast("long"), L - 1),
    )
    n_pairs = doc.select(
        (m * L - (m * (m + 1)) / F.lit(2)).cast("long").alias("d_pairs")
    ).agg(F.coalesce(F.sum("d_pairs"), F.lit(0)).cast("long").alias("np"))
    pair_struct = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ws)),
            lambda i: F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(_SG_WINDOW)),
                    lambda k: F.when(
                        i + k <= F.size(ws),
                        F.struct(
                            F.element_at(ws, i).alias("a"),
                            F.element_at(ws, i + k).alias("b"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        )
    )
    pairs = doc.select(F.explode(pair_struct).alias("p")).select(
        "p.a", "p.b"
    )
    pc = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= _SG_MIN)
    )
    scored = (
        pc.join(
            c1.select(F.col("w").alias("a"), F.col("cnt").alias("ca")),
            "a",
        )
        .join(
            c1.select(F.col("w").alias("b"), F.col("cnt").alias("cb")),
            "b",
        )
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                1000000.0
                * F.log(
                    (F.col("c_ab").cast("double") / F.col("np"))
                    / (
                        (F.col("ca").cast("double") / F.col("n"))
                        * (F.col("cb").cast("double") / F.col("n"))
                    )
                )
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), "a", "b"
    ).limit(_SG_TOP)


skipgram_pmi_pairs.__doc__ = (
    skipgram_pmi_pairs.__doc__
    .replace("{W}", str(_SG_WINDOW))
    .replace("{M}", str(_SG_MIN))
    .replace("{K}", str(_SG_TOP))
)


# --------------------------------------------------------------------
# nDCG retrieval-quality audit (graded-relevance ranking metric).
# --------------------------------------------------------------------
_NDCG_QUERIES = {
    1: ("spark", "join", "merge"),
    2: ("scan", "filter", "column"),
    3: ("stream", "window", "batch"),
}
_NDCG_K = 10


def _ndcg_oracle() -> str:
    qrows = " UNION ALL ".join(
        f"SELECT {qid} AS qid, '{term}' AS term"
        for qid, terms in _NDCG_QUERIES.items()
        for term in terms
    )
    return f"""
    WITH q AS ({qrows}),
    tok AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS w FROM documents
    ), hits AS (
      SELECT q.qid, tok.doc_id, q.term,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok JOIN q ON q.term = tok.w
      GROUP BY q.qid, tok.doc_id, q.term
    ), scored AS (
      SELECT qid, doc_id,
             CAST(SUM(tf) AS BIGINT) AS tf_sum,
             CAST(COUNT(*) AS BIGINT) AS rel
      FROM hits GROUP BY qid, doc_id
    ), ranked AS (
      SELECT qid, doc_id, rel,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY tf_sum DESC, doc_id) AS pos,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY rel DESC, doc_id) AS ideal_pos
      FROM scored
    ), dcg AS (
      SELECT qid,
             SUM(CASE WHEN pos <= {_NDCG_K}
                 THEN (pow(2.0, rel) - 1) / (ln(pos + 1) / ln(2.0))
                 ELSE 0 END) AS dcg,
             SUM(CASE WHEN ideal_pos <= {_NDCG_K}
                 THEN (pow(2.0, rel) - 1)
                      / (ln(ideal_pos + 1) / ln(2.0))
                 ELSE 0 END) AS idcg
      FROM ranked GROUP BY qid
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           CAST(round(1000000.0 * dcg) AS BIGINT) AS dcg_micro,
           CAST(round(1000000.0 * idcg) AS BIGINT) AS idcg_micro,
           CAST(round(1000.0 * dcg / idcg) AS BIGINT) AS ndcg_milli
    FROM dcg ORDER BY qid
    """


@register(
    "ndcg_retrieval_audit",
    _ndcg_oracle(),
    tags=("llm", "retrieval", "eval", "search"),
)
def ndcg_retrieval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{K} retrieval-quality audit (Järvelin & Kekäläinen 2002):
    rank documents for each fixed query by term-frequency score,
    grade relevance as the count of distinct query terms present
    (0-3), and compare the ranking's DCG = Σ (2^rel − 1)/log₂(pos+1)
    against the ideal (relevance-sorted) ordering's IDCG — the
    graded-ranking metric every search/RAG evaluation reports, here
    measuring how well a tf ranking recovers multi-term coverage.
    Counts are exact integers; DCG terms are identical float
    expressions per position, micro-rounded after the ≤{K}-term sum;
    ties break on doc_id in both orderings.

    Scale shape: the fixed query-term list joins the exploded token
    stream (broadcast of a config-bounded term set); per-(query,
    doc) scores are one map-side-combined agg; both rank windows
    partition by query id over only the MATCHING docs (candidate
    set, not the corpus). Metric aggregation is #queries rows.
    """
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    qrows = [
        (qid, term)
        for qid, terms in _NDCG_QUERIES.items()
        for term in terms
    ]
    q = spark.createDataFrame(qrows, "qid long, term string")
    tok = d.select("doc_id", F.explode(words("text")).alias("w"))
    hits = (
        tok.join(F.broadcast(q), F.col("term") == F.col("w"))
        .groupBy("qid", "doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    scored = hits.groupBy("qid", "doc_id").agg(
        F.sum("tf").cast("long").alias("tf_sum"),
        F.count(F.lit(1)).cast("long").alias("rel"),
    )
    wq = Window.partitionBy("qid")
    ranked = scored.select(
        "qid",
        "doc_id",
        "rel",
        F.row_number()
        .over(wq.orderBy(F.col("tf_sum").desc(), "doc_id"))
        .alias("pos"),
        F.row_number()
        .over(wq.orderBy(F.col("rel").desc(), "doc_id"))
        .alias("ideal_pos"),
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1
    log2 = lambda c: F.log(c + 1) / F.log(F.lit(2.0))  # noqa: E731
    dcg = ranked.groupBy("qid").agg(
        F.sum(
            F.when(F.col("pos") <= _NDCG_K, gain / log2(F.col("pos")))
            .otherwise(0.0)
        ).alias("dcg"),
        F.sum(
            F.when(
                F.col("ideal_pos") <= _NDCG_K,
                gain / log2(F.col("ideal_pos")),
            ).otherwise(0.0)
        ).alias("idcg"),
    )
    return dcg.select(
        F.col("qid").cast("long").alias("qid"),
        F.round(1000000.0 * F.col("dcg")).cast("long").alias("dcg_micro"),
        F.round(1000000.0 * F.col("idcg"))
        .cast("long")
        .alias("idcg_micro"),
        F.round(1000.0 * F.col("dcg") / F.col("idcg"))
        .cast("long")
        .alias("ndcg_milli"),
    )


ndcg_retrieval_audit.__doc__ = ndcg_retrieval_audit.__doc__.replace(
    "{K}", str(_NDCG_K)
)
