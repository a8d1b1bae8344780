"""Round-5 LLM-pipeline batch: MMR diversified retrieval and
winnowing document fingerprints.

Reference parity: neither exists in the reference (its surface stops
at scan/filter/map/reduce, `/root/reference/interfaces.go`); both are
north-star extension rows for SURVEY.md §2 Part B.

- MMR (maximal marginal relevance, Carbonell & Goldstein 1998): the
  standard diversified top-k re-ranker every RAG retrieval stack
  ships — greedy selection maximizing λ·rel(d) − (1−λ)·max sim to the
  already-selected set, so near-duplicate passages don't crowd the
  context window.
- Winnowing (Schleimer, Wilkerson & Aiken 2003, the MOSS algorithm):
  position-robust document fingerprinting — k-gram hashes thinned to
  the minimum per sliding window, guaranteeing any sufficiently long
  shared substring shares a fingerprint while storing only ~2/(w+1)
  of the hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import SQL_WORDS, ascii_fold, words
from filemapreduce_spark.operators.vectors import dot, norm, to_double
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_MMR_QUERY_ID = 0
_MMR_N_CAND = 20
_MMR_K = 5
_MMR_LAMBDA = 0.7


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two FLOAT[] columns, rounded 6dp, in the
    same index-ordered fold both engines evaluate (llm.py pattern)."""
    return f"""
    round(
      list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)))),
      6)
    """


def _mmr_oracle() -> str:
    lam, om = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 1)
    head = f"""
    WITH q AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = {_MMR_QUERY_ID}
    ), c AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      WHERE vec_id != {_MMR_QUERY_ID}
    ), scored AS (
      SELECT cid, {_cos_sql("qe", "ce")} AS rel FROM c CROSS JOIN q
    ), cand AS (
      SELECT cid, rel FROM scored ORDER BY rel DESC, cid LIMIT {_MMR_N_CAND}
    ), cv AS (
      SELECT cand.cid, embedding AS ce FROM cand
      JOIN embeddings ON vec_id = cid
    ), sims AS (
      SELECT a.cid AS ca, b.cid AS cb, {_cos_sql("a.ce", "b.ce")} AS sim
      FROM cv a JOIN cv b ON a.cid != b.cid
    ), s1 AS (
      SELECT cid, rel, 1 AS step, rel AS score
      FROM cand ORDER BY rel DESC, cid LIMIT 1
    ), sel1 AS (SELECT cid FROM s1)
    """
    steps = [head]
    for i in range(2, _MMR_K + 1):
        steps.append(f"""
    , r{i} AS (
      SELECT c.cid, c.rel,
             round({lam} * c.rel - {om} * MAX(s.sim), 9) AS score
      FROM cand c JOIN sims s
        ON s.ca = c.cid AND s.cb IN (SELECT cid FROM sel{i - 1})
      WHERE c.cid NOT IN (SELECT cid FROM sel{i - 1})
      GROUP BY c.cid, c.rel
    ), s{i} AS (
      SELECT cid, rel, {i} AS step, score
      FROM r{i} ORDER BY score DESC, cid LIMIT 1
    ), sel{i} AS (
      SELECT cid FROM sel{i - 1} UNION ALL SELECT cid FROM s{i}
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(1, _MMR_K + 1)
    )
    steps.append(f"""
    SELECT CAST(step AS BIGINT) AS step, cid AS vec_id, rel,
           score AS mmr_score
    FROM ({union}) ORDER BY step
    """)
    return "".join(steps)


@register(
    "mmr_diversified_topk",
    _mmr_oracle(),
    tags=("similarity", "retrieval", "mmr", "llm"),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): greedy top-{K} selection from the query's top-{N} cosine
    candidates, each step maximizing λ·rel(d) − (1−λ)·max_{{s∈S}}
    sim(d, s) with λ={LAM} — the diversified retrieval every RAG stack
    uses so near-duplicate passages don't crowd the context window.
    Step 1's score is its relevance (nothing selected yet); ties break
    on vec_id; rel/sim are 6dp-rounded cosines and scores 9dp-rounded,
    so both engines compare identical doubles.

    Scale shape: candidate generation is the broadcast-query brute
    cosine (one corpus scan, window top-N — at scale the IVF/SRP
    candidate paths in this registry replace it, same contract); the
    greedy phase touches ONLY the N-candidate set (persisted: N rows,
    config-bounded) and its N×N pairwise sims — driver-free unrolled
    DataFrame steps whose cost is independent of corpus size. K and N
    are config dials; the selection is exact greedy MMR, not an
    approximation.
    """
    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        to_double(F.col("embedding")).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    # r11: corpus-side norm once per vector (the rel pass used to
    # fold BOTH norms per (query, corpus) row); same double ops
    corpus = emb.filter(F.col("vec_id") != _MMR_QUERY_ID).select(
        F.col("vec_id").alias("cid"), to_double(F.col("embedding")).alias("_cv")
    ).withColumn("_cn", norm(F.col("_cv")))
    rel = F.round(
        dot(F.col("_qv"), F.col("_cv"))
        / (F.col("_qn") * F.col("_cn")),
        6,
    )
    # candidate set: config-bounded (N rows) and referenced by every
    # unrolled greedy step — persist so the corpus scan runs once
    cand = (
        corpus.crossJoin(F.broadcast(qv))
        .select("cid", rel.alias("rel"))
        .orderBy(F.col("rel").desc(), "cid")
        .limit(_MMR_N_CAND)
        .persist()
    )
    cand_vec = cand.join(
        emb.select(F.col("vec_id").alias("cid"), "embedding"), "cid"
    ).select("cid", to_double(F.col("embedding")).alias("_v"))
    a = cand_vec.select(F.col("cid").alias("ca"), F.col("_v").alias("_va"))
    b = cand_vec.select(F.col("cid").alias("cb"), F.col("_v").alias("_vb"))
    sims = (
        a.join(F.broadcast(b), F.col("ca") != F.col("cb"))
        .select(
            "ca",
            "cb",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / (norm(F.col("_va")) * norm(F.col("_vb"))),
                6,
            ).alias("sim"),
        )
        .persist()  # N×(N−1) rows, config-bounded
    )

    lam = F.lit(_MMR_LAMBDA)
    om = F.lit(round(1 - _MMR_LAMBDA, 1))
    # each pick is lineage-truncated (lazy localCheckpoint, the same
    # pattern as the k-means/label-propagation loops): without it,
    # step i's plan embeds steps 1..i−1 as live subtrees and the
    # greedy unroll re-executes them combinatorially — with it, every
    # 1-row pick materializes once and later steps read the
    # checkpointed row (measured 5.2 s → 1.3 s warm at sf0.01)
    picks = [
        cand.orderBy(F.col("rel").desc(), "cid")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("step"),
            F.col("cid"),
            "rel",
            F.col("rel").alias("mmr_score"),
        )
        .localCheckpoint(eager=False)
    ]
    selected = picks[0].select("cid")
    for i in range(2, _MMR_K + 1):
        maxsim = (
            sims.join(
                F.broadcast(selected.select(F.col("cid").alias("cb"))), "cb"
            )
            .groupBy(F.col("ca").alias("cid"))
            .agg(F.max("sim").alias("ms"))
        )
        scored = (
            cand.join(F.broadcast(selected), "cid", "left_anti")
            .join(maxsim, "cid")
            .select(
                "cid",
                "rel",
                F.round(lam * F.col("rel") - om * F.col("ms"), 9).alias(
                    "score"
                ),
            )
        )
        pick = (
            scored.orderBy(F.col("score").desc(), "cid")
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("step"),
                "cid",
                "rel",
                F.col("score").alias("mmr_score"),
            )
            .localCheckpoint(eager=False)
        )
        picks.append(pick)
        selected = selected.unionAll(pick.select("cid"))

    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select(
        "step", F.col("cid").alias("vec_id"), "rel", "mmr_score"
    )


mmr_diversified_topk.__doc__ = mmr_diversified_topk.__doc__.format(
    K=_MMR_K, N=_MMR_N_CAND, LAM=_MMR_LAMBDA
)


# --------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer et al. 2003 / MOSS).
# --------------------------------------------------------------------
_WIN_K = 5  # char k-gram width
_WIN_W = 4  # winnowing window (hashes per window)
_WIN_DFCAP = 50  # stop-fingerprint prune: drop fps in > this many docs
_WIN_MIN_SHARED = 10  # report pairs sharing at least this many fps

# Karp–Rabin polynomial gram hash (Schleimer et al. 2003 §2): base
# 257, modulus 2^31-1, over the doc's codepoint array. The powers
# 257^4..257^0 are pre-folded literals (K=5), so each position costs
# five multiply-adds on BIGINTs — no per-position digest. Identical
# arithmetic on both engines (codepoints via Spark ascii / DuckDB
# unicode; all terms positive, so % == pmod).
_WIN_HASH_SQL = (
    "(cs[i]*4362470401 + cs[i+1]*16974593 + cs[i+2]*66049"
    " + cs[i+3]*257 + cs[i+4]) % 2147483647"
)


@register(
    "winnowing_shared_fingerprints",
    f"""
    WITH d AS (
      SELECT doc_id, translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS txt FROM documents
    ), c AS (
      -- str_split, not txt[j] indexing: positional UTF-8 indexing is
      -- O(len) per access (quadratic per doc); splitting is one pass
      SELECT doc_id, txt,
             list_transform(str_split(txt, ''),
                            ch -> CAST(unicode(ch) AS BIGINT)) AS cs
      FROM d
    ), h AS (
      SELECT doc_id,
             CASE WHEN length(txt) >= {_WIN_K + _WIN_W - 1}
                  THEN list_transform(range(1, length(txt) - {_WIN_K - 2}),
                                      i -> {_WIN_HASH_SQL})
                  ELSE [] END AS hs
      FROM c
    ), fp AS MATERIALIZED (
      -- referenced 3x below (a / kept / b); without the hint DuckDB
      -- inlines and re-runs the whole fingerprint pass per reference
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(hs) - {_WIN_W - 2}),
               i -> list_min(hs[i:i+{_WIN_W - 1}])))) AS f
      FROM h WHERE len(hs) >= {_WIN_W}
    ), kept AS (
      SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= {_WIN_DFCAP}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS n_shared
      FROM fp a JOIN kept USING (f) JOIN fp b USING (f)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared FROM pairs
    WHERE n_shared >= {_WIN_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "fingerprint", "similarity"),
)
def winnowing_shared_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS plagiarism detector): hash every {K}-char gram, slide a
    window of {W} hashes, keep each window's MINIMUM — any shared
    substring of length ≥ {KW} chars is GUARANTEED to share a
    selected fingerprint, while only ~2/(w+1) of positions are kept.
    Documents are then paired by shared fingerprints (≥ {MIN} after
    stop-fingerprint pruning at df ≤ {CAP}) — position-robust overlap
    detection that survives insertions/reordering, unlike fixed-stride
    chunk hashes.

    Hash parity: fingerprints are Karp–Rabin polynomial hashes (base
    257 mod 2^31-1, the paper's §2 rolling-hash family) over the
    doc's codepoint array — five BIGINT multiply-adds per position
    with pre-folded power literals, mirrored exactly in the DuckDB
    oracle. This replaced a first-cut md5-per-position scheme that
    paid a full digest per character (~10× corpus-pass CPU tax at
    scale); O(K)=5 integer ops per position is within 2-3 ops of the
    stateful O(1) rolling update, which SQL cannot express without a
    quadratic array fold. Window minima and the distinct-per-doc set
    are pure array ops, row-local.

    Scale shape: fingerprint extraction is embarrassingly parallel
    (one pass per doc, no shuffle); the pair stage shuffles only the
    winnowed ~2/(w+1)-density fingerprint postings with a df cap
    bounding any bucket (the same stop-key pruning as the trigram /
    TF-IDF posting joins); pair aggregation touches only co-fingerprint
    candidates — output-linear, never O(N²) over docs.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        ascii_fold("text").alias("txt"),
    ).withColumn(
        # one codepoint array per doc, shared by every gram hash
        "cs",
        F.expr("transform(split(txt, ''), ch -> CAST(ascii(ch) AS BIGINT))"),
    )
    # sequence(1, stop) counts DOWN when stop < 1 — short docs must
    # yield empty arrays, not reversed ranges (test_short_docs class)
    hs = F.expr(
        f"CASE WHEN length(txt) >= {_WIN_K + _WIN_W - 1} THEN"
        f" transform(sequence(1, length(txt) - {_WIN_K - 1}),"
        " i -> (element_at(cs, i)*4362470401"
        " + element_at(cs, i+1)*16974593 + element_at(cs, i+2)*66049"
        " + element_at(cs, i+3)*257 + element_at(cs, i+4)) % 2147483647)"
        " ELSE array() END"
    )
    wmins = F.expr(
        f"CASE WHEN size(hs) >= {_WIN_W} THEN"
        f" array_distinct(transform(sequence(1, size(hs) - {_WIN_W - 1}),"
        f" i -> array_min(slice(hs, i, {_WIN_W}))))"
        " ELSE array() END"
    )
    fp = (
        d.select("doc_id", hs.alias("hs"))
        .select("doc_id", F.explode(wmins).alias("f"))
        # r11: the posting self-join reads fp THREE times (side a,
        # side b, and the df filter); without persist each reference
        # re-ran the whole KR-hash + window-minima extraction — the
        # corpus pass — once per reference. One extraction, cached
        # postings (~2/(w+1) of positions) for the joins.
        .persist()
    )
    kept = fp.groupBy("f").agg(F.count("*").alias("df_f")).filter(
        F.col("df_f") <= _WIN_DFCAP
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "f")
    b = fp.select(F.col("doc_id").alias("doc_b"), "f")
    return (
        a.join(kept.select("f"), "f")
        .join(b, "f")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )


winnowing_shared_fingerprints.__doc__ = (
    winnowing_shared_fingerprints.__doc__
    .replace("{K}", str(_WIN_K))
    .replace("{W}", str(_WIN_W))
    .replace("{KW}", str(_WIN_K + _WIN_W - 1))
    .replace("{MIN}", str(_WIN_MIN_SHARED))
    .replace("{CAP}", str(_WIN_DFCAP))
)


# --------------------------------------------------------------------
# Per-source unigram KL divergence vs the corpus (distribution drift).
# --------------------------------------------------------------------
_KL_V = 100  # vocabulary: top-V global tokens; everything else = OOV


@register(
    "kl_divergence_by_source",
    f"""
    WITH tok AS (
      SELECT source, unnest({SQL_WORDS}) AS w FROM documents
    ), vocab AS (
      SELECT w, COUNT(*) AS cg,
             row_number() OVER (ORDER BY COUNT(*) DESC, w) AS rk
      FROM tok GROUP BY w
    ), v AS (
      SELECT w, cg FROM vocab WHERE rk <= {_KL_V}
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             (SELECT CAST(SUM(cg) AS BIGINT) FROM v) AS n_inv
      FROM tok
    ), src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM tok
      GROUP BY source
    ), src_cnt AS (
      SELECT t.source, t.w, COUNT(*) AS cs
      FROM tok t JOIN v ON v.w = t.w
      GROUP BY t.source, t.w
    ), grid AS (
      SELECT s.source, v.w, v.cg, s.n_s, COALESCE(c.cs, 0) AS cs
      FROM src_tot s CROSS JOIN v
      LEFT JOIN src_cnt c ON c.source = s.source AND c.w = v.w
    ), terms AS (
      -- in-vocab terms, add-one smoothing over V+1 outcomes
      SELECT source,
             ((cs + 1)::DOUBLE / (n_s + {_KL_V} + 1))
               * ln(((cs + 1)::DOUBLE / (n_s + {_KL_V} + 1))
                    / ((cg + 1)::DOUBLE
                       / ((SELECT n_all FROM tot) + {_KL_V} + 1)))
               AS term
      FROM grid
      UNION ALL
      -- the single OOV bucket (everything outside the top-V)
      SELECT s.source,
             ((s.n_s - x.inv_s + 1)::DOUBLE / (s.n_s + {_KL_V} + 1))
               * ln(((s.n_s - x.inv_s + 1)::DOUBLE / (s.n_s + {_KL_V} + 1))
                    / ((t.n_all - t.n_inv + 1)::DOUBLE
                       / (t.n_all + {_KL_V} + 1)))
               AS term
      FROM src_tot s
      JOIN (SELECT source, CAST(SUM(cs) AS BIGINT) AS inv_s
            FROM grid GROUP BY source) x ON x.source = s.source
      CROSS JOIN tot t
    )
    SELECT t.source AS source, s.n_s AS n_tokens,
           CAST(round(1000000.0 * SUM(t.term)) AS BIGINT) AS kl_micro
    FROM terms t JOIN src_tot s ON s.source = t.source
    GROUP BY t.source, s.n_s
    ORDER BY t.source
    """,
    tags=("llm", "text", "drift", "stats"),
)
def kl_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    whole-corpus distribution — the information-theoretic drift score
    behind mixture rebalancing and contamination triage ('which source
    stopped looking like the corpus?'). Distributions are over the
    top-{V} global tokens plus one OOV bucket, add-one smoothed (so
    every term is finite); all counts are exact integers and the only
    float work is the per-term p·ln(p/q), summed and micro-rounded
    (the registry's 6-dp float-parity contract).

    Scale shape: one explode feeds three map-side-combined aggs
    (global vocab top-V via TakeOrdered, per-source totals, per-source
    in-vocab counts); the smoothing grid is #sources × V rows —
    config-bounded, broadcast-joined. No shuffle carries more than the
    (source, vocab-word) count table.
    """
    d = t(spark, sf_dir, "documents")
    # the token stream feeds FOUR branches (vocab, tot, src_tot,
    # src_cnt) — persist so the corpus scan + explode runs once,
    # not once per reference (round-6 plan audit: 30 exchanges)
    tok = d.select(
        "source", F.explode(words("text")).alias("w")
    ).persist()
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cg"))
        .orderBy(F.col("cg").desc(), "w")
        .limit(_KL_V)
        .persist()  # top-V rows, config-bounded; read by 3 branches
    )
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("n_all")).crossJoin(
        F.broadcast(
            vocab.agg(F.sum("cg").cast("long").alias("n_inv"))
        )
    )
    src_tot = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    ).persist()  # #sources rows; read by grid, oov AND final join
    src_cnt = (
        tok.join(F.broadcast(vocab.select("w")), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cs"))
    )
    grid = (
        src_tot.crossJoin(F.broadcast(vocab))
        # ≤ #sources × V rows — broadcast beats shuffling the grid
        .join(F.broadcast(src_cnt), ["source", "w"], "left")
        .withColumn("cs", F.coalesce(F.col("cs"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .persist()  # #sources × V rows; read by in_terms AND inv_s
    )
    vp1 = F.lit(_KL_V + 1)
    p_in = (F.col("cs") + 1).cast("double") / (F.col("n_s") + vp1)
    q_in = (F.col("cg") + 1).cast("double") / (F.col("n_all") + vp1)
    in_terms = grid.select(
        "source", (p_in * F.log(p_in / q_in)).alias("term")
    )
    inv_s = grid.groupBy("source").agg(
        F.sum("cs").cast("long").alias("inv_s")
    )
    oov = (
        src_tot.join(F.broadcast(inv_s), "source")
        .crossJoin(F.broadcast(tot))
    )
    p_oov = (F.col("n_s") - F.col("inv_s") + 1).cast("double") / (
        F.col("n_s") + vp1
    )
    q_oov = (F.col("n_all") - F.col("n_inv") + 1).cast("double") / (
        F.col("n_all") + vp1
    )
    oov_terms = oov.select(
        "source", (p_oov * F.log(p_oov / q_oov)).alias("term")
    )
    return (
        in_terms.unionAll(oov_terms)
        .groupBy("source")
        .agg(F.sum("term").alias("kl"))
        .join(F.broadcast(src_tot), "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.round(1000000.0 * F.col("kl")).cast("long").alias("kl_micro"),
        )
    )


kl_divergence_by_source.__doc__ = kl_divergence_by_source.__doc__.replace(
    "{V}", str(_KL_V)
)
