"""Search and spatial: inverted-index and BM25 retrieval, rank fusion
and ranking agreement, retrieval evaluation (MAP, nDCG), and spatial
joins and rollups.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.operators.textops import SQL_WORDS, words
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# Grid-blocked spatial radius join (trig-free planar distance).
# --------------------------------------------------------------------
_LAT0 = 45.0  # box center latitude
_M_PER_DEG = 111320.0
_COS_LAT0 = math.cos(math.radians(_LAT0))  # literal in BOTH plans
_RADIUS_M = 2000.0
# 3x3-neighborhood completeness needs cell size >= radius in BOTH
# axes; the lon axis shrinks by cos(lat0), so size for it:
# 0.03 deg -> 3340 m (lat) and 2362 m (lon at 45 deg), both >= 2 km.
_CELL_DEG = 0.03


def _coord_sql(which: str, key: str) -> str:
    """Deterministic md5-derived coordinate in a 1°x1° box (DuckDB)."""
    return (
        f"({_LAT0 if which == 'lat' else 8.0} + "
        f"(('0x' || substring(md5('{which}:' || CAST({key} AS VARCHAR)),"
        f" 1, 8))::BIGINT % 1000000) / 1000000.0)"
    )


def _coord_col(which: str, key) -> F.Column:
    base = _LAT0 if which == "lat" else 8.0
    return F.lit(base) + (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{which}:"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    ) / F.lit(1000000.0)


@register(
    "geo_radius_join_customers",
    # CONTRACT NOTE (r11/r12): the Spark result is an unordered SET —
    # the ORDER BY below is presentational in the oracle twin only.
    # Equivalence relies on the harness comparing order-insensitively
    # (driver_sim/check_oracle sort rows before hashing); an
    # order-sensitive consumer must sort on read or use the
    # range-clustered sink.
    f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_coord_sql('lat', 'c_custkey')} AS lat,
             {_coord_sql('lon', 'c_custkey')} AS lon
      FROM customer
    ), cells AS (
      SELECT id, lat, lon,
             CAST(floor(lat / {_CELL_DEG}) AS BIGINT) AS cx,
             CAST(floor(lon / {_CELL_DEG}) AS BIGINT) AS cy
      FROM pts
    ), neigh AS (
      SELECT c.id, c.lat, c.lon,
             c.cx + d.dx AS cx, c.cy + d.dy AS cy
      FROM cells c CROSS JOIN (
        SELECT dx.dx, dy.dy
        FROM (SELECT unnest(range(-1, 2)) AS dx) dx
        CROSS JOIN (SELECT unnest(range(-1, 2)) AS dy) dy) d
    ), cand AS (
      SELECT a.id AS id_a, b.id AS id_b, a.lat AS la, a.lon AS oa,
             b.lat AS lb, b.lon AS ob
      FROM neigh a JOIN cells b ON b.cx = a.cx AND b.cy = a.cy
       AND a.id < b.id
    ), verified AS (
      SELECT id_a, id_b,
             sqrt(((la - lb) * {_M_PER_DEG}) * ((la - lb) * {_M_PER_DEG})
                + ((oa - ob) * {_M_PER_DEG} * {_COS_LAT0!r})
                  * ((oa - ob) * {_M_PER_DEG} * {_COS_LAT0!r})) AS dist_m
      FROM cand
    )
    SELECT id_a, id_b, CAST(round(dist_m) AS BIGINT) AS dist_m
    FROM verified WHERE dist_m <= {_RADIUS_M}
    ORDER BY id_a, id_b
    """,
    tags=("spatial", "join", "blocking"),
    order=(),
)
def geo_radius_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join: customers get deterministic md5-derived
    coordinates in a 1°×1° box; pairs within 2 km are found by grid
    blocking — hash each point to a ~2.2 km cell, generate the 3×3
    neighbor cells on ONE side, equi-join on the cell id, and verify
    candidates with the exact planar distance. The standard
    spatial-join shape (geohash/S2 blocking) that makes proximity
    output-linear instead of O(N²).

    Exactness across engines: the distance is deliberately the
    equirectangular planar form — only +, ×, √ (all IEEE
    correctly-rounded; cos(lat₀) is a Python-computed literal baked
    into both plans) — because libm sin/asin are NOT guaranteed
    identical between the JVM and DuckDB. At city scale the planar
    error vs haversine is < 0.01% — and the operator contract
    (block → verify) is unchanged if a looser tolerance allows
    real haversine.

    Scale: one shuffle on the cell id; the neighbor fanout rides the
    smaller side of the join; candidate count is bounded by cell
    occupancy (skewed cells → salt or split, same as any hot key).
    r11: the probe side generates only the 5 HALF-PLANE offsets
    ((0,0),(0,1),(1,-1),(1,0),(1,1)) instead of all 9 — for any
    unordered cell pair exactly one of the two directed offsets lies
    in the half set, so every candidate pair is produced ONCE instead
    of twice (the old 9-offset form found each pair in both
    orientations and kept one with id_a<id_b). Pair orientation is
    restored arithmetically with least/greatest; the (0,0) offset
    keeps the id< guard so same-cell pairs are not doubled. Fanout
    5/9, candidate rows and distance evaluations halved — identical
    output set.
    """
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id")
    )
    pts = cust.select(
        "id",
        _coord_col("lat", F.col("id")).alias("lat"),
        _coord_col("lon", F.col("id")).alias("lon"),
    )
    cells = pts.select(
        "id",
        "lat",
        "lon",
        F.floor(F.col("lat") / _CELL_DEG).cast("long").alias("cx"),
        F.floor(F.col("lon") / _CELL_DEG).cast("long").alias("cy"),
    )
    offsets = [
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
    ]
    neigh = cells.select(
        "id",
        "lat",
        "lon",
        "cx",
        "cy",
        F.explode(F.array(*offsets)).alias("d"),
    ).select(
        "id",
        "lat",
        "lon",
        (F.col("cx") + F.col("d.dx")).alias("cx"),
        (F.col("cy") + F.col("d.dy")).alias("cy"),
        # same-cell probe: apply the id< guard or the pair doubles
        ((F.col("d.dx") == 0) & (F.col("d.dy") == 0)).alias("same_cell"),
    )
    a = neigh.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("la"),
        F.col("lon").alias("oa"),
        "cx",
        "cy",
        "same_cell",
    )
    b = cells.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lb"),
        F.col("lon").alias("ob"),
        "cx",
        "cy",
    )
    cand = a.join(b, ["cx", "cy"]).where(
        ~F.col("same_cell") | (F.col("id_a") < F.col("id_b"))
    )
    dlat_m = (F.col("la") - F.col("lb")) * _M_PER_DEG
    dlon_m = (F.col("oa") - F.col("ob")) * _M_PER_DEG * _COS_LAT0
    dist = F.sqrt(dlat_m * dlat_m + dlon_m * dlon_m)
    # No final presentation sort (r11, guide §2.4): the output is one
    # row per NEARBY PAIR (158k rows at sf0.1 — data-sized), and the
    # global orderBy's range-exchange boundary sampling re-executes
    # the candidate join — measured 1.00-1.15 s with the sort vs
    # 0.55 s without (paired same-session A/B). Result SET unchanged
    # (driver hash is order-insensitive; the oracle keeps ORDER BY).
    return (
        cand.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            dist.alias("dist_raw"),
        )
        .where(F.col("dist_raw") <= _RADIUS_M)
        .select(
            "id_a",
            "id_b",
            F.round("dist_raw").cast("long").alias("dist_m"),
        )
    )


# --------------------------------------------------------------------
# Reciprocal-rank fusion of two ranking signals, per language.
# --------------------------------------------------------------------
@register(
    "rrf_rank_fusion_by_lang",
    """
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             CAST(len(list_filter(
               regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'),
               w -> w != '')) AS BIGINT) AS n_words
      FROM documents
    ), ranked AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY n_chars DESC, doc_id)
             AS BIGINT) AS ra,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY n_words DESC, doc_id)
             AS BIGINT) AS rb
      FROM d
    ), fused AS (
      SELECT lang, doc_id,
             1000000000000 // (60 + ra) + 1000000000000 // (60 + rb)
               AS rrf_score,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY 1000000000000 // (60 + ra)
                        + 1000000000000 // (60 + rb) DESC, doc_id)
             AS BIGINT) AS rk
      FROM ranked
    )
    SELECT lang, doc_id, rrf_score, rk FROM fused
    WHERE rk <= 5 ORDER BY lang, rk
    """,
    tags=("ranking", "fusion", "llm"),
)
def rrf_rank_fusion_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, k=60) of two per-language ranking
    signals — character length and word count — keeping each
    language's top 5 fused documents. RRF is the standard way to merge
    a lexical and a semantic retrieval ranking without score
    calibration; the scores here use integer-scaled reciprocals
    (``1e12 // (k + rank)``) so the fusion is exact on both engines.

    Scale shape: both rankings and the fusion rank partition by
    ``lang`` — no global window. At 100 TB the same plan holds with
    any bounded-cardinality ranking scope (per query id in a retrieval
    eval, per shard in index building).
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(words("text")).cast("long").alias("n_words"),
    )
    w_a = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    w_b = Window.partitionBy("lang").orderBy(F.col("n_words").desc(), "doc_id")
    ranked = d.select(
        "lang",
        "doc_id",
        F.row_number().over(w_a).cast("long").alias("ra"),
        F.row_number().over(w_b).cast("long").alias("rb"),
    )
    score = F.expr("1000000000000 div (60 + ra)") + F.expr(
        "1000000000000 div (60 + rb)"
    )
    w_f = Window.partitionBy("lang").orderBy(
        score.desc(), "doc_id"
    )
    return (
        ranked.select(
            "lang",
            "doc_id",
            score.alias("rrf_score"),
            F.row_number().over(w_f).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )


# ------------------------------------------------------------------
# Rank-biased overlap between the revenue and quantity part rankings.
# ------------------------------------------------------------------
_RBO_K = 15
_RBO_P = 0.9  # the standard top-weightedness parameter
# p^(d-1) = 9^(d-1)/10^(d-1) held as EXACT integer numerator and
# denominator (libm pow(0.9, d) and JVM Math.pow disagree in the
# last ulp, which flips micro-rounding): at K=15 both fit int64.
_RBO_POWS = [(d, 9 ** (d - 1), 10 ** (d - 1)) for d in range(1, _RBO_K + 1)]
_RBO_POWS_SQL = ", ".join(f"({d}, {p9}, {p10})" for d, p9, p10 in _RBO_POWS)


@register(
    "rbo_rank_agreement",
    f"""
    WITH agg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY l_partkey
    ), ra AS (
      SELECT l_partkey, rn FROM (
        SELECT l_partkey, row_number() OVER (
          ORDER BY rev DESC, l_partkey) AS rn FROM agg)
      WHERE rn <= {_RBO_K}
    ), rb AS (
      SELECT l_partkey, rn FROM (
        SELECT l_partkey, row_number() OVER (
          ORDER BY qty DESC, l_partkey) AS rn FROM agg)
      WHERE rn <= {_RBO_K}
    ), shared AS (
      SELECT greatest(ra.rn, rb.rn) AS dmax
      FROM ra JOIN rb ON rb.l_partkey = ra.l_partkey
    ), bycut AS (
      SELECT dmax, CAST(COUNT(*) AS BIGINT) AS n
      FROM shared GROUP BY dmax
    ), pows(d, p9, p10) AS (
      VALUES {_RBO_POWS_SQL}
    ), grid AS (
      SELECT CAST(p.d AS BIGINT) AS d,
             CAST(p.p9 AS HUGEINT) AS p9, CAST(p.p10 AS HUGEINT) AS p10,
             CAST(COALESCE(SUM(b.n) OVER (ORDER BY p.d), 0) AS BIGINT)
               AS overlap_d
      FROM pows p LEFT JOIN bycut b ON b.dmax = p.d
    ), terms AS (
      -- term = 1e6*(1-p)*overlap/d*p^(d-1) = 1e5*overlap*p9/(d*p10),
      -- rounded half-up EXACTLY: round(a/b) = (2a+b) // (2b)
      SELECT d, overlap_d,
             (2 * (100000 * CAST(overlap_d AS HUGEINT) * p9)
              + d * p10) // (2 * d * p10) AS term_micro
      FROM grid
    )
    SELECT d, overlap_d,
           CAST(round(1000.0 * overlap_d / d) AS BIGINT)
             AS agreement_milli,
           CAST(SUM(term_micro) OVER (ORDER BY d) AS BIGINT)
             AS rbo_partial_micro
    FROM terms ORDER BY d
    """,
    tags=("ranking", "eval", "agreement"),
)
def rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between the
    top-{K} parts BY REVENUE and the top-{K} parts BY QUANTITY:
    agreement at depth d is |A_d ∩ B_d|/d, and the truncated
    RBO = (1−p)·Σ_d agreement_d·p^(d−1) (p={P}) reports cumulative
    top-weighted agreement per depth — the measure search evaluation
    uses where Kendall/Spearman (whole-permutation, both in the
    registry) don't apply to non-conjoint top-k lists. Overlaps are
    exact integers via the max(rank_a, rank_b) cut trick (an item
    enters every depth ≥ its later appearance); the geometric weights
    9^(d−1)/10^(d−1) are EXACT integer rationals from a literal
    power table, with round-half-up done as integer algebra
    ((2a+b) div 2b) — libm and JVM pow(0.9, d) disagree in the last
    ulp, which would flip micro-rounding.

    Scale shape: both rankings come from ONE part-grain aggregate,
    topped by TakeOrderedAndProject (never a global sort of the part
    dimension); the rank windows and the depth-grid cumulative sums
    run over ≤{K}-row bounded relations. The lineitem table is
    scanned once (the part agg is shared by both rankings).
    """
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        F.sum(cents("l_extendedprice")).cast("long").alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
    )

    def topk(order_col: str):
        top = agg.orderBy(
            F.col(order_col).desc(), "l_partkey"
        ).limit(_RBO_K)
        w = Window.orderBy(F.col(order_col).desc(), "l_partkey")
        return top.select(
            "l_partkey", F.row_number().over(w).cast("long").alias("rn")
        )

    ra = topk("rev").select(
        "l_partkey", F.col("rn").alias("ra")
    )
    rb = topk("qty").select(
        "l_partkey", F.col("rn").alias("rb")
    )
    shared = ra.join(rb, "l_partkey").select(
        F.greatest("ra", "rb").alias("dmax")
    )
    bycut = shared.groupBy("dmax").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    grid = spark.createDataFrame(_RBO_POWS, "d long, p9 long, p10 long")
    wcum = Window.orderBy("d")
    joined = (
        grid.join(bycut, grid.d == bycut.dmax, "left")
        .select(
            "d",
            "p9",
            "p10",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        .select(
            "d",
            "p9",
            "p10",
            F.coalesce(F.sum("n").over(wcum), F.lit(0))
            .cast("long")
            .alias("overlap_d"),
        )
    )
    # term = 1e5*overlap*9^(d-1)/(d*10^(d-1)) in EXACT integer
    # rationals; round-half-up as (2a+b) div (2b) so no float (and no
    # libm-vs-JVM pow ulp) ever enters the cumulative sum
    a = (
        F.lit(100000).cast("decimal(38,0)")
        * F.col("overlap_d")
        * F.col("p9")
    )
    b = (F.col("d").cast("decimal(38,0)") * F.col("p10")).cast(
        "decimal(38,0)"
    )
    term_micro = F.expr(
        "CAST((2 * rbo_a + rbo_b) div (2 * rbo_b) AS BIGINT)"
    )
    return (
        joined.withColumn("rbo_a", a)
        .withColumn("rbo_b", b)
        .withColumn("term_micro", term_micro)
        .select(
            "d",
            "overlap_d",
            F.round(1000.0 * F.col("overlap_d") / F.col("d"))
            .cast("long")
            .alias("agreement_milli"),
            F.sum("term_micro")
            .over(wcum)
            .cast("long")
            .alias("rbo_partial_micro"),
        )
    )


rbo_rank_agreement.__doc__ = (
    rbo_rank_agreement.__doc__.replace("{K}", str(_RBO_K))
    .replace("{P}", str(_RBO_P))
)


# --------------------------------------------------------------------
# nDCG retrieval-quality audit (graded-relevance ranking metric).
# --------------------------------------------------------------------
# The fixed (qid, term) rows of the nDCG and AP audits: the two metrics
# are meant to be read side by side over the same ranking.
_QUERY_TERMS = [
    (1, "spark"), (1, "join"), (1, "merge"),
    (2, "scan"), (2, "filter"), (2, "column"),
    (3, "stream"), (3, "window"), (3, "batch"),
]
_NDCG_K = 10


# The query rows q and the per (query, doc, term) term frequencies of
# their terms: the first CTEs of the retrieval-audit oracles.
_SQL_QUERY_ROWS = " UNION ALL ".join(
    f"SELECT {qid} AS qid, '{term}' AS term" for qid, term in _QUERY_TERMS
)
_SQL_TERM_HITS = f"""q AS ({_SQL_QUERY_ROWS}),
    tok AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS w FROM documents
    ), hits AS (
      SELECT q.qid, tok.doc_id, q.term,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok JOIN q ON q.term = tok.w
      GROUP BY q.qid, tok.doc_id, q.term
    )"""


def _term_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, doc_id, term, tf) of the audit query terms over
    ``documents``: the Spark side of ``_SQL_TERM_HITS``."""
    q = spark.createDataFrame(_QUERY_TERMS, "qid long, term string")
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(words("text")).alias("w")
    )
    return (
        tok.join(F.broadcast(q), F.col("term") == F.col("w"))
        .groupBy("qid", "doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def _ndcg_oracle() -> str:
    return f"""
    WITH {_SQL_TERM_HITS}, scored AS (
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
    scored = _term_hits(spark, sf_dir).groupBy("qid", "doc_id").agg(
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


_MAP_REL = 2  # binary relevance: doc contains >= 2 distinct terms


def _map_oracle() -> str:
    return f"""
    WITH {_SQL_TERM_HITS}, scored AS (
      SELECT qid, doc_id,
             CAST(SUM(tf) AS BIGINT) AS tf_sum,
             CASE WHEN COUNT(*) >= {_MAP_REL} THEN 1 ELSE 0 END AS rel
      FROM hits GROUP BY qid, doc_id
    ), ranked AS (
      SELECT qid, rel,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY tf_sum DESC, doc_id) AS pos
      FROM scored
    ), cum AS (
      SELECT qid, rel, pos,
             SUM(rel) OVER (PARTITION BY qid ORDER BY pos) AS cum_rel
      FROM ranked
    ), pk AS (
      SELECT qid,
             CAST(SUM(CASE WHEN rel = 1 THEN
               CAST(round(1000000.0 * cum_rel / pos) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS ap_num,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM cum GROUP BY qid
    )
    SELECT CAST(qid AS BIGINT) AS qid, n_candidates, n_rel,
           CAST(round(CAST(ap_num AS DOUBLE) / n_rel) AS BIGINT)
             AS ap_micro
    FROM pk WHERE n_rel > 0 ORDER BY qid
    """


@register(
    "map_retrieval_audit",
    _map_oracle(),
    tags=("llm", "retrieval", "eval", "search"),
)
def map_retrieval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision per fixed query (the per-query summand of
    MAP): rank candidates by term-frequency score, call a document
    RELEVANT when it contains ≥{R} distinct query terms, and compute
    AP = (1/R_q)·Σ_{{relevant positions k}} P@k — the binary-
    relevance twin of `ndcg_retrieval_audit` over the SAME ranking
    (read together: nDCG grades positions, AP grades early
    precision). Every P@k = cum_rel/pos is quantized to integer
    micro BEFORE the per-query sum (a float Σ over candidates is
    partition-order-dependent), then one exact integer sum divides
    by the relevant count.

    Scale shape: fixed query terms broadcast onto the exploded token
    stream; per-(query, doc) scores map-side-combine; rank and
    cumulative windows partition by query id over the MATCHING
    candidate set only (never the corpus); output is #queries rows.
    """
    scored = _term_hits(spark, sf_dir).groupBy("qid", "doc_id").agg(
        F.sum("tf").cast("long").alias("tf_sum"),
        F.when(F.count(F.lit(1)) >= _MAP_REL, 1).otherwise(0).alias("rel"),
    )
    wq = Window.partitionBy("qid")
    ranked = scored.select(
        "qid",
        "rel",
        F.row_number()
        .over(wq.orderBy(F.col("tf_sum").desc(), "doc_id"))
        .alias("pos"),
    )
    cum = ranked.select(
        "qid",
        "rel",
        "pos",
        F.sum("rel").over(wq.orderBy("pos")).alias("cum_rel"),
    )
    p_at_k_micro = F.round(
        1000000.0 * F.col("cum_rel") / F.col("pos")
    ).cast("long")
    pk = cum.groupBy("qid").agg(
        F.sum(
            F.when(F.col("rel") == 1, p_at_k_micro).otherwise(0)
        )
        .cast("long")
        .alias("ap_num"),
        F.sum("rel").cast("long").alias("n_rel"),
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
    )
    return (
        pk.filter(F.col("n_rel") > 0)
        .select(
            F.col("qid").cast("long").alias("qid"),
            "n_candidates",
            "n_rel",
            F.round(F.col("ap_num").cast("double") / F.col("n_rel"))
            .cast("long")
            .alias("ap_micro"),
        )
    )


map_retrieval_audit.__doc__ = map_retrieval_audit.__doc__.replace(
    "{R}", str(_MAP_REL)
)


# Integer micro-coordinates in [0, 1e6): the first 8 md5 hex chars
# of 'lat:<key>' / 'lon:<key>' mod 1e6 (the geo_radius bridge,
# without the degree offset — containment only needs the box).
_BOX = 1_000_000


def _ucoord_sql(which: str, key: str) -> str:
    return (
        f"(('0x' || substring(md5('{which}:' || CAST({key} AS VARCHAR)),"
        f" 1, 8))::BIGINT % {_BOX})"
    )


def _ucoord_col(which: str, key) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{which}:"), key.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _BOX
    )


# Three fixed zones (integer vertices, counter-clockwise): a big
# lower-left triangle, an upper-right square, and a mid strip
# rectangle. Overlaps resolved by priority = lowest poly_id wins.
_POLYGONS = {
    1: [(0, 0), (600_000, 0), (0, 600_000)],
    2: [(550_000, 550_000), (1_000_000, 550_000),
        (1_000_000, 1_000_000), (550_000, 1_000_000)],
    3: [(0, 620_000), (540_000, 620_000),
        (540_000, 980_000), (0, 980_000)],
}


def _edges():
    rows = []
    for pid, verts in _POLYGONS.items():
        for i, (x1, y1) in enumerate(verts):
            x2, y2 = verts[(i + 1) % len(verts)]
            rows.append((pid, x1, y1, x2, y2))
    return rows


_EDGES_SQL = ", ".join(
    f"({p}, {x1}, {y1}, {x2}, {y2})" for p, x1, y1, x2, y2 in _edges()
)


@register(
    "point_in_polygon_assignment",
    f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_ucoord_sql('lat', 'c_custkey')} AS px,
             {_ucoord_sql('lon', 'c_custkey')} AS py
      FROM customer
    ), edges_raw(pid0, x10, y10, x20, y20) AS (
      VALUES {_EDGES_SQL}
    ), edges AS (
      -- VALUES literals land as INT32; the crossing products need
      -- 64-bit room (1e6 * 1e6)
      SELECT CAST(pid0 AS BIGINT) AS pid, CAST(x10 AS BIGINT) AS x1,
             CAST(y10 AS BIGINT) AS y1, CAST(x20 AS BIGINT) AS x2,
             CAST(y20 AS BIGINT) AS y2
      FROM edges_raw
    ), crossings AS (
      SELECT p.id, e.pid,
             CAST(SUM(CASE WHEN (y1 > py) <> (y2 > py)
               AND ((x1 * (y2 - y1) + (x2 - x1) * (py - y1)
                     - px * (y2 - y1))
                    * (CASE WHEN y2 > y1 THEN 1 ELSE -1 END)) > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
      FROM pts p CROSS JOIN edges e
      GROUP BY p.id, e.pid
    ), assigned AS (
      SELECT id, COALESCE(MIN(CASE WHEN n_cross % 2 = 1
                                   THEN pid END), 0) AS zone
      FROM crossings GROUP BY id
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM assigned
    )
    SELECT CAST(a.zone AS BIGINT) AS zone,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(round(1000.0 * COUNT(*) / tot.n_all) AS BIGINT)
             AS share_milli
    FROM assigned a CROSS JOIN tot
    GROUP BY a.zone, tot.n_all ORDER BY zone
    """,
    tags=("spatial", "join", "containment"),
)
def point_in_polygon_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zone assignment by point-in-polygon ray casting over three
    fixed integer-vertex zones (triangle, square, rectangle in the
    1e6-unit box; overlap resolved by lowest zone id; zone 0 =
    outside all): a horizontal ray from the point crosses edge
    (x1,y1)-(x2,y2) iff the edge straddles py AND the point lies
    left of the intersection — decided by the SIGN of the integer
    cross product (x1·dy + dx·(py−y1) − px·dy)·sign(dy), so the
    classic float-epsilon failure mode of geometry joins simply
    cannot occur (products ≤ 1e6·1e6 fit int64 with room). Output is
    the zone census with corpus shares.

    Scale shape: the fixed edge table (11 edges) fans each point out
    a constant ×11 (the EWMA bounded-explode discipline — at 100 TB
    with many polygons, block by cell first and join only candidate
    zones); two map-side-combined aggs and a 1-row total broadcast.
    """
    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _ucoord_col("lat", F.col("c_custkey")).alias("px"),
        _ucoord_col("lon", F.col("c_custkey")).alias("py"),
    )
    edges = spark.createDataFrame(
        _edges(), "pid long, x1 long, y1 long, x2 long, y2 long"
    )
    dy = F.col("y2") - F.col("y1")
    straddles = (F.col("y1") > F.col("py")) != (
        F.col("y2") > F.col("py")
    )
    # exact integer "point is left of the edge/ray intersection"
    lhs = (
        F.col("x1") * dy
        + (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1"))
        - F.col("px") * dy
    ) * F.when(dy > 0, 1).otherwise(-1)
    crossings = (
        pts.crossJoin(F.broadcast(edges))
        .groupBy("id", "pid")
        .agg(
            F.sum(
                F.when(straddles & (lhs > 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_cross")
        )
    )
    assigned = crossings.groupBy("id").agg(
        F.coalesce(
            F.min(
                F.when(F.col("n_cross") % 2 == 1, F.col("pid"))
            ),
            F.lit(0),
        ).alias("zone")
    )
    # persisted: the per-zone counts (one row per polygon + the
    # outside bucket) feed both the share denominator and the final
    # projection — deriving the total from THIS summary instead of a
    # second assigned.agg() halves the point×edge crossing passes
    # (static audit: 4 scans -> 2)
    per_zone = (
        assigned.groupBy("zone")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .persist()
    )
    tot = per_zone.agg(F.sum("n_points").cast("long").alias("n_all"))
    return (
        per_zone
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("zone").cast("long").alias("zone"),
            "n_points",
            F.round(1000.0 * F.col("n_points") / F.col("n_all"))
            .cast("long")
            .alias("share_milli"),
        )
    )


# ------------------------------------------------------------------
# Quadkey rollup at three zoom levels.
# ------------------------------------------------------------------
_QK_LEVELS = 3


@register(
    "quadkey_spatial_rollup",
    f"""
    WITH pts AS (
      SELECT {_ucoord_sql('lat', 'c_custkey')} AS px,
             {_ucoord_sql('lon', 'c_custkey')} AS py
      FROM customer
    ), keyed AS (
      SELECT
        CAST((px * 2) // {_BOX} AS BIGINT) AS xb1,
        CAST((py * 2) // {_BOX} AS BIGINT) AS yb1,
        CAST((px * 4) // {_BOX} AS BIGINT) AS xb2,
        CAST((py * 4) // {_BOX} AS BIGINT) AS yb2,
        CAST((px * 8) // {_BOX} AS BIGINT) AS xb3,
        CAST((py * 8) // {_BOX} AS BIGINT) AS yb3
      FROM pts
    ), digits AS (
      SELECT CAST(2 * yb1 + xb1 AS VARCHAR) AS d1,
             CAST(2 * (yb2 % 2) + (xb2 % 2) AS VARCHAR) AS d2,
             CAST(2 * (yb3 % 2) + (xb3 % 2) AS VARCHAR) AS d3
      FROM keyed
    ), lv AS (
      SELECT 1 AS level, d1 AS quadkey FROM digits
      UNION ALL
      SELECT 2, d1 || d2 FROM digits
      UNION ALL
      SELECT 3, d1 || d2 || d3 FROM digits
    )
    SELECT CAST(level AS BIGINT) AS level, quadkey,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM lv GROUP BY level, quadkey
    ORDER BY level, quadkey
    """,
    tags=("spatial", "rollup", "hierarchy"),
)
def quadkey_spatial_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadkey density rollup (the Bing-maps tiling scheme; the
    H3/S2 shape) at zoom levels 1-{L}: each level-L digit interleaves
    one x bit and one y bit of the integer micro-coordinates
    (digit = 2·y_bit + x_bit, so child cells share their parent's
    prefix — a coarser census is always a prefix aggregation of a
    finer one, never a rescan). Bits come from exact integer
    floor-division of the 1e6-unit coordinates; no floats anywhere.

    Scale shape: one row-local key derivation, a constant ×{L}
    level fan-out, and one map-side-combined groupBy(level, quadkey)
    whose cardinality is bounded by 4^{L} cells per level — a single
    scan at any data size.
    """
    pts = t(spark, sf_dir, "customer").select(
        _ucoord_col("lat", F.col("c_custkey")).alias("px"),
        _ucoord_col("lon", F.col("c_custkey")).alias("py"),
    )
    xb = lambda k: F.expr(f"(px * {2 ** k}) div {_BOX}")
    yb = lambda k: F.expr(f"(py * {2 ** k}) div {_BOX}")
    digits = pts.select(
        (2 * yb(1) + xb(1)).cast("string").alias("d1"),
        (2 * (yb(2) % 2) + (xb(2) % 2)).cast("string").alias("d2"),
        (2 * (yb(3) % 2) + (xb(3) % 2)).cast("string").alias("d3"),
    )
    lv = (
        digits.select(
            F.lit(1).alias("level"), F.col("d1").alias("quadkey")
        )
        .unionAll(
            digits.select(
                F.lit(2).alias("level"),
                F.concat("d1", "d2").alias("quadkey"),
            )
        )
        .unionAll(
            digits.select(
                F.lit(3).alias("level"),
                F.concat("d1", "d2", "d3").alias("quadkey"),
            )
        )
    )
    return (
        lv.groupBy("level", "quadkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .select(
            F.col("level").cast("long").alias("level"),
            "quadkey",
            "n_points",
        )
    )


quadkey_spatial_rollup.__doc__ = quadkey_spatial_rollup.__doc__.replace(
    "{L}", str(_QK_LEVELS)
)


_TERMS = ("spark", "window", "customer", "vector")


def _term_trigrams(term: str) -> list[str]:
    return [term[i : i + 3] for i in range(len(term) - 2)]


def _qtris_sql() -> str:
    """DuckDB VALUES list of (term, tri, n_tris) rows."""
    rows = []
    for term in _TERMS:
        tris = sorted(set(_term_trigrams(term)))
        for tri in tris:
            rows.append(f"('{term}', '{tri}', {len(tris)})")
    return ", ".join(rows)


@register(
    "trigram_index_search",
    f"""
    WITH folded AS (
      -- fold ONCE per row: an inline translate() in the per-position
      -- lambda re-evaluates per trigram, O(len) per position (r10
      -- perf A/B: 1.6x on the posting build)
      SELECT doc_id, translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS txt FROM documents
    ), postings AS (
      SELECT DISTINCT doc_id, unnest(list_distinct(
               list_transform(range(1, length(txt) - 1),
                              i -> substring(txt, i, 3)))) AS tri
      FROM folded
    ), qtris(term, tri, n_tris) AS (
      VALUES {_qtris_sql()}
    ), cand AS (
      SELECT q.term, p.doc_id
      FROM postings p JOIN qtris q ON q.tri = p.tri
      GROUP BY q.term, p.doc_id, q.n_tris
      HAVING COUNT(DISTINCT p.tri) = q.n_tris
    )
    SELECT c.term,
           COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN instr(d.txt, c.term) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
           CAST(round(1000.0 * SUM(CASE WHEN instr(d.txt, c.term) > 0
                                        THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS precision_milli
    FROM cand c JOIN folded d ON d.doc_id = c.doc_id
    GROUP BY c.term
    ORDER BY c.term
    """,
    tags=("search", "index", "text"),
)
def trigram_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search over a trigram inverted index: index each
    document's distinct character trigrams, intersect posting lists
    for each search term's trigram set (candidate iff the doc holds
    ALL of them), verify candidates with the exact substring test,
    and report per-term candidate count, verified count, and
    candidate precision in milli.

    Scale shape — why an index beats LIKE at 100 TB: the posting
    build is one explode + distinct (map-side-combined, shuffled on
    the trigram key — and built ONCE, amortized over every future
    query); each search intersects only the postings of the term's
    trigrams (broadcast ~10-row term table joined into the posting
    stream), so work is proportional to posting-list length, not
    corpus bytes; the expensive exact verify touches candidates
    only. Rare-trigram-first pruning and per-trigram posting caps
    are the standard refinements; the plan shape is unchanged.
    """
    from filemapreduce_spark.operators.textops import ascii_fold

    # fold ONCE per row (projected column): an inline translate() in
    # the transform lambda re-evaluates per trigram position
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", ascii_fold("text").alias("txt")
    )
    postings = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                # guard: Spark's sequence(1, stop) counts DOWN when
                # stop < 1 (sequence(1,0) = [1,0]), so docs shorter
                # than 3 chars must yield an EMPTY trigram set, not
                # phantom 1-2-char fragments
                F.expr(
                    "CASE WHEN length(txt) >= 3 THEN"
                    " transform(sequence(1, length(txt) - 2),"
                    " i -> substring(txt, i, 3))"
                    " ELSE array() END"
                )
            )
        ).alias("tri"),
    )

    qrows = []
    for term in _TERMS:
        tris = sorted(set(_term_trigrams(term)))
        for tri in tris:
            qrows.append(
                F.struct(
                    F.lit(term).alias("term"),
                    F.lit(tri).alias("tri"),
                    F.lit(len(tris)).alias("n_tris"),
                )
            )
    qtris = spark.range(1).select(
        F.explode(F.array(*qrows)).alias("q")
    ).select("q.term", "q.tri", "q.n_tris")

    cand = (
        postings.join(F.broadcast(qtris), "tri")
        .groupBy("term", "doc_id", "n_tris")
        .agg(F.countDistinct("tri").alias("hit_tris"))
        .where(F.col("hit_tris") == F.col("n_tris"))
        .select("term", "doc_id")
    )
    verified = F.sum(
        F.when(F.expr("instr(txt, term)") > 0, 1).otherwise(0)
    ).cast("long")
    return (
        cand.join(docs, "doc_id")
        .groupBy("term")
        .agg(
            F.count("*").alias("n_candidates"),
            verified.alias("n_verified"),
            F.round(
                1000.0
                * F.sum(
                    F.when(F.expr("instr(txt, term)") > 0, 1).otherwise(0)
                )
                / F.count("*")
            )
            .cast("long")
            .alias("precision_milli"),
        )
    )


# --------------------------------------------------------------------
# BM25 ranked retrieval over the inverted index.
# --------------------------------------------------------------------
_BM25_TERMS = ("spark", "window", "hash")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


@register(
    "bm25_search_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_WORDS}) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(CAST(dlen AS DOUBLE)) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('{"', '".join(_BM25_TERMS)}')
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), scored AS (
      SELECT t.doc_id,
             SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (t.tf * ({_BM25_K1} + 1.0))
                 / (t.tf + {_BM25_K1}
                    * (1.0 - {_BM25_B}
                       + {_BM25_B} * l.dlen / s.avgdl))) AS score
      FROM tf t
      JOIN df d ON d.tok = t.tok
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    )
    SELECT doc_id, round(score, 6) AS bm25
    FROM (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id)
               AS rn
      FROM scored
    ) WHERE rn <= {_BM25_TOPK}
    ORDER BY bm25 DESC, doc_id
    """,
    tags=("search", "ranking", "text"),
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson–Spärck Jones, k1=1.2, b=0.75)
    for a fixed 3-term query: classic idf × saturated-tf ×
    length-normalized scoring, top-10 documents — the baseline every
    retrieval system is benchmarked against, and the scoring half the
    trigram index's candidate generation feeds in a real search
    stack.

    Exactness: tf/df/doc-length are exact integers; the score is the
    one float chain (ln + fixed-order arithmetic), rounded to 6 dp
    BEFORE ranking so the rank comparison is on identical values,
    ties by doc_id.

    Scale: ONE corpus scan — per-doc length and the 3 query-term
    frequencies are row-local array ops (no token explode, no
    doc-grained shuffle to rebuild dlen), persisted as a 4-int-per-doc
    summary that every downstream branch (stats, df, scoring) reads;
    df is 3 rows; the corpus stats are one 1-row broadcast. The final
    top-k is WindowGroupLimit/TakeOrdered-pruned — no global sort of
    scores. (Round-5 plan audit counted 4 corpus scans / 11 exchanges
    for the explode-twice shape this replaced.)
    """
    from filemapreduce_spark.operators.textops import words

    # the BM25 corpus is the TOKEN-BEARING documents: the oracle's
    # token explode naturally excludes textless docs from n_docs and
    # avgdl (r9 text-null probe) AND empty-token docs — text='' or
    # whitespace-only (r10 unicode axis) — while an unfiltered count
    # inflated n_docs and shifted every idf
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    per_doc = (
        docs.select(
            "doc_id",
            F.size(words(F.col("text"))).cast("long").alias("dlen"),
            *[
                F.size(
                    F.filter(
                        words(F.col("text")), lambda w: w == F.lit(term)
                    )
                )
                .cast("long")
                .alias(f"tf_{i}")
                for i, term in enumerate(_BM25_TERMS)
            ],
        )
        .where(F.col("dlen") >= 1)
        .persist()
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("dlen").cast("double")).alias("avgdl"),
    )
    stack_expr = "stack({}, {}) AS (tok, tf)".format(
        len(_BM25_TERMS),
        ", ".join(
            f"'{term}', tf_{i}" for i, term in enumerate(_BM25_TERMS)
        ),
    )
    tf = per_doc.select("doc_id", "dlen", F.expr(stack_expr)).where(
        F.col("tf") > 0
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfnorm = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1
        * (1.0 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tfnorm).alias("score"))
    )
    from pyspark.sql import Window

    ranked = scored.select(
        "doc_id", F.round("score", 6).alias("bm25")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
        ),
    )
    return (
        ranked.where(F.col("rn") <= _BM25_TOPK)
        .select("doc_id", "bm25")
    )
