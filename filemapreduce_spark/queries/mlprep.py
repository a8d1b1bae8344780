"""ML feature-prep operators: RFM quintile segmentation, leave-one-out
target encoding, and hard-negative mining.

The feature-engineering steps between a relational store and a model:
score customers on recency/frequency/monetary quintiles (the classic
CRM segmentation), encode a categorical column by its target mean
WITHOUT self-leakage (leave-one-out), and mine the hard negatives
(most-similar items with a different label) contrastive training
feeds on. All exact arithmetic; all broadcast-small model state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.operators.vectors import dot, norm, to_double
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_ASOF = "2024-01-31"


# --------------------------------------------------------------------
# RFM quintile segmentation (threshold-broadcast, no global ntile).
# --------------------------------------------------------------------
@register(
    "rfm_quintile_segments",
    f"""
    WITH rfm AS (
      SELECT user_id,
             date_diff('day', MAX(CAST(ts AS DATE)), DATE '{_ASOF}')
               AS r_days,
             COUNT(*) AS f_events,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
               AS m_cents
      FROM events GROUP BY user_id
    ), th AS (
      SELECT quantile_disc(r_days, [0.2, 0.4, 0.6, 0.8]) AS tr,
             quantile_disc(f_events, [0.2, 0.4, 0.6, 0.8]) AS tf,
             quantile_disc(m_cents, [0.2, 0.4, 0.6, 0.8]) AS tm
      FROM rfm
    ), scored AS (
      SELECT CAST(1 + (CASE WHEN r_days > tr[1] THEN 1 ELSE 0 END)
                    + (CASE WHEN r_days > tr[2] THEN 1 ELSE 0 END)
                    + (CASE WHEN r_days > tr[3] THEN 1 ELSE 0 END)
                    + (CASE WHEN r_days > tr[4] THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_score,
             CAST(1 + (CASE WHEN f_events > tf[1] THEN 1 ELSE 0 END)
                    + (CASE WHEN f_events > tf[2] THEN 1 ELSE 0 END)
                    + (CASE WHEN f_events > tf[3] THEN 1 ELSE 0 END)
                    + (CASE WHEN f_events > tf[4] THEN 1 ELSE 0 END)
                  AS BIGINT) AS f_score,
             CAST(1 + (CASE WHEN m_cents > tm[1] THEN 1 ELSE 0 END)
                    + (CASE WHEN m_cents > tm[2] THEN 1 ELSE 0 END)
                    + (CASE WHEN m_cents > tm[3] THEN 1 ELSE 0 END)
                    + (CASE WHEN m_cents > tm[4] THEN 1 ELSE 0 END)
                  AS BIGINT) AS m_score,
             m_cents
      FROM rfm CROSS JOIN th
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_users,
           CAST(SUM(m_cents) AS BIGINT) AS segment_cents
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    tags=("ml", "segmentation", "stats"),
)
def rfm_quintile_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user compute Recency (days since last
    event at the as-of date), Frequency (event count), Monetary
    (value sum in cents); quintile-score each dimension against
    exact discrete 20/40/60/80th-percentile thresholds; report users
    and monetary mass per (R,F,M) cell — the classic CRM cube.

    Scale — the reason for the threshold-broadcast shape: a global
    ntile(5) would sort every user on one task. Instead the
    thresholds are ONE 1-row exact-percentile aggregate (discrete →
    integer → hash-safe) broadcast back over the user summary, and
    scoring is row-local comparisons. The per-user summary is one
    map-side-combined agg; nothing global ever sees raw events.
    """
    e = t(spark, sf_dir, "events")
    asof = F.lit(_ASOF).cast("date")
    rfm = e.groupBy("user_id").agg(
        F.datediff(asof, F.max(F.col("ts").cast("date"))).alias("r_days"),
        F.count("*").alias("f_events"),
        F.sum(cents("value")).cast("long").alias("m_cents"),
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    th = rfm.agg(
        F.expr(
            f"percentile_disc(array({','.join(map(str, qs))}))"
            " WITHIN GROUP (ORDER BY r_days)"
        ).alias("tr"),
        F.expr(
            f"percentile_disc(array({','.join(map(str, qs))}))"
            " WITHIN GROUP (ORDER BY f_events)"
        ).alias("tf"),
        F.expr(
            f"percentile_disc(array({','.join(map(str, qs))}))"
            " WITHIN GROUP (ORDER BY m_cents)"
        ).alias("tm"),
    )

    def score(metric: str, th_col: str):
        s = F.lit(1)
        for i in range(4):
            s = s + F.when(
                F.col(metric) > F.col(th_col)[i], 1
            ).otherwise(0)
        return s.cast("long")

    scored = rfm.crossJoin(F.broadcast(th)).select(
        score("r_days", "tr").alias("r_score"),
        score("f_events", "tf").alias("f_score"),
        score("m_cents", "tm").alias("m_score"),
        "m_cents",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("m_cents").cast("long").alias("segment_cents"),
        )
    )


# --------------------------------------------------------------------
# Leave-one-out target encoding (no self-leakage).
# --------------------------------------------------------------------
@register(
    "loo_target_encoding",
    """
    WITH stats AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS s
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           CASE WHEN st.n > 1
                THEN CAST(round(CAST(1000 AS DOUBLE)
                       * (st.s - CAST(round(o.o_totalprice*100) AS BIGINT))
                       / (st.n - 1)) AS BIGINT)
                ELSE NULL END AS loo_milli
    FROM orders o JOIN stats st USING (o_orderpriority)
    ORDER BY o.o_orderkey
    """,
    tags=("ml", "encoding"),
)
def loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value: each row is encoded with the mean target of its category
    EXCLUDING itself — (S − x)/(n − 1) — the standard high-cardinality
    categorical encoding that avoids leaking a row's own label into
    its feature (Micci-Barreca 2001's LOO variant). Singleton
    categories encode NULL.

    Exactness: S and x are integer cents; the one division is the
    final derived double, milli-rounded identically in the oracle.

    Scale: category stats are one map-side-combined agg broadcast
    back over the fact table — encoding is a broadcast-join map, no
    per-row window, no shuffle of the facts. The same (n, S) state
    also serves fold-wise or time-sliced encodings by subtracting
    partial sums.
    """
    o = t(spark, sf_dir, "orders")
    stats = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(cents("o_totalprice")).cast("long").alias("s"),
    )
    x = cents("o_totalprice")
    return (
        o.join(F.broadcast(stats), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("n") > 1,
                F.round(
                    1000.0 * (F.col("s") - x) / (F.col("n") - 1)
                ).cast("long"),
            ).alias("loo_milli"),
        )
    )


# --------------------------------------------------------------------
# Hard-negative mining (nearest neighbors with a DIFFERENT label).
# --------------------------------------------------------------------
_HN_K = 3
_QUERY_MOD = 50

_COS_AB = """
    round(
      list_sum(list_transform(range(1, 65), i -> qa[i]::DOUBLE * cb[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> qa[i]::DOUBLE * qa[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> cb[i]::DOUBLE * cb[i]::DOUBLE)))),
      6)
"""


@register(
    "hard_negative_mining",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlabel, embedding AS qa
      FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0
    ), c AS (
      SELECT vec_id AS neg_id, label AS clabel, embedding AS cb
      FROM embeddings
    ), scored AS (
      SELECT query_id, neg_id, {_COS_AB} AS cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {_COS_AB} DESC, neg_id) AS rank
      FROM q JOIN c ON q.qlabel != c.clabel
    )
    SELECT query_id, neg_id, cos, CAST(rank AS BIGINT) AS rank
    FROM scored WHERE rank <= {_HN_K}
    ORDER BY query_id, rank
    """,
    tags=("ml", "ann", "embedding", "llm"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-3 most-similar corpus vectors with a DIFFERENT
    label — the negatives that sit closest to the decision boundary
    and carry most of the gradient signal (in-batch random negatives
    are mostly easy; mined hard negatives are what dense retrievers
    like DPR/ANCE train on).

    Scale shape: the query side (a deterministic id-sampled slice) is
    BROADCAST; the corpus streams once — no shuffle of the corpus,
    and the per-query top-k is a query-partitioned window that
    WindowGroupLimit prunes to k per task. At 100 TB swap the scored
    cross stream for the registry's IVF probe (same output contract)
    once |queries|×|corpus| outgrows one pass.
    """
    emb = t(spark, sf_dir, "embeddings")
    # r11: norms once per vector per side — the scoring used to fold
    # both norms per (query, candidate) pair; identical double ops
    q = emb.where(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        to_double(F.col("embedding")).alias("qa"),
    ).withColumn("qn", norm(F.col("qa")))
    c = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("clabel"),
        to_double(F.col("embedding")).alias("cb"),
    ).withColumn("cn", norm(F.col("cb")))
    scored = (
        c.join(F.broadcast(q), F.col("qlabel") != F.col("clabel"))
        .select(
            "query_id",
            "neg_id",
            F.round(
                dot(F.col("qa"), F.col("cb"))
                / (F.col("qn") * F.col("cn")),
                6,
            ).alias("cos"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), F.col("neg_id")
                )
            ),
        )
    )
    return (
        scored.where(F.col("rank") <= _HN_K)
        .select("query_id", "neg_id", "cos", F.col("rank").cast("long"))
    )


# --------------------------------------------------------------------
# Class-balanced downsampling (exact equal-per-label subset).
# --------------------------------------------------------------------
@register(
    "class_balance_downsample",
    """
    WITH counts AS (
      SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
    ), m AS (
      SELECT MIN(n) AS m FROM counts
    ), ranked AS (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY md5('bal:' || CAST(vec_id AS VARCHAR)), vec_id)
               AS rn
      FROM embeddings
    )
    SELECT r.label,
           CAST(c.n AS BIGINT) AS n_orig,
           COUNT(*) AS n_kept,
           CAST(bit_xor(('0x' || substring(md5(CAST(r.vec_id AS VARCHAR)),
                                           1, 15))::BIGINT) AS BIGINT)
             AS kept_set_checksum
    FROM ranked r
    JOIN counts c ON c.label = r.label
    CROSS JOIN m
    WHERE r.rn <= m.m
    GROUP BY r.label, c.n
    ORDER BY r.label
    """,
    tags=("ml", "sampling", "balance"),
)
def class_balance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: undersample every label to the
    minority class's exact count, selecting rows by a deterministic
    md5 order (reproducible 'random' subset, no RNG state). The
    per-label XOR checksum of kept ids proves both engines select the
    IDENTICAL subset, not merely equally-sized ones — XOR is
    order-independent and mergeable, so the checksum also serves as
    the audit state for incremental rebalancing.

    Scale: per-label rank windows on one label shuffle
    (WindowGroupLimit prunes past the cutoff); the minority size is a
    1-row aggregate broadcast. At 100 TB prefer the registry's
    fixed-k md5 top-k sampler per label — same semantics, same plan.
    """
    emb = t(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count("*").alias("n"))
    m = counts.agg(F.min("n").alias("m"))
    ranked = emb.select(
        "label",
        "vec_id",
        F.row_number()
        .over(
            Window.partitionBy("label").orderBy(
                F.md5(F.concat(F.lit("bal:"), F.col("vec_id").cast("string"))),
                "vec_id",
            )
        )
        .alias("rn"),
    )
    kept = (
        ranked.join(F.broadcast(m))
        .where(F.col("rn") <= F.col("m"))
        .join(F.broadcast(counts), "label")
    )
    vid_hash = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        kept.groupBy("label", "n")
        .agg(
            F.count("*").alias("n_kept"),
            F.expr(
                "bit_xor(CAST(conv(substring(md5(CAST(vec_id AS STRING)),"
                " 1, 15), 16, 10) AS BIGINT))"
            ).alias("kept_set_checksum"),
        )
        .select(
            "label",
            F.col("n").cast("long").alias("n_orig"),
            "n_kept",
            "kept_set_checksum",
        )
    )


# --------------------------------------------------------------------
# Group-aware K-fold assignment (no group straddles folds).
# --------------------------------------------------------------------
_N_FOLDS = 5


@register(
    "group_kfold_assignment",
    f"""
    WITH assigned AS (
      SELECT user_id,
             ('0x' || substring(md5('fold:' || CAST(user_id AS VARCHAR)),
                                1, 8))::BIGINT % {_N_FOLDS} AS fold
      FROM (SELECT DISTINCT user_id FROM events)
    ), joined AS (
      SELECT a.fold, e.user_id FROM events e
      JOIN assigned a ON a.user_id = e.user_id
    ), leak AS (
      SELECT CAST(MAX(nf) AS BIGINT) AS max_folds_per_user
      FROM (SELECT user_id, COUNT(DISTINCT fold) AS nf
            FROM joined GROUP BY user_id)
    )
    SELECT fold,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_rows,
           l.max_folds_per_user
    FROM joined CROSS JOIN leak l
    GROUP BY fold, l.max_folds_per_user
    ORDER BY fold
    """,
    tags=("ml", "cv", "split"),
)
def group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware K-fold assignment (GroupKFold): every user's rows
    land in exactly one of 5 folds, assigned by a deterministic md5
    hash of the group key — the split that prevents the classic CV
    leak where one entity's rows appear in both train and validation.
    The output carries the leak audit inline: max distinct folds any
    user touches (must be 1 by construction, verified by the oracle).

    Scale: the assignment is row-local hashing on the group key (the
    distinct + join here exists to expose the audit; a production
    pipeline computes fold = hash(group) % K directly in the row
    projection with zero extra shuffles).
    """
    e = t(spark, sf_dir, "events")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _N_FOLDS
    )
    # persisted: the per-user fold table (one row per user) is the
    # broadcast side of BOTH the leak audit and the final fold
    # profile — without the cache each consumer re-ran the events
    # scan + distinct underneath it (static audit: 4 scans -> 2)
    assigned = (
        e.select("user_id")
        .distinct()
        .select("user_id", fold.alias("fold"))
        .persist()
    )
    joined = e.select("user_id").join(F.broadcast(assigned), "user_id")
    leak = (
        joined.groupBy("user_id")
        .agg(F.countDistinct("fold").alias("nf"))
        .agg(F.max("nf").cast("long").alias("max_folds_per_user"))
    )
    return (
        joined.crossJoin(F.broadcast(leak))
        .groupBy("fold", "max_folds_per_user")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "fold", "n_users", "n_rows", "max_folds_per_user"
        )
    )


# --------------------------------------------------------------------
# Decision-stump training in SQL (best Gini split, exact argmin).
# --------------------------------------------------------------------
@register(
    "decision_stump_split",
    """
    WITH pts AS (
      -- a split threshold is over OBSERVED feature values (r9
      -- mixed-null sweep: the NULL grid cell led Spark's cumulative
      -- ordering and trailed DuckDB's)
      SELECT CAST(round(value*100) AS BIGINT) AS c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ), grid AS (
      SELECT c, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS a
      FROM pts GROUP BY c
    ), cum AS (
      SELECT c,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(a) OVER w AS BIGINT) AS al,
             CAST(SUM(n) OVER () AS BIGINT) AS nt,
             CAST(SUM(a) OVER () AS BIGINT) AS at
      FROM grid
      WINDOW w AS (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), costs AS (
      SELECT c, nl, nt - nl AS nr, al, at - al AS ar,
             (CAST(nl AS DOUBLE) * nl - CAST(al AS DOUBLE) * al
              - (CAST(nl AS DOUBLE) - al) * (CAST(nl AS DOUBLE) - al))
               / nl
             + (CAST(nt - nl AS DOUBLE) * (nt - nl)
                - CAST(at - al AS DOUBLE) * (at - al)
                - (CAST(nt - nl AS DOUBLE) - (at - al))
                  * (CAST(nt - nl AS DOUBLE) - (at - al)))
               / (nt - nl) AS cost
      FROM cum WHERE nl < nt
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cost ASC, c ASC) AS rn
      FROM costs
    )
    SELECT c AS split_cents, nl AS n_left, nr AS n_right,
           al AS pos_left, ar AS pos_right,
           CAST(round(1e6 * cost / (nl + nr)) AS BIGINT)
             AS gini_cost_micro
    FROM best WHERE rn = 1
    """,
    tags=("ml", "tree", "training"),
)
def decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training as a query: find the value threshold
    that best separates purchase events from the rest by minimizing
    the weighted Gini impurity — a one-node decision tree trained in
    one pass, the building block of every boosted-tree trainer's
    split search (and exactly the histogram-based split scan
    LightGBM/XGBoost run per feature).

    Determinism across engines: the cost is computed ONLY with
    +, −, ×, / on integers exactly representable in float64 — every
    one an IEEE correctly-rounded op in a fixed expression order —
    so the full-precision argmin (ties → smallest split) matches
    bit-for-bit without any rounding epsilon.

    Scale: raw rows reduce to the distinct-value grid first (the
    histogram trick — bounded by value domain, ~49k cells here, NOT
    row count); one cumulative window over the grid yields every
    candidate split's left/right sufficient statistics at once. The
    n² terms stay exact in float64 up to n ≈ 9.4e7 per side; beyond
    that, band values into coarser histogram bins first (the same
    move the GBM libraries make).
    """
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pts = e.select(
        cents("value").alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grid = pts.groupBy("c").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("a")
    )
    w = (
        Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy()
    cum = grid.select(
        "c",
        F.sum("n").over(w).cast("long").alias("nl"),
        F.sum("a").over(w).cast("long").alias("al"),
        F.sum("n").over(tot).cast("long").alias("nt"),
        F.sum("a").over(tot).cast("long").alias("at"),
    )
    nl = F.col("nl").cast("double")
    al = F.col("al").cast("double")
    nr = (F.col("nt") - F.col("nl")).cast("double")
    ar = (F.col("at") - F.col("al")).cast("double")
    cost = (nl * nl - al * al - (nl - al) * (nl - al)) / F.col("nl") + (
        nr * nr - ar * ar - (nr - ar) * (nr - ar)
    ) / (F.col("nt") - F.col("nl"))
    costs = cum.where(F.col("nl") < F.col("nt")).select(
        "c",
        "nl",
        (F.col("nt") - F.col("nl")).alias("nr"),
        "al",
        (F.col("at") - F.col("al")).alias("ar"),
        cost.alias("cost"),
    )
    best = costs.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("cost").asc(), F.col("c").asc())),
    )
    return best.where(F.col("rn") == 1).select(
        F.col("c").alias("split_cents"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        F.col("al").alias("pos_left"),
        F.col("ar").alias("pos_right"),
        F.round(1e6 * F.col("cost") / (F.col("nl") + F.col("nr")))
        .cast("long")
        .alias("gini_cost_micro"),
    )


# --------------------------------------------------------------------
# Mutual information of categorical features vs a binary label.
# --------------------------------------------------------------------
@register(
    "mutual_information_features",
    """
    WITH lab AS (
      SELECT o_orderpriority, o_orderstatus,
             CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS y
      FROM orders
    ), feats AS (
      SELECT 'o_orderpriority' AS feature, o_orderpriority AS x, y FROM lab
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus, y FROM lab
    ), cells AS (
      SELECT feature, x, y, COUNT(*) AS cxy FROM feats
      GROUP BY feature, x, y
    ), margs AS (
      SELECT feature, x, y, cxy,
             CAST(SUM(cxy) OVER (PARTITION BY feature, x) AS BIGINT) AS cx,
             CAST(SUM(cxy) OVER (PARTITION BY feature, y) AS BIGINT) AS cy,
             CAST(SUM(cxy) OVER (PARTITION BY feature) AS BIGINT) AS n
      FROM cells
    )
    SELECT feature,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           round(SUM((CAST(cxy AS DOUBLE) / n)
                     * ln(CAST(n AS DOUBLE) * cxy
                          / (CAST(cx AS DOUBLE) * cy))), 6) AS mi_nats
    FROM margs
    GROUP BY feature
    ORDER BY feature
    """,
    tags=("ml", "stats", "feature-selection"),
)
def mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between each categorical feature and
    a binary high-value label — the standard filter-method feature
    ranking (how many nats of label uncertainty the feature removes).
    Contingency cells and marginals are exact integers; the Σ p·ln
    term is the one float sum, rounded to 6 dp for cross-engine
    parity (same contract as the entropy operator).

    Scale: one map-side-combined cell count per feature (cells =
    |X|×2, tiny); marginals come from windows OVER THE CELL SUMMARY,
    never the fact table. Features share one unioned scan.
    """
    o = t(spark, sf_dir, "orders")
    lab = o.select(
        "o_orderpriority",
        "o_orderstatus",
        F.when(F.col("o_totalprice") > 250000, 1).otherwise(0).alias("y"),
    )
    feats = lab.select(
        F.lit("o_orderpriority").alias("feature"),
        F.col("o_orderpriority").alias("x"),
        "y",
    ).unionByName(
        lab.select(
            F.lit("o_orderstatus").alias("feature"),
            F.col("o_orderstatus").alias("x"),
            "y",
        )
    )
    cells = feats.groupBy("feature", "x", "y").agg(
        F.count("*").alias("cxy")
    )
    margs = cells.select(
        "feature",
        "x",
        "y",
        "cxy",
        F.sum("cxy")
        .over(Window.partitionBy("feature", "x"))
        .cast("long")
        .alias("cx"),
        F.sum("cxy")
        .over(Window.partitionBy("feature", "y"))
        .cast("long")
        .alias("cy"),
        F.sum("cxy")
        .over(Window.partitionBy("feature"))
        .cast("long")
        .alias("n"),
    )
    term = (F.col("cxy").cast("double") / F.col("n")) * F.log(
        F.col("n").cast("double")
        * F.col("cxy")
        / (F.col("cx").cast("double") * F.col("cy"))
    )
    return (
        margs.groupBy("feature")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.round(F.sum(term), 6).alias("mi_nats"),
        )
    )


# --------------------------------------------------------------------
# Empirical-Bayes rate shrinkage (m-estimate toward the global prior).
# --------------------------------------------------------------------
_EB_M = 20


@register(
    "empirical_bayes_rate_shrinkage",
    f"""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ), prior AS (
      SELECT CAST(SUM(x) AS BIGINT) AS gx, CAST(SUM(n) AS BIGINT) AS gn
      FROM per_user
    )
    SELECT u.user_id, u.n, u.x,
           CAST(round(1000.0 * u.x / u.n) AS BIGINT) AS raw_milli,
           CAST(round(1000.0
                 * (u.x + {_EB_M} * (CAST(p.gx AS DOUBLE) / p.gn))
                 / (u.n + {_EB_M})) AS BIGINT) AS shrunk_milli
    FROM per_user u CROSS JOIN prior p
    ORDER BY u.user_id
    """,
    tags=("ml", "stats", "smoothing"),
)
def empirical_bayes_rate_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates: the
    m-estimate (x + m·p₀)/(n + m) pulls every user's raw rate toward
    the global prior with pseudo-count m=20 — the standard fix for
    small-sample rate ranking (CTRs, ratings, conversion), where raw
    rates crown the 1-for-1 user over the 90-for-100 one. Raw and
    shrunk rates ride together so the shrinkage is auditable per row.

    Exactness: counts are exact integers; p₀ and the shrunk rate are
    derived doubles with identical op order, milli-rounded.

    Scale: one map-side-combined per-user agg; the prior is a 1-row
    aggregate broadcast back over the user summary — the same
    threshold-broadcast shape as RFM, never a window.
    """
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    prior = per_user.agg(
        F.sum("x").cast("long").alias("gx"),
        F.sum("n").cast("long").alias("gn"),
    )
    j = per_user.crossJoin(F.broadcast(prior))
    p0 = F.col("gx").cast("double") / F.col("gn")
    return j.select(
        "user_id",
        "n",
        "x",
        F.round(1000.0 * F.col("x") / F.col("n")).cast("long").alias(
            "raw_milli"
        ),
        F.round(1000.0 * (F.col("x") + _EB_M * p0) / (F.col("n") + _EB_M))
        .cast("long")
        .alias("shrunk_milli"),
    )


# --------------------------------------------------------------------
# Stratified adjusted difference (Cochran adjustment over strata).
# --------------------------------------------------------------------
@register(
    "stratified_adjusted_difference",
    """
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CASE WHEN MIN(ts) < TIMESTAMP '2024-01-01 06:00:00'
                  THEN 1 ELSE 0 END AS treated
      FROM events GROUP BY user_id
    ), th AS (
      SELECT quantile_disc(n, [0.25, 0.5, 0.75]) AS q FROM per_user
    ), strat AS (
      SELECT u.*,
             CAST((CASE WHEN n > q[1] THEN 1 ELSE 0 END)
                + (CASE WHEN n > q[2] THEN 1 ELSE 0 END)
                + (CASE WHEN n > q[3] THEN 1 ELSE 0 END) AS BIGINT)
               AS stratum
      FROM per_user u CROSS JOIN th
    )
    SELECT stratum,
           CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_treated,
           CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_control,
           CAST(SUM(CASE WHEN treated = 1 THEN x ELSE 0 END) AS BIGINT)
             AS x_treated,
           CAST(SUM(CASE WHEN treated = 0 THEN x ELSE 0 END) AS BIGINT)
             AS x_control,
           CAST(round(1000.0
                 * (CAST(SUM(CASE WHEN treated = 1 THEN x ELSE 0 END)
                         AS DOUBLE)
                      / SUM(CASE WHEN treated = 1 THEN n ELSE 0 END)
                    - CAST(SUM(CASE WHEN treated = 0 THEN x ELSE 0 END)
                           AS DOUBLE)
                      / SUM(CASE WHEN treated = 0 THEN n ELSE 0 END)))
                AS BIGINT) AS rate_diff_milli
    FROM strat
    GROUP BY stratum
    HAVING SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) > 0
       AND SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) > 0
    ORDER BY stratum
    """,
    tags=("ml", "causal", "stats"),
)
def stratified_adjusted_difference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified treatment-control comparison (Cochran 1968): users
    who appeared within the first six hours ('treated' by early
    exposure)
    vs later arrivals, compared on purchase rate WITHIN activity-
    volume strata (quartiles of event count — the confounder: active
    users both appear earlier and purchase more). Each stratum
    reports both arms' exact counts and the within-stratum rate
    difference; the overall adjusted effect is the stratum-size-
    weighted combination of these rows — the simplest honest
    observational adjustment, and the shape propensity stratification
    generalizes.

    Scale: one per-user agg; quartile thresholds are a 1-row exact
    percentile broadcast (the RFM shape); strata reduce map-side.
    Degenerate strata (an empty arm) are excluded.
    """
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.when(
            F.min("ts") < F.lit("2024-01-01 06:00:00").cast("timestamp"),
            1,
        )
        .otherwise(0)
        .alias("treated"),
    )
    th = per_user.agg(
        F.expr(
            "percentile_disc(array(0.25, 0.5, 0.75))"
            " WITHIN GROUP (ORDER BY n)"
        ).alias("q")
    )
    stratum = F.lit(0)
    for i in range(3):
        stratum = stratum + F.when(
            F.col("n") > F.col("q")[i], 1
        ).otherwise(0)
    strat = per_user.crossJoin(F.broadcast(th)).select(
        "n", "x", "treated", stratum.cast("long").alias("stratum")
    )
    t1 = F.col("treated") == 1
    n_t = F.sum(F.when(t1, 1).otherwise(0))
    n_c = F.sum(F.when(~t1, 1).otherwise(0))
    x_t = F.sum(F.when(t1, F.col("x")).otherwise(0))
    x_c = F.sum(F.when(~t1, F.col("x")).otherwise(0))
    ev_t = F.sum(F.when(t1, F.col("n")).otherwise(0))
    ev_c = F.sum(F.when(~t1, F.col("n")).otherwise(0))
    return (
        strat.groupBy("stratum")
        .agg(
            n_t.cast("long").alias("n_treated"),
            n_c.cast("long").alias("n_control"),
            x_t.cast("long").alias("x_treated"),
            x_c.cast("long").alias("x_control"),
            F.round(
                1000.0
                * (x_t.cast("double") / ev_t - x_c.cast("double") / ev_c)
            )
            .cast("long")
            .alias("rate_diff_milli"),
        )
        .where((F.col("n_treated") > 0) & (F.col("n_control") > 0))
    )
