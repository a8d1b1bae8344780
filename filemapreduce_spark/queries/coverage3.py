"""Round-3 coverage batch: classic warehouse patterns the registry did
not yet express as first-class operators — gaps-and-islands streaks,
largest-remainder proration, linear gap interpolation, bounded BFS
levels, CUSUM drift ranking, reciprocal-rank fusion, and distributed
sequence-gap auditing.

Reference parity note: none of these exist in the reference (its
relational surface stops at scan/filter/map/reduce —
`/root/reference/interfaces.go`); they are north-star extension rows
for SURVEY.md §2 Part B, built from Spark built-ins only so Catalyst
keeps pushdown/pruning/codegen end-to-end.

Exactness: every aggregate is integer (cents / counts / scaled
rationals) until at most one final IEEE division, so DuckDB oracle
hashes match bit-for-bit. DuckDB window SUMs return HUGEINT and are
explicitly cast back to BIGINT in each oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.operators.textops import words
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# Gaps-and-islands: per-user runs of consecutive active days.
# --------------------------------------------------------------------
@register(
    "gaps_islands_user_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), r AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      FROM d
    )
    SELECT user_id,
           strftime(MIN(day), '%Y-%m-%d') AS island_start,
           strftime(MAX(day), '%Y-%m-%d') AS island_end,
           COUNT(*) AS n_days
    FROM r GROUP BY user_id, anchor
    ORDER BY user_id, island_start
    """,
    tags=("window", "islands", "timeseries"),
)
def gaps_islands_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active days per
    user via the row_number-difference trick (consecutive days share
    ``day - row_number()`` as an island anchor).

    Scale shape: one shuffle on user_id for the distinct + window +
    groupBy (all three co-partitioned on the same key, so Catalyst
    reuses a single exchange); no self-join, no global window. At
    100 TB this is the canonical formulation — the alternative
    lag()-based island open/close needs the same single shuffle.
    """
    d = (
        t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = d.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return (
        anchored.groupBy("user_id", "anchor")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("island_end"),
            F.count("*").alias("n_days"),
        )
        .select("user_id", "island_start", "island_end", "n_days")
    )


# --------------------------------------------------------------------
# Largest-remainder proration: split an order total across its lines.
# --------------------------------------------------------------------
@register(
    "proration_largest_remainder",
    # CONTRACT NOTE (r11/r12): the Spark result is an unordered SET —
    # the ORDER BY below is presentational in the oracle twin only.
    # Equivalence relies on the harness comparing order-insensitively
    # (driver_sim/check_oracle sort rows before hashing); an
    # order-sensitive consumer must sort on read or use the
    # range-clustered sink.
    """
    WITH li AS (
      -- proration is over lines with KNOWN quantity against a KNOWN
      -- order total: a NULL qty has no proportional share and a NULL
      -- total cannot be allocated (r9 mixed-null sweep)
      SELECT l_orderkey,
             CAST(row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_quantity) AS BIGINT) AS line_seq,
             CAST(round(l_quantity) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_quantity IS NOT NULL
    ), tot AS (
      SELECT li.l_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
             CAST(SUM(qty) AS BIGINT) AS total_qty
      FROM li JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice IS NOT NULL
      GROUP BY li.l_orderkey, o_totalprice
      -- zero total quantity has no proportional basis: nothing to
      -- prorate against (r10 extreme axis: quantities rounding to 0)
      HAVING SUM(qty) <> 0
    ), base AS (
      SELECT li.l_orderkey, line_seq, qty, total_cents, total_qty,
             -- HUGEINT product: total_cents*qty overflows int64 for
             -- large money; the quotient is <= total_cents and fits
             CAST(CAST(total_cents AS HUGEINT) * qty // total_qty
                  AS BIGINT) AS base_cents,
             CAST(total_cents AS HUGEINT) * qty % total_qty AS rem
      FROM li JOIN tot ON li.l_orderkey = tot.l_orderkey
    ), ranked AS (
      SELECT *,
             total_cents - CAST(SUM(base_cents) OVER (
               PARTITION BY l_orderkey) AS BIGINT) AS short,
             CAST(row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY rem DESC, line_seq) AS BIGINT) AS rk
      FROM base
    )
    SELECT l_orderkey, line_seq,
           base_cents + CASE WHEN rk <= short THEN 1 ELSE 0 END
             AS alloc_cents
    FROM ranked
    ORDER BY l_orderkey, line_seq
    """,
    tags=("window", "allocation"),
    order=(),
)
def proration_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proration: allocate each order's total price
    across its lineitems proportionally to quantity, in integer cents,
    distributing the rounding shortfall one cent at a time to the
    lines with the largest fractional remainders (deterministic
    tie-break on line sequence). Per-order allocations sum EXACTLY to
    the order total — the invariant reports and billing systems need.

    Lines are keyed by ``line_seq`` — a per-order row_number over
    (l_linenumber, l_quantity) — because the synthetic data reuses
    line numbers within an order; any total order over the line
    attributes yields the same output SET (rows identical in all
    attributes are interchangeable), so the result stays deterministic.

    Scale shape: one shuffle on the order key; the per-order windows
    (line_seq, total qty, sum of floors, remainder rank) all run
    partition-local after it — lineitem is scanned ONCE (r11: the
    per-order total is a frame-less window sum over the same
    partitioning as line_seq, replacing a second fact scan + groupBy
    exchange + a rebroadcast of the per-order totals, which at real
    scale is one row per ORDER and not broadcastable). The cents×qty
    product runs in DECIMAL(38,0)/HUGEINT (it overflows int64 for
    large money — r10 extreme axis); every quotient is ≤ total_cents
    and stays BIGINT, with no floating point anywhere.
    """
    # qty is integer-valued, so ordering by rounded qty is the same
    # total order the oracle's (l_linenumber, l_quantity) uses
    w_seq = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "qty"
    )
    w_ord = Window.partitionBy("l_orderkey")
    # known quantities against a known order total only (see oracle)
    raw = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity").isNotNull())
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_quantity").cast("long").alias("qty"),
        )
    )
    # line_seq and the per-order total share ONE shuffle: both windows
    # are partitioned by l_orderkey, and the unordered-frame sum is
    # satisfied by the sort the row_number window already established
    li = raw.select(
        "l_orderkey",
        F.row_number().over(w_seq).cast("long").alias("line_seq"),
        "qty",
    ).withColumn("total_qty", F.sum("qty").over(w_ord))
    # zero total quantity has no proportional basis (see oracle)
    li = li.where(F.col("total_qty") != 0)
    tot = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice").isNotNull())
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            cents("o_totalprice").alias("total_cents"),
        )
    )
    base = li.join(tot, "l_orderkey").select(
        "l_orderkey",
        "line_seq",
        "total_cents",
        # exact int64 quotient/remainder decomposition — the naive
        # total_cents*qty overflows int64 for large money, and the
        # DECIMAL(38,0) form was 1.85x slower in the 600k-row hot
        # path (r10 interleaved A/B). With tc = a*tq + r:
        #   (tc*q) div tq = a*q + (r*q) div tq,  (tc*q) % tq = (r*q) % tq
        # a*q <= tc and r*q < tq*max_qty stay in int64 within the
        # declared domain (|money| <= 1e12, qty <= 1e9)
        F.expr(
            "(total_cents div total_qty) * qty"
            " + ((total_cents % total_qty) * qty) div total_qty"
        ).alias("base_cents"),
        F.expr("((total_cents % total_qty) * qty) % total_qty").alias(
            "rem"
        ),
    )
    w_order = Window.partitionBy("l_orderkey")
    w_rank = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), "line_seq"
    )
    ranked = base.select(
        "l_orderkey",
        "line_seq",
        "base_cents",
        (F.col("total_cents") - F.sum("base_cents").over(w_order)).alias(
            "short"
        ),
        F.row_number().over(w_rank).cast("long").alias("rk"),
    )
    # No final presentation sort (r11, guide §2.4): the output is one
    # row per LINEITEM — a global orderBy of it costs a range
    # exchange whose boundary-sampling job re-executes the whole
    # window stage, measured at >half the query (2.25 s with the sort
    # vs 1.07 s without, paired same-session A/B at sf0.1). The
    # result SET is unchanged (the driver's value-hash is
    # order-insensitive; the oracle twin keeps its ORDER BY); a real
    # deployment orders on WRITE via the range-clustered sink
    # operator when layout matters.
    return ranked.select(
        "l_orderkey",
        "line_seq",
        (
            F.col("base_cents")
            + F.when(F.col("rk") <= F.col("short"), 1).otherwise(0)
        ).alias("alloc_cents"),
    )


# --------------------------------------------------------------------
# Linear interpolation over a daily date spine (gap fill).
# --------------------------------------------------------------------
@register(
    "interp_linear_gapfill",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, MIN(day) AS mind, MAX(day) AS maxd
      FROM daily GROUP BY event_type
    ), spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(mind, maxd, INTERVAL 1 DAY))
                  AS DATE) AS day
      FROM bounds
    ), joined AS (
      SELECT s.event_type, s.day, d.v FROM spine s
      LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
    ), ctx AS (
      SELECT event_type, day, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CASE
             WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
             WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
             WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
             ELSE CAST(pv * DATE_DIFF('day', day, nd)
                       + nv * DATE_DIFF('day', pd, day) AS DOUBLE)
                  / DATE_DIFF('day', pd, nd)
           END AS v_cents,
           (v IS NULL) AS interpolated
    FROM ctx
    ORDER BY event_type, day
    """,
    tags=("timeseries", "gapfill", "interpolation"),
)
def interp_linear_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily value series per event type with missing days LINEARLY
    interpolated between the nearest observed neighbors (edges take
    the nearest value). Extends ``gapfill_daily_event_counts`` (which
    forward-fills) with true interpolation.

    Exactness across engines: the interpolation numerator/denominator
    stay in BIGINT day-weighted cents; a single final IEEE division
    produces the double, so Spark and DuckDB agree bit-for-bit.

    Scale shape: spine generation explodes bounded per-type sequences
    (no driver loop); the prev/next context comes from 4 ignorenulls
    window navigations over one (event_type)-partitioned sort — a
    single shuffle end-to-end.
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).alias("v"))
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mind", "maxd", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    w_back = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward navigation as a REVERSED-sort running frame:
    # first(x) over [CURRENT ROW, UNBOUNDED FOLLOWING] ascending is
    # semantically last(x) over [UNBOUNDED PRECEDING, CURRENT ROW]
    # descending — but Spark's UnboundedFollowing frame re-scans from
    # the current row to the partition end for EVERY row, O(n²) per
    # partition (the extreme-date fixture's 350-year spine made a
    # 128k-row partition hang for hours; r10 sweep). The reversed
    # running frame is O(n) and exact.
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    ctx = joined.select(
        "event_type",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_back).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(w_back).alias("pd"),
        F.last("v", ignorenulls=True).over(w_fwd).alias("nv"),
        F.last(obs_day, ignorenulls=True).over(w_fwd).alias("nd"),
    )
    interp = (
        F.col("pv") * F.datediff("nd", "day")
        + F.col("nv") * F.datediff("day", "pd")
    ).cast("double") / F.datediff("nd", "pd")
    return ctx.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
        .when(F.col("pv").isNull(), F.col("nv").cast("double"))
        .when(F.col("nv").isNull(), F.col("pv").cast("double"))
        .otherwise(interp)
        .alias("v_cents"),
        F.col("v").isNull().alias("interpolated"),
    )


# --------------------------------------------------------------------
# Bounded BFS: minimum hop level from a seed set, 3 unrolled hops.
# --------------------------------------------------------------------
@register(
    "bfs_3hop_parts",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey % 4 = 0
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), adj AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), l0 AS (
      SELECT DISTINCT u AS node FROM adj WHERE u % 100 = 0
    ), f1 AS (
      SELECT DISTINCT adj.v AS node FROM adj JOIN l0 ON adj.u = l0.node
    ), l1 AS (
      SELECT node FROM f1 WHERE node NOT IN (SELECT node FROM l0)
    ), f2 AS (
      SELECT DISTINCT adj.v AS node FROM adj JOIN l1 ON adj.u = l1.node
    ), l2 AS (
      SELECT node FROM f2 WHERE node NOT IN (SELECT node FROM l0)
                             AND node NOT IN (SELECT node FROM l1)
    ), f3 AS (
      SELECT DISTINCT adj.v AS node FROM adj JOIN l2 ON adj.u = l2.node
    ), l3 AS (
      SELECT node FROM f3 WHERE node NOT IN (SELECT node FROM l0)
                             AND node NOT IN (SELECT node FROM l1)
                             AND node NOT IN (SELECT node FROM l2)
    )
    SELECT node, lvl FROM (
      SELECT node, CAST(0 AS BIGINT) AS lvl FROM l0
      UNION ALL SELECT node, 1 FROM l1
      UNION ALL SELECT node, 2 FROM l2
      UNION ALL SELECT node, 3 FROM l3
    ) ORDER BY lvl, node
    """,
    tags=("graph", "bfs"),
)
def bfs_3hop_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search on the part co-purchase graph: minimum hop
    distance (≤3) from the seed set (part keys divisible by 100),
    computed as 3 unrolled frontier expansions with anti-join
    deduplication against all previously-visited levels.

    Scale shape: each hop is one equi-join frontier⨝adjacency plus a
    distinct — the standard Pregel-style level-synchronous BFS step.
    Unbounded-depth BFS would loop this step with localCheckpoint()
    every few hops to cut lineage (the pattern kmeans_lloyd_2iter and
    dedup_clusters_minhash already use); 3 hops keeps the oracle
    SQL-expressible. Frontiers shrink monotonically; the visited set
    stays partitioned on node id throughout.
    """
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    # the adjacency list feeds all 3 frontier expansions AND the seed
    # scan — materialize it once (the same lineage-cut the other
    # iterative operators use) instead of re-running the edge
    # self-join 4×
    adj = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    frontier = (
        adj.filter(F.col("u") % 100 == 0).select(F.col("u").alias("node"))
        .distinct()
    )
    frontier = frontier.localCheckpoint()
    levels = [frontier.withColumn("lvl", F.lit(0).cast("long"))]
    visited = frontier
    for hop in (1, 2, 3):
        # each frontier is consumed 3× (expansion, visited set, output
        # level) — checkpoint so a hop executes exactly once
        nxt = (
            adj.join(frontier, adj["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint()
        )
        levels.append(nxt.withColumn("lvl", F.lit(hop).cast("long")))
        visited = visited.unionAll(nxt)
        frontier = nxt
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    return out


# --------------------------------------------------------------------
# CUSUM drift: rank each type's days by cumulative deviation mass.
# --------------------------------------------------------------------
@register(
    "cusum_top_deviations",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ), cu AS (
      SELECT d.event_type, d.day,
             CAST(SUM(n * v - s) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cusum
      FROM daily d JOIN tot USING (event_type)
    ), rk AS (
      SELECT event_type, day, cusum,
             CAST(row_number() OVER (
               PARTITION BY event_type
               ORDER BY abs(cusum) DESC, day) AS BIGINT) AS rk
      FROM cu
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cusum, rk
    FROM rk WHERE rk <= 3
    ORDER BY event_type, rk
    """,
    tags=("timeseries", "anomaly", "cusum"),
)
def cusum_top_deviations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point candidates: per event type, the 3 days where
    the running sum of deviations from the type mean peaks in
    magnitude (classic CUSUM drift statistic). Deviations are scaled
    by the day count (``n·v − S``) so everything stays in exact
    BIGINT — no mean, no floats, no cross-engine rounding skew.

    Scale shape: daily rollup shuffles on (type, day); the mean terms
    come from a tiny per-type aggregate broadcast back; the running
    sum and ranking are (event_type)-partitioned windows — one real
    shuffle over daily rows, which are already ~5 orders of magnitude
    smaller than the event scan at any SF.
    """
    # NULL event-times are on no day (r9 null sweep: NULL day group
    # sits at opposite cumulative-window ends across engines)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).alias("v"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cu = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            F.sum(F.col("n") * F.col("v") - F.col("s"))
            .over(w_run)
            .alias("cusum"),
        )
    )
    w_rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "day"
    )
    return (
        cu.withColumn("rk", F.row_number().over(w_rk).cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cusum",
            "rk",
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


# --------------------------------------------------------------------
# Distributed sequence-gap audit (missing-id ranges) without a global
# window over the full key set.
# --------------------------------------------------------------------
@register(
    "orderkey_gap_audit",
    """
    WITH k AS (
      SELECT DISTINCT o_orderkey AS key FROM orders
      WHERE o_orderstatus = 'F'
    ), l AS (
      SELECT key, lead(key) OVER (ORDER BY key) AS nxt FROM k
    )
    SELECT key + 1 AS gap_start, nxt - 1 AS gap_end,
           nxt - key - 1 AS n_missing
    FROM l WHERE nxt - key > 1
    ORDER BY gap_start
    """,
    tags=("audit", "sequence"),
)
def orderkey_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-key ranges in the completed ('F'-status) order-key
    sequence — the classic completeness audit for ingestion pipelines
    (the synthetic key space is fully dense, so the status filter is
    what gives the audit real gaps to report) — computed without ever
    sorting the full key set on one task. Keys are banded by value
    (``key div 4096``); adjacent-key pairs are examined at exactly one
    of three levels: same band → band-partitioned lead(); different
    band, same super-band (``band div 4096``) → lead() over per-band
    (min,max) summaries partitioned by super-band; different
    super-band → lead() over per-super-band summaries. Each level
    shrinks the data 4096×, so the only global window runs on
    keys/16.7M rows (60k skinny rows even at 10^12 keys; a third
    banding level in a loop covers anything beyond). The oracle is
    the straightforward global-lead SQL; results are identical.

    Scale: the only full-data shuffle is the distinct on key; every
    value-banded window is partition-parallel; empty bands fall out
    naturally because summaries exist only for non-empty bands.
    """
    k = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
        .withColumn("band", F.expr("key div 4096"))
    )
    w_band = Window.partitionBy("band").orderBy("key")
    within = (
        k.withColumn("nxt", F.lead("key").over(w_band))
        .filter(F.col("nxt") - F.col("key") > 1)
        .select("key", "nxt")
    )
    s1 = k.groupBy("band").agg(
        F.min("key").alias("band_min"), F.max("key").alias("band_max")
    ).withColumn("super", F.expr("band div 4096"))
    w_s1 = Window.partitionBy("super").orderBy("band")
    across1 = (
        s1.withColumn("next_min", F.lead("band_min").over(w_s1))
        .filter(F.col("next_min") - F.col("band_max") > 1)
        .select(
            F.col("band_max").alias("key"), F.col("next_min").alias("nxt")
        )
    )
    s2 = s1.groupBy("super").agg(
        F.min("band_min").alias("s_min"), F.max("band_max").alias("s_max")
    )
    w_s2 = Window.orderBy("super")
    across2 = (
        s2.withColumn("next_min", F.lead("s_min").over(w_s2))
        .filter(F.col("next_min") - F.col("s_max") > 1)
        .select(F.col("s_max").alias("key"), F.col("next_min").alias("nxt"))
    )
    return (
        within.unionAll(across1)
        .unionAll(across2)
        .select(
            (F.col("key") + 1).alias("gap_start"),
            (F.col("nxt") - 1).alias("gap_end"),
            (F.col("nxt") - F.col("key") - 1).alias("n_missing"),
        )
    )


# --------------------------------------------------------------------
# Set-similarity nearest neighbor with prefix filtering (AllPairs).
# --------------------------------------------------------------------
@register(
    "setsim_prefix_filter_top1",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(list_filter(
        regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')) AS w
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isz
      FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), qual AS (
      SELECT doc_a, doc_b, isz, sa.n AS n_a, sb.n AS n_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE 8 * isz >= 3 * (sa.n + sb.n)
    ), both_dirs AS (
      SELECT doc_a AS doc_id, doc_b AS match_id, isz, n_a AS n_self,
             n_b AS n_match FROM qual
      UNION ALL
      SELECT doc_b, doc_a, isz, n_b, n_a FROM qual
    ), ranked AS (
      SELECT doc_id, match_id,
             CAST(isz AS BIGINT) AS intersect_size,
             CAST(n_self AS BIGINT) AS n_self,
             CAST(n_match AS BIGINT) AS n_match,
             (1000 * isz) // (n_self + n_match - isz) AS jaccard_milli,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY (1000 * isz) // (n_self + n_match - isz) DESC,
                        match_id) AS rk
      FROM both_dirs
    )
    SELECT doc_id, match_id, intersect_size, n_self, n_match, jaccard_milli
    FROM ranked WHERE rk = 1
    ORDER BY doc_id
    """,
    tags=("dedup", "similarity", "llm"),
)
def setsim_prefix_filter_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document nearest neighbor at Jaccard >= 0.6 with PREFIX
    FILTERING (Bayardo et al. 2007 'Scaling Up All Pairs Similarity
    Search'; Chaudhuri et al. 2006): tokens are globally ordered by
    ascending document frequency and each document indexes only its
    first ``|s| - ceil(t*|s|) + 1`` tokens — any pair meeting the
    threshold provably shares a prefix token — plus the AllPairs
    LENGTH filter (``t*|a| <= |b| <= |a|/t``), so candidate
    generation touches the rare end of the vocabulary and skips
    size-incompatible pairs outright. Candidates verify with the
    exact integer test ``8*isz >= 3*(n_a+n_b)`` (Jaccard >= 3/5, no
    floats), and each document keeps only its best match
    (jaccard desc, id asc).

    Output is LINEAR in corpus size by construction — the qualifying
    PAIR set on a self-similar corpus is Theta(sum cluster^2) (this
    synthetic corpus: 7.1M pairs at sf0.1 from 5k docs), which no
    pair-emitting formulation can escape; survivors/top-1 is how
    dedup pipelines consume similarity at scale (cf. the minhash
    survivors/clusters operators for the approximate path).

    The oracle is the naive full inverted-index join: prefix+length
    filtering is result-preserving, so both sides produce identical
    nearest neighbors — THAT equality is what the hash check proves.

    Scale posture: ``toks`` is persisted because SIX plan branches
    read it (freq, ordered, sizes, the two verify-join sides) —
    without the cache the tokenize+distinct would re-run per branch.
    No forced broadcasts: ``freq`` (one row per vocab term) and
    ``sizes``/``na``/``nb`` (one row PER DOCUMENT) are unbounded at
    corpus scale, so join strategy is left to Catalyst/AQE — at small
    SF they auto-broadcast under the threshold; at 100 TB they
    shuffle-join instead of OOM-ing the driver with a forced hint.
    """
    toks = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(words("text")).alias("w"))
        .distinct()
        .persist()
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("df"))
    ordered = (
        toks.join(freq, "w")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "w")
            ),
        )
    )
    # persisted: consumed by THREE branches (the prefix build and the
    # n_a/n_b verify joins) — without the cache each branch re-runs
    # the groupBy over the full token stream; the cache is one row
    # per DOCUMENT (not per token), so it stays tiny at corpus scale
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n")).persist()
    with_n = ordered.join(sizes, "doc_id")
    # prefix length for Jaccard t=3/5: n - ceil(t*n) + 1
    # persisted: the candidate self-join reads it as BOTH sides, and
    # the df-ordering window above is a shuffle worth paying once
    prefix = (
        with_n.filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.col("n") * 3 / 5).cast("long") + 1
        )
        .select("doc_id", "w", "n")
        .persist()
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # AllPairs length filter: sizes within a factor of 1/t
            & (F.col("b.n") * 5 >= F.col("a.n") * 3)
            & (F.col("a.n") * 5 >= F.col("b.n") * 3),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pair_inter = (
        cand.join(toks.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(
            toks.alias("tb"),
            (F.col("doc_b") == F.col("tb.doc_id"))
            & (F.col("ta.w") == F.col("tb.w")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("isz"))
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
    )
    qual = (
        pair_inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(8 * F.col("isz") >= 3 * (F.col("n_a") + F.col("n_b")))
    )
    both = qual.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("match_id"),
        "isz",
        F.col("n_a").alias("n_self"),
        F.col("n_b").alias("n_match"),
    ).unionAll(
        qual.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("match_id"),
            "isz",
            F.col("n_b").alias("n_self"),
            F.col("n_a").alias("n_match"),
        )
    )
    jac = F.expr("(1000 * isz) div (n_self + n_match - isz)")
    w_top = Window.partitionBy("doc_id").orderBy(
        jac.desc(), "match_id"
    )
    return (
        both.withColumn("jaccard_milli", jac)
        .withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "match_id",
            F.col("isz").alias("intersect_size"),
            "n_self",
            "n_match",
            "jaccard_milli",
        )
    )


# --------------------------------------------------------------------
# Incremental rollup maintenance: recompute only late-data-affected
# partitions.
# --------------------------------------------------------------------
@register(
    "incremental_rollup_late_data",
    """
    WITH base AS (
      SELECT * FROM events WHERE event_id % 20 != 0
    ), late AS (
      SELECT * FROM events WHERE event_id % 20 = 0
    ), base_daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM base GROUP BY 1, 2
    ), affected AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM late
    ), recomputed AS (
      SELECT e.event_type, CAST(e.ts AS DATE) AS day,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(e.value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events e
      JOIN affected a
        ON e.event_type = a.event_type AND CAST(e.ts AS DATE) = a.day
      GROUP BY 1, 2
    )
    SELECT r.event_type, strftime(r.day, '%Y-%m-%d') AS day,
           CAST(r.n AS BIGINT) AS n_events,
           r.cents AS sum_cents,
           (b.event_type IS NOT NULL) AS had_base_row,
           CAST(r.n - COALESCE(b.n, 0) AS BIGINT) AS n_late_added
    FROM recomputed r
    LEFT JOIN base_daily b
      ON b.event_type = r.event_type AND b.day = r.day
    ORDER BY r.event_type, day
    """,
    tags=("incremental", "rollup", "cdc"),
)
def incremental_rollup_late_data(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental materialized-rollup maintenance: a late-arriving
    slice (5% of events, by id residue) invalidates only the
    (type, day) partitions it touches; the query emits the
    recomputed rows for EXACTLY those partitions — with the delta
    against the stale base rollup — instead of rebuilding the whole
    aggregate. This is the refresh step of every incremental
    view-maintenance pipeline.

    Scale shape: the affected-key set comes from one aggregation over
    the (small) delta and drives a semi-join into the fact scan — on
    a date-partitioned table that semi-join becomes partition pruning
    (only affected days are re-read); the recompute cost is bounded
    by the delta's spread, not history size. The stale-base
    comparison joins on the same (type, day) key, shuffle-aligned
    with the recompute.
    """
    e = t(spark, sf_dir, "events")
    day = F.col("ts").cast("date").alias("day")
    base_daily = (
        e.filter(F.col("event_id") % 20 != 0)
        .groupBy("event_type", day)
        .agg(F.count("*").alias("b_n"), F.sum(cents("value")).alias("b_c"))
    )
    affected = (
        e.filter(F.col("event_id") % 20 == 0)
        .select("event_type", day)
        .distinct()
    )
    recomputed = (
        e.join(
            F.broadcast(affected),
            (e["event_type"] == affected["event_type"])
            & (e["ts"].cast("date") == affected["day"]),
            "left_semi",
        )
        .groupBy("event_type", day)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("sum_cents"),
        )
    )
    return (
        recomputed.join(
            base_daily.withColumnRenamed("event_type", "b_type")
            .withColumnRenamed("day", "b_day"),
            (F.col("event_type") == F.col("b_type"))
            & (F.col("day") == F.col("b_day")),
            "left",
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "sum_cents",
            F.col("b_type").isNotNull().alias("had_base_row"),
            (F.col("n_events") - F.coalesce(F.col("b_n"), F.lit(0)))
            .cast("long")
            .alias("n_late_added"),
        )
    )


# --------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers (privacy governance).
# --------------------------------------------------------------------
@register(
    "k_anonymity_audit",
    """
    WITH qi AS (
      SELECT c_nationkey AS nation,
             c_mktsegment AS segment,
             CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
             c_custkey
      FROM customer
    ), cls AS (
      SELECT nation, segment, bal_band, COUNT(*) AS class_size
      FROM qi GROUP BY nation, segment, bal_band
    )
    SELECT CAST(nation AS BIGINT) AS nation, segment,
           CAST(bal_band AS BIGINT) AS bal_band,
           CAST(class_size AS BIGINT) AS class_size,
           (class_size < 5) AS violates_k5
    FROM cls
    ORDER BY nation, segment, bal_band
    """,
    tags=("governance", "privacy", "audit"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: group the customer table by its
    quasi-identifier combination (nation, market segment, $1000
    account-balance band) and flag equivalence classes smaller than
    k=5 — the classes whose members a linkage attack can re-identify.
    The release decision (suppress / generalize further) consumes
    exactly this table; `masked_rls_customers` is the generalization
    step this audit validates.

    Scale shape: one hash aggregation on the QI tuple — the audit is
    a single shuffle at any scale; banding acctbal in exact integer
    cents keeps the class key deterministic across engines.
    """
    qi = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            "cast(round(c_acctbal * 100) as bigint) div 100000"
        ).alias("bal_band"),
    )
    return (
        qi.groupBy("nation", "segment", "bal_band")
        .agg(F.count("*").alias("class_size"))
        .select(
            "nation",
            "segment",
            "bal_band",
            "class_size",
            (F.col("class_size") < 5).alias("violates_k5"),
        )
    )


# --------------------------------------------------------------------
# Benford first-digit audit (fraud/data-quality screening).
# --------------------------------------------------------------------
@register(
    "benford_first_digit_audit",
    """
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ), digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM cents
    ), obs AS (
      SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs
    )
    SELECT digit, CAST(n AS BIGINT) AS n,
           (1000000 * n) // total AS observed_micro_x10,
           CAST(CASE digit
             WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
             WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
             WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
           END AS BIGINT) AS benford_micro_x10,
           (1000000 * n) // total
             - CASE digit
                 WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                 WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                 WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
               END AS deviation_micro_x10
    FROM obs CROSS JOIN tot
    ORDER BY digit
    """,
    tags=("audit", "quality", "stats"),
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screening of order totals: observed
    first-significant-digit frequencies against the Benford
    expectation log10(1+1/d), both in integer micro-proportions
    (×10⁶, floor) — the standard forensic-accounting test for
    fabricated or truncated monetary data. The expectation table is a
    fixed integer CASE (no float log in either engine); large
    |deviation| rows are the screening signal.

    Note the synthetic totals are uniform-ish, so deviations here are
    LARGE — the audit correctly reports that this corpus is not
    Benford-distributed; the operator's value is the exact,
    engine-reproducible deviation table itself.

    Scale shape: first digit extracts row-local from integer cents; a
    9-row aggregate + one scalar total broadcast back — single
    shuffle, constant-size output at any data volume.
    """
    c = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(cents("o_totalprice").alias("c"))
    )
    digits = c.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias(
            "digit"
        )
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    benford = (
        "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 "
        "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 "
        "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 "
        "WHEN 9 THEN 45757 END"
    )
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr("(1000000 * n) div total").alias("observed_micro_x10"),
            F.expr(benford).cast("long").alias("benford_micro_x10"),
            (
                F.expr("(1000000 * n) div total")
                - F.expr(benford).cast("long")
            ).alias("deviation_micro_x10"),
        )
    )


# --------------------------------------------------------------------
# Weighted median (cumulative-weight formulation).
# --------------------------------------------------------------------
@register(
    "weighted_median_price_by_flag",
    """
    WITH x AS (
      -- a weighted median needs an OBSERVED (value, weight) pair
      -- (r9 mixed-null sweep: NULL prices rode the cumulative
      -- ordering at opposite ends)
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(round(l_quantity) AS BIGINT) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ), g AS (
      SELECT flag, price_cents, CAST(SUM(w) AS BIGINT) AS w
      FROM x GROUP BY flag, price_cents
    ), c AS (
      SELECT flag, price_cents, w,
             CAST(SUM(w) OVER (PARTITION BY flag ORDER BY price_cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
      FROM g
    )
    SELECT flag,
           MIN(price_cents) AS weighted_median_cents,
           MIN(tw) AS total_weight
    FROM c WHERE 2 * cw >= tw
    GROUP BY flag
    ORDER BY flag
    """,
    tags=("stats", "quantile", "weighted"),
)
def weighted_median_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted median (lower weighted median: smallest value whose
    cumulative weight reaches half the total) of extended price
    weighted by quantity, per return flag — the quantity-weighted
    'typical unit price' plain median misses. Pure cumulative-weight
    formulation: pre-aggregate per distinct value, one running sum,
    pick the crossing point — exact BIGINT throughout.

    Scale shape: the value-level pre-aggregation collapses the fact
    table before any window; the running sum partitions by flag. The
    same shape generalizes to any weighted quantile q by replacing
    ``2*cw >= tw`` with ``cw*denom >= q_num*tw``.
    """
    x = (
        t(spark, sf_dir, "lineitem")
        .where(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_quantity").isNotNull()
        )
        .select(
            F.col("l_returnflag").alias("flag"),
            cents("l_extendedprice").alias("price_cents"),
            F.round("l_quantity").cast("long").alias("w"),
        )
    )
    g = x.groupBy("flag", "price_cents").agg(F.sum("w").alias("w"))
    w_run = (
        Window.partitionBy("flag")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("flag")
    c = g.select(
        "flag",
        "price_cents",
        F.sum("w").over(w_run).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price_cents").alias("weighted_median_cents"),
            F.min("tw").alias("total_weight"),
        )
    )


# --------------------------------------------------------------------
# Mann-Whitney U (rank-sum) statistic with exact midranks.
# --------------------------------------------------------------------
@register(
    "mann_whitney_u_by_type",
    """
    WITH x AS (
      -- ranks are over OBSERVED values (r9 mixed-null sweep)
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL
    ), r AS (
      -- 2x-scaled midrank: min_rank + max_rank over each tie group
      SELECT event_type, grp, v,
             CAST(row_number() OVER (
               PARTITION BY event_type ORDER BY v, grp, row_nr)
             AS BIGINT) AS rn
      FROM (SELECT x.*, row_number() OVER () AS row_nr FROM x) x
    ), ties AS (
      SELECT event_type, v,
             CAST(MIN(rn) + MAX(rn) AS BIGINT) AS midrank2
      FROM r GROUP BY event_type, v
    ), j AS (
      SELECT r.event_type, r.grp, t.midrank2
      FROM r JOIN ties t ON r.event_type = t.event_type AND r.v = t.v
    ), sums AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN grp = 'A' THEN midrank2 ELSE 0 END)
                  AS BIGINT) AS r_a_2,
             CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM j GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           (r_a_2 - n_a * (n_a + 1)) / 2.0 AS u_a
    FROM sums
    ORDER BY event_type
    """,
    tags=("stats", "hypothesis-test"),
)
def mann_whitney_u_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U statistic (two-sided rank-sum input) comparing
    even- vs odd-user event values per event type — the
    nonparametric A/B test primitive. Tied values receive exact
    midranks computed as ``(min_rank + max_rank)`` per tie group
    (2×-scaled so everything stays integer; the single final /2.0 is
    the only float op and is identical on both engines).

    The rank ordering breaks ties deterministically only WITHIN the
    midrank computation (tie groups collapse to one value), so the
    statistic is row-order independent — safe under any partitioning.

    Scale shape: ranks partition by event_type; the tie table is a
    per-(type, value) aggregate joined back on the same key — two
    co-partitioned shuffles, no global window.
    """
    x = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.when(F.col("user_id") % 2 == 0, "A")
            .otherwise("B")
            .alias("grp"),
            cents("value").alias("v"),
        )
    )
    # rank per (type, value) — ties collapse, so the arbitrary
    # within-tie order never affects midrank2 = min_rn + max_rn
    g = (
        x.groupBy("event_type", "grp", "v")
        .agg(F.count("*").alias("cnt"))
    )
    # per-(type,value) total count and cumulative counts give exact
    # min/max rank of the tie group without ranking individual rows
    per_val = g.groupBy("event_type", "v").agg(
        F.sum("cnt").alias("n_here")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked_vals = per_val.select(
        "event_type",
        "v",
        (F.sum("n_here").over(w_cum) - F.col("n_here") + 1).alias("min_rn"),
        F.sum("n_here").over(w_cum).alias("max_rn"),
    ).withColumn("midrank2", F.col("min_rn") + F.col("max_rn"))
    j = g.join(ranked_vals, ["event_type", "v"])
    sums = j.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("grp") == "A", F.col("midrank2") * F.col("cnt"))
            .otherwise(0)
        ).alias("r_a_2"),
        F.sum(F.when(F.col("grp") == "A", F.col("cnt")).otherwise(0)).alias(
            "n_a"
        ),
        F.sum(F.when(F.col("grp") == "B", F.col("cnt")).otherwise(0)).alias(
            "n_b"
        ),
    )
    return sums.select(
        "event_type",
        "n_a",
        "n_b",
        (
            (F.col("r_a_2") - F.col("n_a") * (F.col("n_a") + 1)) / 2.0
        ).alias("u_a"),
    )


# --------------------------------------------------------------------
# Gini coefficient of revenue concentration, per nation.
# --------------------------------------------------------------------
@register(
    "gini_revenue_by_nation",
    """
    WITH rev AS (
      SELECT c_nationkey AS nation, o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, o_custkey
    ), ranked AS (
      SELECT nation, x,
             CAST(row_number() OVER (
               PARTITION BY nation ORDER BY x, o_custkey) AS BIGINT) AS i
      FROM rev
    ), agg AS (
      -- sums stay HUGEINT: the x1e6 micro-scaled numerator exceeds
      -- int64 at sf0.1 (mirrors the Spark side's DECIMAL(38,0))
      SELECT nation,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx,
             SUM(i * x) AS six
      FROM ranked GROUP BY nation
    )
    SELECT CAST(nation AS BIGINT) AS nation, n,
           CAST((CAST(1000000 AS HUGEINT) * (2 * six - (n + 1) * sx))
                // (n * sx) AS BIGINT) AS gini_micro
    FROM agg
    ORDER BY nation
    """,
    tags=("stats", "concentration"),
)
def gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue concentration within
    each nation (micro-units, floor): the standard inequality measure
    for 'how concentrated is our revenue', from the sorted-rank
    identity G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx). Ranks are deterministic
    ((revenue, custkey) order); all arithmetic is BIGINT with one
    final integer division.

    Scale shape: per-customer totals are one shuffle; ranking
    partitions by nation (bounded-cardinality groups). A single
    global Gini at extreme scale would use the two-level banded-rank
    pattern of `orderkey_gap_audit`; per-group partitioning is the
    common case and needs no global sort.
    """
    rev = (
        t(spark, sf_dir, "orders")
        .join(
            t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_nationkey").cast("long").alias("nation"),
            ),
            "o_custkey",
        )
        .groupBy("nation", "o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("x"))
    )
    w_rank = Window.partitionBy("nation").orderBy("x", "o_custkey")
    ranked = rev.select(
        "nation", "x", F.row_number().over(w_rank).cast("long").alias("i")
    )
    # DECIMAL(38,0) accumulators: Σi·x is ~rank×cents per term, and
    # the ×10^6 micro-scaling pushes the numerator past int64 at
    # sf0.1 already (observed ARITHMETIC_OVERFLOW) — decimal math
    # matches DuckDB's HUGEINT exactly, and `div` on decimals keeps
    # the integral-quotient (floor) semantics of the oracle's `//`
    agg = ranked.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        # cast an OPERAND, not the product: i*x evaluated in int64
        # first could wrap silently (ANSI off) before the cast —
        # decimal multiply keeps every per-row term exact
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("x")
        ).alias("six"),
    )
    return agg.select(
        "nation",
        "n",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (2 * six - (n + 1) * sx)) div (n * sx) AS BIGINT)"
        ).alias("gini_micro"),
    )
