"""Round-5 analytics batch 5: position-based attribution, rank-based
k-sample testing, graph mixing, and order-independent general means.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- U-shaped (position-based) attribution: the 40/20/40 credit model
  between first-touch and linear — completes the attribution family
  (last-touch, linear) with exact integer credit conservation.
- Kruskal–Wallis H (1952): the rank-based one-way ANOVA — the
  nonparametric twin of the exact-F `anova_f_by_type` row, with
  exact midranks and the tie correction.
- Degree assortativity (Newman 2002): Pearson correlation of end-
  point degrees over the directed edge list — do hubs link to hubs?
- Generalized means (geometric/harmonic): computed from BIGINT sums
  of micro-scaled logs / pico-scaled reciprocals so the aggregation
  stays order-independent (float Σln(x) is partition-order-dependent
  and would break cross-engine hash parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


@register(
    "attribution_position_based",
    """
    WITH purch AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id,
             CAST(round(value*100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, ts AS t_ts, event_id AS t_id,
             event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ), j AS (
      SELECT p.p_id, p.cents, t.channel,
             COUNT(*) OVER (PARTITION BY p.p_id) AS n,
             ROW_NUMBER() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_ts ASC, t.t_id ASC) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_ts DESC, t.t_id DESC) AS rn_d
      FROM purch p
      JOIN touch t
        ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
    ), c AS (
      -- HUGEINT products (cents*1e6 overflows int64 for large money);
      -- the conserved total surfaces as DOUBLE (r10 extreme axis)
      SELECT channel,
             CASE WHEN n = 1 THEN CAST(cents AS HUGEINT) * 1000000
                  WHEN n = 2 THEN CAST(cents AS HUGEINT) * 1000000 // 2
                       + CASE WHEN rn_d = 1
                              THEN CAST(cents AS HUGEINT) * 1000000 % 2
                              ELSE 0 END
                  WHEN rn_a = 1 THEN CAST(cents AS HUGEINT) * 400000
                  WHEN rn_d = 1 THEN CAST(cents AS HUGEINT) * 400000
                  ELSE CAST(cents AS HUGEINT) * 200000 // (n - 2)
                       + CASE WHEN rn_a = 2
                              THEN CAST(cents AS HUGEINT) * 200000 % (n - 2)
                              ELSE 0 END
             END AS credit
      FROM j
    )
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(CAST(SUM(credit) AS VARCHAR) AS DOUBLE) AS credit_micro_cents
    FROM c GROUP BY channel ORDER BY channel
    """,
    tags=("sequence", "analytics", "attribution"),
)
def attribution_position_based(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each
    purchase credits 40% of its value to the FIRST touch in the
    7-day lookback, 40% to the LAST, and splits the middle 20%
    equally across interior touches (1 touch → 100%, 2 touches →
    50/50). Credit is exact integer micro-cents; both division
    remainders are assigned deterministically (50/50 remainder to
    the last touch, interior remainder to the earliest interior
    touch), so total credit conserves purchase value bit-for-bit —
    the same conservation contract as the linear and last-touch
    family members.

    Scale shape: identical to attribution_multi_touch_linear — one
    user-partitioned time-range join (never cross-user), two windows
    partitioned by purchase id, one small channel agg. No global
    sorts; at 100 TB the purchase-id windows stay bounded by a
    user's 7-day touch count.
    """
    e = t(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        cents("value").alias("cents"),
    )
    touch = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    j = purch.join(
        touch,
        (purch.user_id == touch.user_id)
        & (touch.t_ts < purch.p_ts)
        & (touch.t_ts >= purch.p_ts - F.expr("INTERVAL 7 DAYS")),
    )
    wn = Window.partitionBy("p_id")
    wa = Window.partitionBy("p_id").orderBy(F.asc("t_ts"), F.asc("t_id"))
    wd = Window.partitionBy("p_id").orderBy(F.desc("t_ts"), F.desc("t_id"))
    marked = j.select(
        "cents",
        "channel",
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    # exact micro-cent credit WITHOUT an int64 product: divide cents
    # first in BIGINT (quotient/remainder against the small divisor),
    # lift the big multiply into DECIMAL(38,0) — identity
    # (c*W) div m = (c div m)*W + ((c % m)*W) div m, remainders tiny.
    dec = "decimal(38,0)"

    def split(weight: int, divisor):
        q = F.expr(f"cents div ({divisor})").cast(dec) * weight
        return q + F.expr(
            f"((cents % ({divisor})) * {weight}) div ({divisor})"
        )

    def split_rem(weight: int, divisor):
        return F.expr(f"((cents % ({divisor})) * {weight}) % ({divisor})")

    cents_dec = F.col("cents").cast(dec)
    credit = (
        F.when(F.col("n") == 1, cents_dec * 1000000)
        .when(
            F.col("n") == 2,
            split(1000000, "2")
            + F.when(F.col("rn_d") == 1, split_rem(1000000, "2")).otherwise(
                0
            ),
        )
        .when(F.col("rn_a") == 1, cents_dec * 400000)
        .when(F.col("rn_d") == 1, cents_dec * 400000)
        .otherwise(
            split(200000, "n - 2")
            + F.when(
                F.col("rn_a") == 2, split_rem(200000, "n - 2")
            ).otherwise(0)
        )
    )
    return (
        marked.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credits"),
            # conserved total can exceed int64 → DOUBLE (r10 extreme)
            F.sum("credit").cast("double").alias("credit_micro_cents"),
        )
    )


@register(
    "kruskal_wallis_daily",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), tv AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS ties FROM d GROUP BY s
    ), r AS (
      SELECT d.event_type, d.s,
             RANK() OVER (ORDER BY d.s) AS mn, tv.ties
      FROM d JOIN tv ON tv.s = d.s
    ), rr AS (
      -- midrank in half-units: 2*midrank = 2*minrank + ties - 1
      SELECT event_type, 2 * mn + ties - 1 AS r2
      FROM r
    ), g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(r2) AS BIGINT) AS ranksum_x2
      FROM rr GROUP BY event_type
    ), tot AS (
      SELECT CAST(SUM(n_days) AS BIGINT) AS nn FROM g
    ), tie AS (
      SELECT CAST(SUM(ties * ties * ties - ties) AS BIGINT) AS tcorr
      FROM tv
    ), h AS (
      SELECT (12.0 / (nn * (nn + 1.0)))
             * (SELECT SUM(CAST(ranksum_x2 AS DOUBLE) * ranksum_x2
                           / (4.0 * n_days)) FROM g)
             - 3.0 * (nn + 1.0) AS h_raw,
             1.0 - CAST((SELECT tcorr FROM tie) AS DOUBLE)
                   / (CAST(nn AS DOUBLE) * nn * nn - nn) AS corr
      FROM tot
    )
    SELECT g.event_type, g.n_days, g.ranksum_x2,
           CAST(round(1000.0 * (SELECT h_raw / corr FROM h)) AS BIGINT)
             AS h_milli
    FROM g ORDER BY g.event_type
    """,
    tags=("stats", "nonparametric", "test"),
)
def kruskal_wallis_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test (1952) for "do the k event types draw
    their daily revenue from the same distribution?": exact midranks
    of the per-(type, day) revenue across all types (half-unit
    integers, so no float rank ever), H = 12/(N(N+1))·Σ R_g²/n_g −
    3(N+1), divided by the tie correction 1 − Σ(t³−t)/(N³−N). The
    nonparametric twin of the exact-F one-way ANOVA row.

    Scale shape: event volume collapses in one map-side-combined
    groupBy(type, day) to the calendar-bounded grain; the global
    rank runs over that ~#types×#days summary (150 rows here), never
    over raw data — identical input at 100 TB.
    """
    e = t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    # the day-grain summary feeds BOTH the tie table and the rank
    # join — persist so the raw-events scan + groupBy runs once
    # (round-6 plan audit: 16 exchanges)
    d = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(c).cast("long").alias("s")).persist()
    tv = d.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("ties")
    ).persist()  # read by the rank join AND the tie-correction agg
    r = d.join(tv, "s").select(
        "event_type",
        (
            2 * F.rank().over(Window.orderBy("s")).cast("long")
            + F.col("ties")
            - 1
        ).alias("r2"),
    )
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("r2").cast("long").alias("ranksum_x2"),
    ).persist()  # k rows; read by tot, hsum AND the final projection
    tot = g.agg(F.sum("n_days").cast("long").alias("nn"))
    tie = tv.agg(
        F.sum(
            F.col("ties") * F.col("ties") * F.col("ties") - F.col("ties")
        )
        .cast("long")
        .alias("tcorr")
    )
    hsum = g.agg(
        F.sum(
            F.col("ranksum_x2").cast("double")
            * F.col("ranksum_x2")
            / (4.0 * F.col("n_days"))
        ).alias("rsq")
    )
    h = (
        tot.crossJoin(F.broadcast(tie))
        .crossJoin(F.broadcast(hsum))
        .select(
            (
                (
                    (12.0 / (F.col("nn") * (F.col("nn") + 1.0)))
                    * F.col("rsq")
                    - 3.0 * (F.col("nn") + 1.0)
                )
                / (
                    F.lit(1.0)
                    - F.col("tcorr").cast("double")
                    / (
                        F.col("nn").cast("double")
                        * F.col("nn")
                        * F.col("nn")
                        - F.col("nn")
                    )
                )
            ).alias("h_corr")
        )
    )
    return (
        g.crossJoin(F.broadcast(h))
        .select(
            "event_type",
            "n_days",
            "ranksum_x2",
            F.round(1000.0 * F.col("h_corr")).cast("long").alias(
                "h_milli"
            ),
        )
    )


_ASSORT_MOD = 4  # the bfs_3hop_parts graph filter, reused


@register(
    "degree_assortativity_copurchase",
    f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey % {_ASSORT_MOD} = 0
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), adj AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM adj GROUP BY u
    ), pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM adj JOIN deg du ON du.node = adj.u
               JOIN deg dv ON dv.node = adj.v
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM pairs
    )
    SELECT n AS n_endpoints,
           CAST(round(1000.0 * CAST(sx AS DOUBLE) / n) AS BIGINT)
             AS mean_deg_milli,
           CAST(round(1000.0 *
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)))
             AS BIGINT) AS assortativity_milli
    FROM m
    """,
    tags=("graph", "stats"),
)
def degree_assortativity_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (Newman 2002, Phys. Rev. Lett. 89) of the
    part co-purchase graph: the Pearson correlation of endpoint
    degrees over the directed edge list (each undirected edge
    contributes both orientations, which symmetrizes the estimator).
    Positive → hubs co-purchase with hubs (assortative mixing);
    negative → hub-and-spoke. Degrees and all co-moments are exact
    (BIGINT / DECIMAL(38,0)); one double correlation at the end,
    milli-rounded.

    Scale shape: distinct-edge self-join on orderkey (the bfs/
    triangle graph build), degree = one map-side-combined groupBy,
    two edge⨝degree equi-joins partitioned on node id, then a 1-row
    co-moment aggregate. No window, no global sort.
    """
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % _ASSORT_MOD == 0)
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
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
        # read by both adj orientations — persist so the li⨝li
        # self-join + distinct runs once (round-6 audit: 23 exch)
        .persist()
    )
    adj = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()  # read by deg AND the two endpoint-degree joins
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).persist()  # read by both endpoint sides (du, dv)
    du = deg.select(F.col("node").alias("nu"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("nv"), F.col("d").alias("y"))
    pairs = (
        adj.join(du, adj["u"] == du["nu"])
        .join(dv, adj["v"] == dv["nv"])
        .select("x", "y")
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
        F.sum(xd * F.col("y")).alias("sxy"),
    )
    # try_divide at every division the oracle NULLs: an EMPTY pair
    # set (n=0 — the 3%-of-sf0.01 degenerate fixture produced a
    # co-purchase graph with no qualifying pairs) hits the /n terms,
    # and a zero-variance degree sequence (all endpoints equal
    # degree) zeroes the sqrt-product denominator — DuckDB double/0
    # is NULL while ANSI Spark raises (round-8 sweep finding)
    return m.select(
        F.col("n").alias("n_endpoints"),
        F.round(
            F.try_divide(1000.0 * F.col("sx").cast("double"), F.col("n"))
        )
        .cast("long")
        .alias("mean_deg_milli"),
        F.round(
            F.try_divide(
                1000.0
                * (
                    F.col("sxy").cast("double")
                    - F.try_divide(
                        F.col("sx").cast("double") * F.col("sy"),
                        F.col("n"),
                    )
                ),
                F.sqrt(
                    F.col("sxx").cast("double")
                    - F.try_divide(
                        F.col("sx").cast("double") * F.col("sx"),
                        F.col("n"),
                    )
                )
                * F.sqrt(
                    F.col("syy").cast("double")
                    - F.try_divide(
                        F.col("sy").cast("double") * F.col("sy"),
                        F.col("n"),
                    )
                ),
            )
        )
        .cast("long")
        .alias("assortativity_milli"),
    )


@register(
    "generalized_means_value",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
      FROM events WHERE CAST(round(value*100) AS BIGINT) > 0
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_pos,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(CAST(round(1000000.0 * ln(CAST(c AS DOUBLE)))
                           AS BIGINT)) AS BIGINT) AS sln_micro,
             CAST(SUM(CAST(round(1000000000000.0 / c) AS BIGINT))
                  AS BIGINT) AS sinv_pico
      FROM v GROUP BY event_type
    )
    SELECT event_type, n_pos,
           CAST(round(1000.0 * CAST(sc AS DOUBLE) / n_pos) AS BIGINT)
             AS arith_milli,
           CAST(round(1000.0 * exp(CAST(sln_micro AS DOUBLE)
                / 1000000.0 / n_pos)) AS BIGINT) AS geo_milli,
           CAST(round(1000.0 * CAST(n_pos AS DOUBLE)
                / (CAST(sinv_pico AS DOUBLE) / 1000000000000.0))
                AS BIGINT) AS harm_milli
    FROM s ORDER BY event_type
    """,
    tags=("stats", "aggregation"),
)
def generalized_means_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic means of positive event
    values (cents) per event type — the AM ≥ GM ≥ HM triple behind
    rate averaging (harmonic for per-unit rates, geometric for
    growth factors). ORDER-INDEPENDENCE is the point: a float
    Σln(x) varies with Spark's partition order, so each row's log is
    pre-rounded to integer MICRO-nats and each reciprocal to integer
    PICO-units, making both accumulators exact BIGINTs (associative,
    commutative — same value on any partitioning or engine); the
    single exp()/division happens once on the final summary.

    Scale shape: row-local arithmetic + one map-side-combined
    groupBy(event_type); nothing after the first shuffle is
    data-sized. The micro/pico quantization error is bounded by
    5e-7·n relative — milli-rounded output absorbs it at any SF.
    """
    e = t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    v = e.select("event_type", c.alias("c")).filter(F.col("c") > 0)
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pos"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(
            F.round(1000000.0 * F.log(F.col("c").cast("double"))).cast(
                "long"
            )
        )
        .cast("long")
        .alias("sln_micro"),
        F.sum(F.round(1000000000000.0 / F.col("c")).cast("long"))
        .cast("long")
        .alias("sinv_pico"),
    )
    return s.select(
        "event_type",
        "n_pos",
        F.round(1000.0 * F.col("sc").cast("double") / F.col("n_pos"))
        .cast("long")
        .alias("arith_milli"),
        F.round(
            1000.0
            * F.exp(
                F.col("sln_micro").cast("double") / 1000000.0 / F.col("n_pos")
            )
        )
        .cast("long")
        .alias("geo_milli"),
        F.round(
            1000.0
            * F.col("n_pos").cast("double")
            / (F.col("sinv_pico").cast("double") / 1000000000000.0)
        )
        .cast("long")
        .alias("harm_milli"),
    )
