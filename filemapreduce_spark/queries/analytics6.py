"""Round-5 analytics batch 2: distribution-shift and time-series
structure operators.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- PSI (population stability index): THE industry drift gate for
  deployed models/features — decile-binned baseline-vs-current
  distribution divergence, with the conventional smoothing so empty
  bins stay finite.
- Changepoint via binary segmentation (first split): the exact
  single best SSE-reducing split of a daily series — step one of the
  classic binary-segmentation changepoint recursion (Scott & Knott
  1974 lineage).
- Nelson–Aalen cumulative hazard: the counting-process twin of the
  registry's Kaplan–Meier row (Nelson 1972, Aalen 1978) — Σ dᵢ/nᵢ
  over event days, the estimator whose slope reads as the hazard
  rate itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_PSI_SPLIT = "2024-01-16"  # baseline = days before, current = from here
_PSI_EDGES = tuple(i / 10 for i in range(1, 10))  # decile edges


def _psi_edge_sql() -> str:
    return ", ".join(
        f"CAST(percentile_disc({p}) WITHIN GROUP (ORDER BY c) AS BIGINT)"
        f" AS e{i}"
        for i, p in enumerate(_PSI_EDGES, start=1)
    )


@register(
    "psi_value_drift",
    f"""
    WITH cents AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS c,
             CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END
               AS period
      FROM events
    ), edges AS (
      SELECT event_type, {_psi_edge_sql()}
      FROM cents WHERE period = 0 GROUP BY event_type
    ), binned AS (
      SELECT c.event_type, c.period,
             ({" + ".join(f"CASE WHEN c.c > e.e{i} THEN 1 ELSE 0 END" for i in range(1, 10))})
               AS bin
      FROM cents c JOIN edges e ON e.event_type = c.event_type
    ), grid AS (
      SELECT e.event_type, b.bin
      FROM (SELECT DISTINCT event_type FROM edges) e
      CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
    ), cnt AS (
      SELECT g.event_type, g.bin,
             COALESCE(SUM(CASE WHEN x.period = 0 THEN 1 ELSE 0 END), 0)
               AS n0,
             COALESCE(SUM(CASE WHEN x.period = 1 THEN 1 ELSE 0 END), 0)
               AS n1
      FROM grid g
      LEFT JOIN binned x
        ON x.event_type = g.event_type AND x.bin = g.bin
      GROUP BY g.event_type, g.bin
    ), tot AS (
      SELECT event_type,
             CAST(SUM(n0) AS BIGINT) AS t0,
             CAST(SUM(n1) AS BIGINT) AS t1
      FROM cnt GROUP BY event_type
    )
    SELECT c.event_type AS event_type, t.t0 AS n_base, t.t1 AS n_cur,
           CAST(round(1000000.0 * SUM(
             ((c.n1 + 1)::DOUBLE / (t.t1 + 10)
              - (c.n0 + 1)::DOUBLE / (t.t0 + 10))
             * ln(((c.n1 + 1)::DOUBLE / (t.t1 + 10))
                  / ((c.n0 + 1)::DOUBLE / (t.t0 + 10)))
           )) AS BIGINT) AS psi_micro
    FROM cnt c JOIN tot t ON t.event_type = c.event_type
    GROUP BY c.event_type, t.t0, t.t1
    ORDER BY c.event_type
    """,
    tags=("stats", "drift", "mlprep"),
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index per event_type: decile edges from
    the BASELINE period (exact percentile_disc over integer cents —
    actual data values), both periods binned against those edges, and
    PSI = Σ (p_cur − p_base)·ln(p_cur/p_base) over the 10 bins with
    add-one smoothing ((n+1)/(N+10)) so empty bins stay finite — the
    standard model-monitoring drift gate (PSI > 0.2 ≈ action). All
    counts exact integers; the per-bin float term is micro-rounded
    after the 10-term sum (the registry's float-parity contract).

    Scale shape: one scan feeds the baseline percentile agg
    (percentile_disc state is per-group, map-side combinable); the
    9-edge-per-type bounds table broadcasts back for row-local
    binning; the (type, bin) count grid is #types × 10 rows —
    config-bounded, never data-volume-bounded. Two shuffles total,
    both on event_type.
    """
    e = t(spark, sf_dir, "events")
    cents = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), 0)
        .otherwise(1)
        .alias("period"),
    )
    cents.where(F.col("period") == 0).createOrReplaceTempView("_psi_base")
    # persisted: the decile-edge table (one row per event type) feeds
    # both the binning join and the bin grid — without the cache each
    # consumer re-ran the base-period percentile aggregation over the
    # full corpus (static audit: 6 scans -> 2 with cnt below)
    edges = spark.sql(
        f"SELECT event_type, {_psi_edge_sql()} FROM _psi_base "
        "GROUP BY event_type"
    ).persist()
    bin_col = sum(
        F.when(F.col("c") > F.col(f"e{i}"), 1).otherwise(0)
        for i in range(1, 10)
    ).alias("bin")
    binned = cents.join(F.broadcast(edges), "event_type").select(
        "event_type", "period", bin_col
    )
    grid = (
        edges.select("event_type")
        .crossJoin(
            spark.range(10).select(F.col("id").cast("int").alias("bin"))
        )
    )
    # persisted: the per-(type, bin) counts (<= types×10 rows) feed
    # the marginal totals AND the PSI join back
    cnt = (
        grid.join(binned, ["event_type", "bin"], "left")
        .groupBy("event_type", "bin")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("period") == 0, 1).otherwise(0)),
                F.lit(0),
            ).alias("n0"),
            F.coalesce(
                F.sum(F.when(F.col("period") == 1, 1).otherwise(0)),
                F.lit(0),
            ).alias("n1"),
        )
        .persist()
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n0").cast("long").alias("t0"),
        F.sum("n1").cast("long").alias("t1"),
    )
    j = cnt.join(F.broadcast(tot), "event_type")
    pc = (F.col("n1") + 1).cast("double") / (F.col("t1") + 10)
    pb = (F.col("n0") + 1).cast("double") / (F.col("t0") + 10)
    return (
        j.groupBy("event_type", "t0", "t1")
        .agg(
            F.round(1000000.0 * F.sum((pc - pb) * F.log(pc / pb)))
            .cast("long")
            .alias("psi_micro")
        )
        .select(
            "event_type",
            F.col("t0").alias("n_base"),
            F.col("t1").alias("n_cur"),
            "psi_micro",
        )
    )


# --------------------------------------------------------------------
# Changepoint: exact best single SSE split (binary segmentation).
# --------------------------------------------------------------------
@register(
    "changepoint_sse_split",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), pre AS (
      SELECT event_type, day, y,
             ROW_NUMBER() OVER w AS k,
             SUM(y) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sl,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(y) OVER (PARTITION BY event_type) AS s
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), gains AS (
      SELECT event_type, day, k, n, sl, s,
             round(
               (sl::DOUBLE * sl) / k
               + ((s - sl)::DOUBLE * (s - sl)) / (n - k)
               - (s::DOUBLE * s) / n, 6) AS gain
      FROM pre WHERE k < n
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY gain DESC, day) AS rk
      FROM gains
    )
    SELECT event_type,
           strftime(day + INTERVAL 1 DAY, '%Y-%m-%d') AS split_date,
           CAST(n AS BIGINT) AS n_days,
           CAST(round(1000.0 * sl / k) AS BIGINT) AS mean_left_milli,
           CAST(round(1000.0 * (s - sl) / (n - k)) AS BIGINT)
             AS mean_right_milli,
           CAST(round(1000000.0 * gain) AS BIGINT) AS gain_micro
    FROM best WHERE rk = 1
    ORDER BY event_type
    """,
    tags=("timeseries", "stats", "changepoint"),
)
def changepoint_sse_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact single-changepoint detection per event_type — the first
    step of binary segmentation: over the daily count series, find
    the split k minimizing SSE_left + SSE_right, equivalently
    maximizing the between-segment gain
    sl²/k + (s−sl)²/(n−k) − s²/n (all sums exact integers, so the
    float divisions have identical operands in both engines; gain is
    6dp-rounded before the argmax so ties break on the earlier day
    deterministically). Reported: the first day of the right segment,
    segment means (milli), and the SSE reduction (micro).

    Scale shape: raw events collapse to the (type, day) grain first
    (map-side-combined agg); every window after that runs over the
    day-grain series — bounded by the calendar horizon per type,
    never by event volume — and is PARTITIONED BY event_type (no
    global window). One shuffle on event_type.
    """
    # NULL event-times are on no day (r9 null sweep: the NULL day
    # group shifted every cumulative prefix sl)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        F.row_number().over(wo).alias("k"),
        F.sum("y")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sl"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("y").over(wall).alias("s"),
    )
    sl, s = F.col("sl").cast("double"), F.col("s").cast("double")
    k, n = F.col("k"), F.col("n")
    gain = F.round(
        sl * F.col("sl") / k
        + (s - sl) * (F.col("s") - F.col("sl")) / (n - k)
        - s * F.col("s") / n,
        6,
    )
    gains = pre.where(k < n).withColumn("gain", gain)
    best = gains.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("gain").desc(), "day"
            )
        ),
    ).where(F.col("rk") == 1)
    return best.select(
        "event_type",
        F.date_format(F.date_add("day", 1), "yyyy-MM-dd").alias(
            "split_date"
        ),
        F.col("n").cast("long").alias("n_days"),
        F.round(1000.0 * F.col("sl") / k).cast("long").alias(
            "mean_left_milli"
        ),
        F.round(1000.0 * (F.col("s") - F.col("sl")) / (n - k))
        .cast("long")
        .alias("mean_right_milli"),
        F.round(1000000.0 * F.col("gain")).cast("long").alias("gain_micro"),
    )


# --------------------------------------------------------------------
# Nelson–Aalen cumulative hazard (counting-process twin of KM).
# --------------------------------------------------------------------
# Import, not copy: the Spark side censors via the shared
# _signup_purchase_subjects (operators.survival.HORIZON), so the oracle
# string below MUST use the same constant or the pair silently desyncs.
from filemapreduce_spark.operators.survival import HORIZON  # noqa: E402


@register(
    "nelson_aalen_cumhaz",
    f"""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
      GROUP BY e.user_id
    ), subjects AS (
      SELECT s.user_id,
             CASE WHEN p.p_ts IS NOT NULL
                  THEN date_diff('day', CAST(s.s_ts AS DATE),
                                 CAST(p.p_ts AS DATE))
                  ELSE date_diff('day', CAST(s.s_ts AS DATE),
                                 DATE '{HORIZON}')
             END AS t_days,
             CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM s LEFT JOIN p ON p.user_id = s.user_id
    ), grid AS (
      SELECT t_days,
             CAST(SUM(event) AS BIGINT) AS d,
             COUNT(*) AS leaving
      FROM subjects GROUP BY t_days
    ), risk AS (
      SELECT t_days, d,
             CAST((SELECT COUNT(*) FROM subjects)
                  - COALESCE(SUM(leaving) OVER (ORDER BY t_days
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT t_days, n_risk, d,
           round(SUM(CAST(d AS DOUBLE) / n_risk)
                 OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS cumhaz,
           round(SUM(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk))
                 OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS var_est
    FROM risk WHERE d > 0
    ORDER BY t_days
    """,
    tags=("survival", "timeseries", "stats"),
)
def nelson_aalen_cumhaz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard for signup → first purchase
    under right censoring: H(t) = Σ_{{tᵢ≤t}} dᵢ/nᵢ with the standard
    variance estimate Σ dᵢ/nᵢ² (Nelson 1972, Aalen 1978) — the
    counting-process twin of this registry's Kaplan–Meier row, whose
    slope reads directly as the hazard rate and which feeds the
    Breslow baseline in Cox models. Same subjects/grid derivation as
    `kaplan_meier_signup_purchase`; dᵢ and nᵢ are exact integers, the
    two float chains are ordered window sums of identical-operand
    divisions, rounded 6dp.

    Scale shape: per-user reduction (two map-side-combined aggs + one
    keyed join) then the day-grain grid; the unpartitioned windows run
    over that grid — bounded by the observation horizon in days (the
    same allowlisted shape as the KM row), never by user count.
    """
    # shared persisted subject table (survival._signup_purchase_subjects):
    # same derivation + same horizon as the KM/log-rank/RMST family —
    # one corpus pass per session instead of one (or more) per query
    from filemapreduce_spark.queries.survival import (
        _signup_purchase_subjects,
    )

    subjects = _signup_purchase_subjects(spark, sf_dir).select(
        "t_days", "event"
    )
    grid = subjects.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    n_total = subjects.agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    wo = Window.orderBy("t_days")
    risk = grid.crossJoin(F.broadcast(n_total)).select(
        "t_days",
        "d",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum("leaving").over(
                    wo.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("n_risk"),
    )
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        risk.where(F.col("d") > 0)
        .select(
            "t_days",
            "n_risk",
            "d",
            F.round(
                F.sum(
                    F.col("d").cast("double") / F.col("n_risk")
                ).over(wc),
                6,
            ).alias("cumhaz"),
            F.round(
                F.sum(
                    F.col("d").cast("double")
                    / (F.col("n_risk").cast("double") * F.col("n_risk"))
                ).over(wc),
                6,
            ).alias("var_est"),
        )
    )


# --------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage (blocked, weighted).
# --------------------------------------------------------------------
# ln(m/u) agreement / ln((1-m)/(1-u)) disagreement weights, fixed
# config constants (name: m=.95 u=.01; balance: m=.9 u=.02;
# segment: m=.9 u=.15), threshold 3.0.
_FS_W = {
    "name": (4.553876891600541, -2.986476964580297),
    "bal": (3.8066624897703196, -2.2823823856765264),
    "seg": (1.791759469228055, -2.1400661634962708),
}
_FS_THRESHOLD = 3.0


@register(
    "fellegi_sunter_entity_match",
    f"""
    WITH base AS (
      SELECT c_custkey AS b_key, c_name AS b_name,
             c_nationkey AS b_nat,
             CAST(round(c_acctbal * 100) AS BIGINT) AS b_bal,
             c_mktsegment AS b_seg
      FROM customer
    ), dirty AS (
      SELECT c_custkey AS d_key,
             CASE WHEN c_custkey % 4 = 0
                  THEN substr(c_name, 1, length(c_name) - 1)
                  ELSE c_name END AS d_name,
             c_nationkey AS d_nat,
             CAST(round(c_acctbal * 100) AS BIGINT)
               + CASE WHEN c_custkey % 5 = 0 THEN 111 ELSE 0 END AS d_bal,
             CASE WHEN c_custkey % 7 = 0 THEN 'PERTURBED'
                  ELSE c_mktsegment END AS d_seg
      FROM customer
    ), pairs AS (
      SELECT b.*, d.*,
             (CASE WHEN b_name = d_name
                   THEN {_FS_W["name"][0]} ELSE {_FS_W["name"][1]} END
              + CASE WHEN b_bal = d_bal
                     THEN {_FS_W["bal"][0]} ELSE {_FS_W["bal"][1]} END
              + CASE WHEN b_seg = d_seg
                     THEN {_FS_W["seg"][0]} ELSE {_FS_W["seg"][1]} END)
               AS score
      FROM base b JOIN dirty d
        ON b.b_nat = d.d_nat
       AND substr(b.b_name, 10, 5) = substr(d.d_name, 10, 5)
    ), flagged AS (
      SELECT b_seg AS segment,
             CASE WHEN score > {_FS_THRESHOLD} THEN 1 ELSE 0 END AS m,
             CASE WHEN b_key = d_key THEN 1 ELSE 0 END AS truth
      FROM pairs
    ), agg AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(m) AS BIGINT) AS n_declared,
             CAST(SUM(m * truth) AS BIGINT) AS tp,
             CAST(SUM(m * (1 - truth)) AS BIGINT) AS fp,
             CAST(SUM(truth) AS BIGINT) AS n_true
      FROM flagged GROUP BY segment
    )
    SELECT segment, n_pairs, n_declared, tp, fp,
           CAST((1000 * tp) // n_true AS BIGINT) AS recall_milli,
           CAST((1000 * tp) // n_declared AS BIGINT) AS precision_milli
    FROM agg ORDER BY segment
    """,
    tags=("mlprep", "dedup", "entity-resolution"),
)
def fellegi_sunter_entity_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter
    1969): match a deterministically-perturbed "dirty" copy of the
    customer table (last-char name truncation on key%4, +1.11 balance
    shift on key%5, segment corruption on key%7) back to the clean
    table. Candidate pairs come from BLOCKING on (nationkey, 5-digit
    name prefix) — the standard quadratic-cost containment — and each
    pair is scored with per-field log-likelihood agreement weights
    ln(m/u) / ln((1−m)/(1−u)); pairs above the threshold are declared
    matches, and the output accounts precision/recall per segment
    against the planted ground truth (same custkey). All counts are
    exact; scores are fixed-literal sums compared identically in both
    engines.

    Scale shape: the block join is a hash equi-join on the blocking
    key — pair count is Σ per-block |b|·|d|, bounded by the blocking
    design, never all-pairs (no cartesian); scoring is row-local
    codegen; one grouped agg finishes. The same shape at any SF —
    the block key's digit prefix widens as keys grow, keeping blocks
    bounded.
    """
    c = t(spark, sf_dir, "customer")
    balc = F.round(F.col("c_acctbal") * 100).cast("long")
    base = c.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_name").alias("b_name"),
        F.col("c_nationkey").alias("b_nat"),
        balc.alias("b_bal"),
        F.col("c_mktsegment").alias("b_seg"),
    )
    dirty = c.select(
        F.col("c_custkey").alias("d_key"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.expr("substr(c_name, 1, length(c_name) - 1)"),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.col("c_nationkey").alias("d_nat"),
        (
            balc
            + F.when(F.col("c_custkey") % 5 == 0, 111).otherwise(0)
        ).alias("d_bal"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
    )
    def w(field, agree):
        a, d = _FS_W[field]
        return F.when(agree, F.lit(a)).otherwise(F.lit(d))

    pairs = base.join(
        dirty,
        (F.col("b_nat") == F.col("d_nat"))
        & (
            F.expr("substr(b_name, 10, 5)")
            == F.expr("substr(d_name, 10, 5)")
        ),
    ).withColumn(
        "score",
        w("name", F.col("b_name") == F.col("d_name"))
        + w("bal", F.col("b_bal") == F.col("d_bal"))
        + w("seg", F.col("b_seg") == F.col("d_seg")),
    )
    m = F.when(F.col("score") > _FS_THRESHOLD, 1).otherwise(0)
    truth = F.when(F.col("b_key") == F.col("d_key"), 1).otherwise(0)
    agg = (
        pairs.select(
            F.col("b_seg").alias("segment"),
            m.alias("m"),
            truth.alias("truth"),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("m").cast("long").alias("n_declared"),
            F.sum(F.col("m") * F.col("truth")).cast("long").alias("tp"),
            F.sum(F.col("m") * (1 - F.col("truth")))
            .cast("long")
            .alias("fp"),
            F.sum("truth").cast("long").alias("n_true"),
        )
    )
    return agg.select(
        "segment",
        "n_pairs",
        "n_declared",
        "tp",
        "fp",
        # zero-guard: a segment with no true pairs / no declared pairs
        # gives DuckDB `// 0` → NULL, but Spark ANSI `div 0` → error
        # (ultra-sparse sweep finding); CASE mirrors the NULL
        F.expr(
            "CAST(CASE WHEN n_true = 0 THEN NULL"
            " ELSE (1000 * tp) div n_true END AS BIGINT)"
        ).alias("recall_milli"),
        F.expr(
            "CAST(CASE WHEN n_declared = 0 THEN NULL"
            " ELSE (1000 * tp) div n_declared END AS BIGINT)"
        ).alias("precision_milli"),
    )


# --------------------------------------------------------------------
# Bootstrap CI via hash-deterministic Poisson resampling.
# --------------------------------------------------------------------
_BOOT_B = 100  # replicates
# P(Poisson(1) <= k) cutoffs for k = 0..5 (then clamp at 6)
_POIS = (0.367879441, 0.735758882, 0.919698603,
         0.981011843, 0.996340153, 0.999405815)


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS)
    )
    return f"(CASE {cases} ELSE 6 END)"


@register(
    "bootstrap_ci_daily_revenue",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ), reps AS (
      SELECT d.day, d.rev, b.b,
             ('0x' || substring(md5(CAST(b.b AS VARCHAR) || ':'
                || strftime(d.day, '%Y-%m-%d')), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM daily d
      CROSS JOIN (SELECT unnest(range(1, {_BOOT_B + 1})) AS b) b
    ), means AS (
      SELECT b,
             CAST(SUM(CAST({_boot_w_sql("u")} AS DECIMAL(38,0)) * rev)
                  AS DOUBLE)
             / CAST(SUM({_boot_w_sql("u")}) AS DOUBLE) AS mean_b
      FROM reps GROUP BY b
    ), point AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS mean_all
      FROM daily
    )
    SELECT p.n_days,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           round(p.mean_all, 3) AS mean_cents,
           round((SELECT percentile_disc(0.05) WITHIN GROUP
                    (ORDER BY mean_b) FROM means), 3) AS ci_lo_cents,
           round((SELECT percentile_disc(0.95) WITHIN GROUP
                    (ORDER BY mean_b) FROM means), 3) AS ci_hi_cents
    FROM point p
    """,
    tags=("stats", "bootstrap", "resampling"),
)
def bootstrap_ci_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bootstrap confidence interval for mean daily revenue via
    hash-deterministic Poisson(1) resampling (Poissonization of the
    multinomial bootstrap — Chamandy et al. 2012, "Estimating
    uncertainty for massive data streams"; the big-data bootstrap
    form, since per-replicate weights need no coordination): each of
    {B} replicates draws each day's weight from the inverse Poisson
    CDF applied to a uniform derived from md5(replicate:day) —
    reproducible across engines and runs, no RNG state. The CI is the
    5th/95th percentile_disc of the replicate means (actual
    elements). All sums are exact integers (weights cast to
    DECIMAL(38,0) before multiplying — the registry's accumulator-
    width discipline); replicate means divide two exactly-
    representable integers, identically in both engines.

    Scale shape: raw orders reduce to the day grain FIRST (map-side
    combined); the ×{B} replicate explosion happens on the
    calendar-bounded daily table, never on raw rows; replicate means
    are one grouped agg over #days×{B} rows and the percentile runs
    over {B} values. At 100 TB the day-grain table is still tiny —
    the bootstrap costs {B}× a small aggregate, not {B}× the scan.
    """
    o = t(spark, sf_dir, "orders")
    # r11: persisted — the replicate explosion and the point estimate
    # both read the day-grain table; without the cache each re-ran
    # the orders scan + day aggregation (the table is #days rows)
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    ).persist()
    reps = daily.crossJoin(
        spark.range(1, _BOOT_B + 1).select(F.col("id").alias("b"))
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.date_format("day", "yyyy-MM-dd"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0),
    )
    wexpr = F.lit(6)
    for k in range(len(_POIS) - 1, -1, -1):
        wexpr = F.when(F.col("u") < _POIS[k], k).otherwise(wexpr)
    means = (
        reps.withColumn("w", wexpr)
        .groupBy("b")
        .agg(
            (
                F.sum(
                    F.col("w").cast("decimal(38,0)") * F.col("rev")
                ).cast("double")
                / F.sum("w").cast("double")
            ).alias("mean_b")
        )
    )
    means.createOrReplaceTempView("_boot_means")
    ci = spark.sql(
        """
        SELECT round(percentile_disc(0.05) WITHIN GROUP
                 (ORDER BY mean_b), 3) AS ci_lo_cents,
               round(percentile_disc(0.95) WITHIN GROUP
                 (ORDER BY mean_b), 3) AS ci_hi_cents
        FROM _boot_means
        """
    )
    point = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.sum("rev").cast("double") / F.count(F.lit(1)), 3
        ).alias("mean_cents"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_days",
        F.lit(_BOOT_B).cast("long").alias("n_replicates"),
        "mean_cents",
        "ci_lo_cents",
        "ci_hi_cents",
    )


bootstrap_ci_daily_revenue.__doc__ = (
    bootstrap_ci_daily_revenue.__doc__.replace("{B}", str(_BOOT_B))
)


# --------------------------------------------------------------------
# Cramér–von Mises two-sample distance (integrated CDF gap).
# --------------------------------------------------------------------
_CVM_BASE = "view"


@register(
    "cramer_von_mises_vs_view",
    f"""
    WITH ev AS (
      -- ECDFs are over OBSERVED values (r9 mixed-null sweep)
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), sides AS (
      SELECT event_type AS pair, c, 1 AS ca, 0 AS cb
      FROM ev WHERE event_type != '{_CVM_BASE}'
      UNION ALL
      SELECT p.pair, c, 0, 1
      FROM ev CROSS JOIN (
        SELECT DISTINCT event_type AS pair FROM ev
        WHERE event_type != '{_CVM_BASE}') p
      WHERE event_type = '{_CVM_BASE}'
    ), grid AS (
      SELECT pair, c,
             CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
      FROM sides GROUP BY pair, c
    ), cum AS (
      SELECT pair, c, ca, cb,
             CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
             CAST(SUM(ca) OVER p AS BIGINT) AS n_a,
             CAST(SUM(cb) OVER p AS BIGINT) AS n_b
      FROM grid
      WINDOW w AS (PARTITION BY pair ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY pair)
    ), terms AS (
      SELECT pair, n_a, n_b,
             SUM(CAST(cum_a * n_b - cum_b * n_a AS DECIMAL(38,0))
                 * CAST(cum_a * n_b - cum_b * n_a AS DECIMAL(38,0))
                 * (ca + cb)) AS s_num
      FROM cum GROUP BY pair, n_a, n_b
    )
    SELECT pair, n_a, n_b,
           CAST(round(1000000.0 *
             (CAST(n_a AS DOUBLE) * n_b
               / ((n_a + n_b) * (n_a + n_b)))
             * (CAST(s_num AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * n_a * n_b * n_b))
           ) AS BIGINT) AS t_micro
    FROM terms
    ORDER BY pair
    """,
    tags=("stats", "hypothesis-test", "drift"),
)
def cramer_von_mises_vs_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Cramér–von Mises distance of each event type's value
    distribution against the '{BASE}' baseline: T = n·m/(n+m)² ·
    Σ_z (F_n(z) − G_m(z))² over every combined observation z — the
    INTEGRATED-gap complement of the registry's KS row (KS reads only
    the max gap; CvM accumulates the whole curve, so it detects many
    small persistent shifts KS misses). Computed on the distinct-
    value grid with counts: each value contributes (ca+cb) copies of
    ((cum_a·n_b − cum_b·n_a)/(n_a·n_b))². The inner sum is EXACT —
    the gap numerator is cast to DECIMAL(38,0) before squaring
    (cum·n ≈ 10¹⁰ squares to 10²⁰, past int64 — the overflow class
    the accumulator-width guard exists for); one float normalization
    at the end, micro-rounded.

    Scale shape: identical to the KS row — one scan → (pair, value)
    grid agg → pair-partitioned cumulative windows (grid size is the
    value domain × #types, not the row count) → one grouped agg. Two
    shuffles, both on bounded keys.
    """
    e = t(spark, sf_dir, "events")
    ev = e.where(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    a = ev.where(F.col("event_type") != _CVM_BASE).select(
        F.col("event_type").alias("pair"),
        "c",
        F.lit(1).alias("ca"),
        F.lit(0).alias("cb"),
    )
    pairs = (
        ev.where(F.col("event_type") != _CVM_BASE)
        .select(F.col("event_type").alias("pair"))
        .distinct()
    )
    b = (
        ev.where(F.col("event_type") == _CVM_BASE)
        .crossJoin(F.broadcast(pairs))
        .select("pair", "c", F.lit(0).alias("ca"), F.lit(1).alias("cb"))
    )
    grid = (
        a.unionAll(b)
        .groupBy("pair", "c")
        .agg(
            F.sum("ca").cast("long").alias("ca"),
            F.sum("cb").cast("long").alias("cb"),
        )
    )
    wo = (
        Window.partitionBy("pair")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("pair")
    cum = grid.select(
        "pair",
        "c",
        "ca",
        "cb",
        F.sum("ca").over(wo).cast("long").alias("cum_a"),
        F.sum("cb").over(wo).cast("long").alias("cum_b"),
        F.sum("ca").over(wp).cast("long").alias("n_a"),
        F.sum("cb").over(wp).cast("long").alias("n_b"),
    )
    gap = (
        F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
    ).cast("decimal(38,0)")
    terms = cum.groupBy("pair", "n_a", "n_b").agg(
        F.sum(gap * gap * (F.col("ca") + F.col("cb"))).alias("s_num")
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    t_stat = (
        na
        * F.col("n_b")
        / ((F.col("n_a") + F.col("n_b")) * (F.col("n_a") + F.col("n_b")))
    ) * (
        F.col("s_num").cast("double")
        / (na * F.col("n_a") * F.col("n_b") * F.col("n_b"))
    )
    return terms.select(
        "pair",
        "n_a",
        "n_b",
        F.round(1000000.0 * t_stat).cast("long").alias("t_micro"),
    )


cramer_von_mises_vs_view.__doc__ = (
    cramer_von_mises_vs_view.__doc__.replace("{BASE}", _CVM_BASE)
)


# --------------------------------------------------------------------
# One-way ANOVA F statistic (exact sufficient statistics).
# --------------------------------------------------------------------
@register(
    "anova_f_value_by_type",
    """
    WITH x AS (
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
      FROM events
    ), g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(c) AS BIGINT) AS s_g,
             SUM(CAST(c AS DECIMAL(38,0)) * c) AS ss_g
      FROM x GROUP BY event_type
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             SUM(ss_g) AS ss,
             SUM(CAST(s_g AS DECIMAL(38,10)) * s_g / n_g) AS sb_part
      FROM g
    )
    SELECT k, n,
           CAST(round(1000000.0 *
             ((CAST(sb_part AS DOUBLE)
               - CAST(s AS DOUBLE) * s / n) / (k - 1))
             / ((CAST(ss AS DOUBLE) - CAST(sb_part AS DOUBLE))
                / (n - k))
           ) AS BIGINT) AS f_micro
    FROM tot
    """,
    tags=("stats", "hypothesis-test"),
)
def anova_f_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across event types (Fisher): F =
    (SSB/(k−1)) / (SSW/(N−k)) from exact per-group sufficient
    statistics — SSB = Σ S_g²/n_g − S²/N, SSW = Σc² − Σ S_g²/n_g.
    Completes the registry's hypothesis-test family (Welch pairwise,
    MWU rank, KS/CvM distributional, χ² categorical) with the k-group
    mean-difference omnibus. All accumulators are exact: counts and
    sums are BIGINT, the c² and S_g² second moments are widened to
    DECIMAL before multiplying (the accumulator-width discipline);
    the single float F is micro-rounded.

    Scale shape: one scan → one map-side-combined groupBy(event_type)
    → one k-row final fold. Nothing grows with data volume past the
    first agg.
    """
    e = t(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    g = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("c").cast("long").alias("s_g"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias(
            "ss_g"
        ),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(
            F.col("s_g").cast("decimal(38,10)")
            * F.col("s_g")
            / F.col("n_g")
        ).alias("sb_part"),
    )
    sbd = F.col("sb_part").cast("double")
    sd = F.col("s").cast("double")
    ssb = sbd - sd * F.col("s") / F.col("n")
    ssw = F.col("ss").cast("double") - sbd
    # try_divide: one row per group makes n = k (zero within-group
    # df) and a single group makes k-1 = 0 — the oracle's double/0
    # is NULL in DuckDB while ANSI Spark raises (n=1-per-group
    # fixture finding, round 8)
    f_stat = F.try_divide(
        F.try_divide(ssb, F.col("k") - 1),
        F.try_divide(ssw, F.col("n") - F.col("k")),
    )
    return tot.select(
        "k",
        "n",
        F.round(1000000.0 * f_stat).cast("long").alias("f_micro"),
    )


# --------------------------------------------------------------------
# Cohort LTV curve (cumulative revenue per signup cohort by age).
# --------------------------------------------------------------------
@register(
    "cohort_ltv_curve",
    """
    WITH s AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS s_day FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), cohorts AS (
      SELECT user_id, s_day,
             CAST(date_trunc('week', s_day) AS DATE) AS cohort
      FROM s
    ), csize AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM cohorts GROUP BY cohort
    ), rev AS (
      SELECT c.cohort,
             date_diff('day', c.s_day, CAST(e.ts AS DATE)) AS age_day,
             CAST(SUM(CAST(round(e.value*100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM events e JOIN cohorts c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= c.s_day
      GROUP BY c.cohort, age_day
    )
    SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort,
           CAST(r.age_day AS BIGINT) AS age_day,
           cs.n_users,
           CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort
                ORDER BY r.age_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_rev_cents,
           CAST((SUM(r.rev_cents) OVER (PARTITION BY r.cohort
                 ORDER BY r.age_day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                // cs.n_users AS BIGINT) AS ltv_per_user_cents
    FROM rev r JOIN csize cs ON cs.cohort = r.cohort
    ORDER BY cohort, age_day
    """,
    tags=("analytics", "cohort", "timeseries"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: users grouped by signup WEEK, purchase
    revenue accumulated by days-since-signup — the cumulative
    lifetime-value ribbon (one curve per cohort) that retention
    economics reads slope and plateau from. Exact integer cents;
    per-user LTV uses integer division (identical both engines).

    Scale shape: per-user signup reduction, one keyed join to
    purchases, then a (cohort, age_day)-grain aggregate — the
    windows run over that grain, bounded by #cohorts × horizon days,
    never event volume. One shuffle on user_id, one on cohort.
    """
    e = t(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("s_day"))
        .withColumn(
            "cohort", F.date_trunc("week", "s_day").cast("date")
        )
    )
    csize = s.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    rev = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts").cast("date") >= F.col("s_day"))
        .groupBy(
            "cohort",
            F.datediff(F.col("ts").cast("date"), F.col("s_day"))
            .cast("long")
            .alias("age_day"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("rev_cents").over(w)
    return (
        rev.join(F.broadcast(csize), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "age_day",
            "n_users",
            cum.cast("long").alias("cum_rev_cents"),
            F.expr(
                "CAST(SUM(rev_cents) OVER (PARTITION BY cohort"
                " ORDER BY age_day ROWS BETWEEN UNBOUNDED PRECEDING"
                " AND CURRENT ROW) div n_users AS BIGINT)"
            ).alias("ltv_per_user_cents"),
        )
    )
