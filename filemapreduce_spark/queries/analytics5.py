"""Analytics batch 5: exact two-sample Kolmogorov–Smirnov distance
and a grid-blocked spatial radius join.

KS is the standard distribution-shift test between two samples (the
gate monitoring pipelines put on feature drift); the radius join is
the canonical spatial-blocking shape — grid cells + neighbor-cell
candidates + exact distance verify — that turns an O(N²) proximity
problem into an output-linear join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_KS_TYPES = ("click", "error", "purchase", "signup")
_BASE = "view"


# --------------------------------------------------------------------
# Exact two-sample KS distance (value-grain ECDF, integer rational D).
# --------------------------------------------------------------------
@register(
    "ks_test_vs_view",
    f"""
    WITH ev AS (
      -- an ECDF is over OBSERVED values (r9 mixed-null sweep: a NULL
      -- grid cell rode the cumulative ordering at opposite ends)
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), sides AS (
      SELECT event_type AS pair, c, 1 AS ca, 0 AS cb
      FROM ev WHERE event_type != '{_BASE}'
      UNION ALL
      SELECT p.pair, c, 0, 1
      FROM ev CROSS JOIN (
        SELECT unnest(['{"', '".join(_KS_TYPES)}']) AS pair) p
      WHERE event_type = '{_BASE}'
    ), grid AS (
      SELECT pair, c,
             CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
      FROM sides GROUP BY pair, c
    ), cum AS (
      SELECT pair, c,
             CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
             CAST(SUM(ca) OVER p AS BIGINT) AS n_a,
             CAST(SUM(cb) OVER p AS BIGINT) AS n_b
      FROM grid
      WINDOW w AS (PARTITION BY pair ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY pair)
    ), diffs AS (
      SELECT pair, c, n_a, n_b,
             abs(cum_a * n_b - cum_b * n_a) AS d_num,
             ROW_NUMBER() OVER (PARTITION BY pair
                                ORDER BY abs(cum_a * n_b - cum_b * n_a) DESC,
                                         c ASC) AS rn
      FROM cum
    )
    SELECT pair, n_a, n_b,
           CAST(round(1000.0 * d_num / (n_a * n_b)) AS BIGINT) AS d_milli,
           c AS argmax_cents
    FROM diffs WHERE rn = 1
    ORDER BY pair
    """,
    tags=("stats", "hypothesis-test", "drift"),
)
def ks_test_vs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between each
    event type's value distribution and the 'view' baseline: D =
    max |ECDF_a − ECDF_b|, reported in milli with the value where the
    gap peaks — the standard nonparametric drift test monitoring
    pipelines gate features on.

    Exactness: the ECDF comparison is carried as the INTEGER
    |cum_a·n_b − cum_b·n_a| (a common-denominator rational), so the
    argmax and D are exact; the one division happens after the max.

    Scale: raw values reduce to the (pair, distinct-value) grid
    first (map-side combined), so every window runs over the value
    DOMAIN per pair — bounded by value cardinality, not row count;
    all windows share one pair-partitioned exchange, and the final
    top-1 is WindowGroupLimit-pruned.

    Form adjudicated r12 (r11 verdict item 5): the r11 grid-first
    rewrite (pre-aggregate to the (event_type, value) grid, then
    explode the baseline K ways — one scan, but one EXTRA exchange)
    was paired-A/B'd against this two-branch union form at sf0.1 AND
    on the 10x sf1 synthetic fixture with data-sized confs.
    Two-branch won both: 0.477 vs 0.516 s best-of-5 at sf0.1, 0.645
    vs 0.765 s at sf1 (AQE on, 32 partitions) — the second pruned
    scan is cheaper than the grid form's extra aggregation exchange
    at every measured scale. Outputs verified identical at both.
    """
    # ECDF over observed values (see oracle note). A NULL event_type
    # is neither a test series nor the baseline — dropped on both
    # sides via NULL != / == semantics, exactly as the oracle.
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", cents("value").alias("c"))
    )
    a = ev.where(F.col("event_type") != _BASE).select(
        F.col("event_type").alias("pair"),
        "c",
        F.lit(1).alias("ca"),
        F.lit(0).alias("cb"),
    )
    b = ev.where(F.col("event_type") == _BASE).select(
        F.explode(F.array(*[F.lit(x) for x in _KS_TYPES])).alias("pair"),
        "c",
        F.lit(0).alias("ca"),
        F.lit(1).alias("cb"),
    )
    grid = (
        a.unionByName(b)
        .groupBy("pair", "c")
        .agg(
            F.sum("ca").cast("long").alias("ca"),
            F.sum("cb").cast("long").alias("cb"),
        )
    )
    w = (
        Window.partitionBy("pair")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("pair")
    cum = grid.select(
        "pair",
        "c",
        F.sum("ca").over(w).cast("long").alias("cum_a"),
        F.sum("cb").over(w).cast("long").alias("cum_b"),
        F.sum("ca").over(p).cast("long").alias("n_a"),
        F.sum("cb").over(p).cast("long").alias("n_b"),
    )
    d_num = F.abs(
        F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
    )
    diffs = cum.select(
        "pair", "c", "n_a", "n_b", d_num.alias("d_num")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("pair").orderBy(
                F.col("d_num").desc(), F.col("c").asc()
            )
        ),
    )
    return (
        diffs.where(F.col("rn") == 1)
        .select(
            "pair",
            "n_a",
            "n_b",
            F.round(1000.0 * F.col("d_num") / (F.col("n_a") * F.col("n_b")))
            .cast("long")
            .alias("d_milli"),
            F.col("c").alias("argmax_cents"),
        )
    )


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
# Theil–Sen robust slope (median of pairwise slopes).
# --------------------------------------------------------------------
@register(
    "theil_sen_slope_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE)
               / date_diff('day', a.day, b.day) AS slope
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day > a.day
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS slope_cents_per_day
    FROM pairs
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("timeseries", "stats", "robust"),
)
def theil_sen_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope per series: the median of all
    pairwise (Δvalue/Δdays) slopes over the daily totals — the
    rank-based regression that shrugs off outliers an OLS line would
    chase (Theil 1950, Sen 1968; breakdown point ~29%).

    Exactness: each slope is one double division of exact integers
    (identical op both engines); the interpolated median over
    identically-computed doubles is deterministic, rounded to 6 dp.

    Scale: the series reduces to daily grain first, so the pairwise
    self-join is horizon-bounded (O(days²) per series, days ≈ 30
    here), shuffled on the series key — row count never enters.
    At decade horizons, band the days and sample pairs per band
    (the standard Theil–Sen subsampling).
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("cents").alias("ca")
    )
    b = daily.select(
        "event_type", F.col("day").alias("day_b"), F.col("cents").alias("cb")
    )
    pairs = a.join(b, "event_type").where(
        F.col("day_b") > F.col("day_a")
    ).select(
        "event_type",
        (
            (F.col("cb") - F.col("ca")).cast("double")
            / F.datediff("day_b", "day_a")
        ).alias("slope"),
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.expr("percentile(slope, 0.5)"), 6
            ).alias("slope_cents_per_day"),
        )
    )


# --------------------------------------------------------------------
# Classical seasonal decomposition (trend + weekday seasonal + resid).
# --------------------------------------------------------------------
@register(
    "seasonal_decomposition_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), trend AS (
      SELECT event_type, day, cents,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN CAST(SUM(cents) OVER w AS BIGINT) END AS tsum
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
      SELECT event_type, day, cents, tsum,
             CASE WHEN tsum IS NOT NULL
                  THEN cents - CAST(tsum AS DOUBLE) / 7 END AS detrended
      FROM trend
    ), seas AS (
      -- exact-integer seasonal mean: AVG over float detrended values
      -- is summation-order-dependent and diverges in the last bits at
      -- 1e14 magnitudes (r10 extreme axis); cents*7 - tsum is exact
      -- BIGINT, so the mean is one double division of exact integers
      SELECT event_type, isodow(day) AS dow,
             CAST(SUM(cents * 7 - tsum) AS BIGINT) AS d7sum,
             COUNT(*) AS n7
      FROM detr WHERE detrended IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.cents,
           CASE WHEN d.tsum IS NOT NULL
                THEN CAST(round(CAST(1000 AS DOUBLE) * d.tsum / 7) AS BIGINT)
           END AS trend_milli,
           CAST(round(CAST(1000 AS DOUBLE) * s.d7sum / (7 * s.n7))
                AS BIGINT) AS seasonal_milli,
           CASE WHEN d.tsum IS NOT NULL
                THEN CAST(d.cents * 1000
                     - CAST(round(CAST(1000 AS DOUBLE) * d.tsum / 7) AS BIGINT)
                     - CAST(round(CAST(1000 AS DOUBLE) * s.d7sum / (7 * s.n7)) AS BIGINT) AS BIGINT)
           END AS resid_milli
    FROM detr d JOIN seas s
      ON s.event_type = d.event_type AND s.dow = isodow(d.day)
    ORDER BY d.event_type, d.day
    """,
    tags=("timeseries", "decomposition", "stats"),
)
def seasonal_decomposition_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive seasonal decomposition per series: trend =
    centered 7-day moving average (only where the full window
    exists), weekday seasonal = mean of the detrended values per
    ISO weekday, residual = value − trend − seasonal — the
    decomposition every seasonality investigation starts with
    (the moving-average core of STL without the loess robustness
    iterations).

    Exactness: the trend carries the exact integer 7-day SUM and
    divides once at output; the seasonal mean is the one float
    average, 6-dp-rounded before the residual subtraction, which is
    then pure integer milli arithmetic.

    Scale: one shuffle to daily grain; the centered-window and the
    weekday aggregation both run on the per-series partitioning;
    the seasonal table is #series×7 rows broadcast back.
    """
    # NULL event-times are on no day (r9 null sweep)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trend = daily.select(
        "event_type",
        "day",
        "cents",
        F.when(
            F.count("*").over(w) == 7, F.sum("cents").over(w).cast("long")
        ).alias("tsum"),
    )
    detr = trend.withColumn(
        "detrended",
        F.when(
            F.col("tsum").isNotNull(),
            F.col("cents") - F.col("tsum").cast("double") / 7,
        ),
    )
    isodow = F.weekday("day") + 1
    # exact-integer seasonal mean (see oracle note): cents*7 - tsum
    # is exact BIGINT; one double division of exact integers
    seas = (
        detr.where(F.col("detrended").isNotNull())
        .groupBy("event_type", isodow.alias("dow"))
        .agg(
            F.sum(F.col("cents") * 7 - F.col("tsum")).alias("d7sum"),
            F.count(F.lit(1)).alias("n7"),
        )
    )
    trend_milli = F.when(
        F.col("tsum").isNotNull(),
        F.round(1000.0 * F.col("tsum") / 7).cast("long"),
    )
    seasonal_milli = F.round(
        1000.0 * F.col("d7sum") / (7 * F.col("n7"))
    ).cast("long")
    return (
        detr.withColumn("dow", isodow)
        .join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cents",
            trend_milli.alias("trend_milli"),
            seasonal_milli.alias("seasonal_milli"),
            F.when(
                F.col("tsum").isNotNull(),
                F.col("cents") * 1000
                - F.round(1000.0 * F.col("tsum") / 7).cast("long")
                - seasonal_milli,
            )
            .cast("long")
            .alias("resid_milli"),
        )
    )


# --------------------------------------------------------------------
# Covariance matrix from one pass of exact co-moments.
# --------------------------------------------------------------------
@register(
    "covariance_matrix_lineitem",
    """
    WITH m AS (
      -- sums stay HUGEINT (no BIGINT cast): a cents*cents product sum
      -- exceeds int64 past ~10^5 rows, exactly like the Spark side's
      -- DECIMAL(38,0) accumulators
      SELECT COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS sq,
             SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS sp,
             SUM(CAST(round(l_discount*100) AS BIGINT)) AS sd,
             SUM(CAST(l_quantity AS HUGEINT)
                 * CAST(l_quantity AS BIGINT)) AS sqq,
             SUM(CAST(round(l_extendedprice*100) AS HUGEINT)
                 * CAST(round(l_extendedprice*100) AS BIGINT)) AS spp,
             SUM(CAST(round(l_discount*100) AS HUGEINT)
                 * CAST(round(l_discount*100) AS BIGINT)) AS sdd,
             SUM(CAST(l_quantity AS HUGEINT)
                 * CAST(round(l_extendedprice*100) AS BIGINT)) AS sqp,
             SUM(CAST(l_quantity AS HUGEINT)
                 * CAST(round(l_discount*100) AS BIGINT)) AS sqd,
             SUM(CAST(round(l_extendedprice*100) AS HUGEINT)
                 * CAST(round(l_discount*100) AS BIGINT)) AS spd
      FROM lineitem
    ), cells(var_a, var_b, s_ab, s_a, s_b) AS (
      SELECT 'quantity', 'quantity', sqq, sq, sq FROM m
      UNION ALL SELECT 'quantity', 'price_cents', sqp, sq, sp FROM m
      UNION ALL SELECT 'quantity', 'discount_cents', sqd, sq, sd FROM m
      UNION ALL SELECT 'price_cents', 'price_cents', spp, sp, sp FROM m
      UNION ALL SELECT 'price_cents', 'discount_cents', spd, sp, sd FROM m
      UNION ALL SELECT 'discount_cents', 'discount_cents', sdd, sd, sd FROM m
    )
    SELECT var_a, var_b,
           -- single rounding point: the numerator n*s_ab - s_a*s_b is
           -- EXACT in HUGEINT, so both engines convert the same
           -- integer to double once and divide by the same n*(n-1) --
           -- no catastrophic cancellation of independently-rounded
           -- doubles (which diverged in the last digit at sf0.1)
           round(CAST((SELECT n FROM m) * s_ab - s_a * s_b AS DOUBLE)
                 / (CAST((SELECT n FROM m) AS DOUBLE)
                    * ((SELECT n FROM m) - 1)), 6) AS cov
    FROM cells
    ORDER BY var_a, var_b
    """,
    tags=("stats", "covariance", "linalg"),
)
def covariance_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance matrix of (quantity, price, discount) from
    ONE aggregation pass: all 9 sufficient statistics (3 sums + 6
    cross/self products, exact BIGINT) reduce map-side, and every
    matrix cell derives from them with the identical
    (Σab − Σa·Σb/n)/(n−1) double expression — the feature-covariance
    input to PCA/whitening and the multivariate generalization of the
    registry's pairwise correlation operator.

    Scale: the whole matrix costs one scan regardless of dimension
    count growing as d(d+1)/2 sufficient statistics — for wide d the
    same pattern runs as the mapInArrow gram-matrix operator
    (X^T·X partials); this is the exact-integer small-d form. The
    product accumulators are DECIMAL(38,0): a cents×cents term is
    ~10^14, so an int64 sum overflows past ~10^5 rows (it DID at
    sf0.1) — the decimal accumulator matches DuckDB's HUGEINT sum
    exactly and stays partial-agg-safe.
    """
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    p = cents("l_extendedprice")
    d = cents("l_discount")
    dec = "decimal(38,0)"
    m = li.agg(
        F.count("*").alias("n"),
        F.sum(q.cast(dec)).alias("sq"),
        F.sum(p.cast(dec)).alias("sp"),
        F.sum(d.cast(dec)).alias("sd"),
        # cast the FIRST factor before multiplying: a cents*cents
        # product at large money overflows int64 PER ROW, not just in
        # the sum (r10 extreme axis; oracle mirrors with HUGEINT)
        F.sum(q.cast(dec) * q).alias("sqq"),
        F.sum(p.cast(dec) * p).alias("spp"),
        F.sum(d.cast(dec) * d).alias("sdd"),
        F.sum(q.cast(dec) * p).alias("sqp"),
        F.sum(q.cast(dec) * d).alias("sqd"),
        F.sum(p.cast(dec) * d).alias("spd"),
    )
    cells = [
        ("quantity", "quantity", "sqq", "sq", "sq"),
        ("quantity", "price_cents", "sqp", "sq", "sp"),
        ("quantity", "discount_cents", "sqd", "sq", "sd"),
        ("price_cents", "price_cents", "spp", "sp", "sp"),
        ("price_cents", "discount_cents", "spd", "sp", "sd"),
        ("discount_cents", "discount_cents", "sdd", "sd", "sd"),
    ]
    def cov_cell(va, vb, ab, a, b):
        # numerator exact in DECIMAL(38,0) (n*s_ab ~ 1e25, s_a*s_b ~
        # 1e28 both fit), converted to double ONCE — mirrors the
        # oracle's HUGEINT numerator so the single division point
        # yields bit-identical doubles
        numer = (
            F.col("n").cast("decimal(38,0)") * F.col(ab)
            - F.col(a) * F.col(b)
        ).cast("double")
        cov = F.round(
            numer / (F.col("n").cast("double") * (F.col("n") - 1)),
            6,
        )
        return F.struct(
            F.lit(va).alias("var_a"),
            F.lit(vb).alias("var_b"),
            cov.alias("cov"),
        )

    # all 6 cells explode out of the ONE aggregate row — a per-cell
    # union re-read the unpersisted 1-row aggregate and re-ran the
    # full lineitem scan for every cell (static audit: 6 scans); the
    # explode keeps the claimed one-pass shape with no cache at all
    return (
        m.select(
            F.explode(F.array(*[cov_cell(*c) for c in cells])).alias(
                "cell"
            )
        )
        .select("cell.var_a", "cell.var_b", "cell.cov")
    )


# --------------------------------------------------------------------
# Trailing-window exact quantile (p90 over the last 7 days).
# --------------------------------------------------------------------
@register(
    "trailing_quantile_7day",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), w AS (
      -- quantile over OBSERVED values: filter NULL daily totals out
      -- of the window list and size the index by the filtered length
      -- (Spark's collect_list skips NULLs; counting rows instead of
      -- observations indexed past the short array — r9 null-measures
      -- crash)
      SELECT event_type, day, cents,
             list_sort(list_filter(list(cents) OVER tw,
                                   x -> x IS NOT NULL)) AS win
      FROM daily
      WINDOW tw AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cents,
           CAST(win[CAST(ceil(0.9 * len(win)) AS BIGINT)] AS BIGINT)
             AS p90_trailing
    FROM w
    ORDER BY event_type, day
    """,
    tags=("timeseries", "quantile", "window"),
)
def trailing_quantile_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day exact p90 per series: each day's value next to
    the 90th percentile of its own last week — the rolling SLA band
    ops dashboards draw (alert when today's value exceeds its recent
    p90). The quantile is defined EXPLICITLY as the ⌈0.9·n⌉-th
    element of the sorted window (1-based) and computed by the same
    sorted-array indexing in both engines — no reliance on either
    engine's quantile-function interpolation semantics.

    Scale: the window carries at most 7 integers per row (bounded by
    the window length, not data volume) over the per-series
    partitioning — collect-sort-index inside a 7-element window is
    O(1) per row.
    """
    # NULL event-times are on no day; the trailing p90 is defined over
    # OBSERVED daily totals — collect_list already skips NULLs, so the
    # index must come from the collected length, not the row count
    # (counting rows indexed past the short array and ANSI element_at
    # raised; r9 null-measures crash). try_element_at returns NULL for
    # the empty all-NULL window.
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    w = daily.select(
        "event_type",
        "day",
        "cents",
        F.sort_array(F.collect_list("cents").over(tw)).alias("win"),
    )
    idx = F.ceil(0.9 * F.size("win")).cast("int")
    # the empty-window guard must be explicit: try_element_at
    # tolerates OUT-OF-RANGE indexes but still raises on index 0
    # (INVALID_INDEX_OF_ZERO), which is exactly what ceil(0.9*0)
    # produces for an all-NULL window (r9 null-measures sweep)
    p90 = F.when(F.size("win") > 0, F.try_element_at("win", idx))
    return w.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents",
        p90.cast("long").alias("p90_trailing"),
    )


# --------------------------------------------------------------------
# Market concentration: HHI + CR4 per nation's supplier balances.
# --------------------------------------------------------------------
@register(
    "market_concentration_hhi",
    """
    WITH pos AS (
      SELECT s_nationkey,
             CAST(round(s_acctbal*100) AS BIGINT) AS bal
      FROM supplier WHERE s_acctbal > 0
    ), shares AS (
      SELECT s_nationkey, bal,
             CAST(SUM(bal) OVER (PARTITION BY s_nationkey) AS BIGINT)
               AS total,
             ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                ORDER BY bal DESC, bal) AS rnk
      FROM pos
    )
    SELECT s_nationkey,
           COUNT(*) AS n_suppliers,
           CAST(round(1e6 * SUM((CAST(bal AS DOUBLE) / total)
                                * (CAST(bal AS DOUBLE) / total)))
                AS BIGINT) AS hhi_micro,
           CAST(round(1000.0 * SUM(CASE WHEN rnk <= 4
                                        THEN CAST(bal AS DOUBLE) / total
                                        ELSE 0 END)) AS BIGINT)
             AS cr4_milli
    FROM shares
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
    tags=("stats", "concentration", "economics"),
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration indices per nation over positive supplier
    balances: the Herfindahl–Hirschman index (Σ share², micro-scaled
    — antitrust's standard concentration score) and the CR4
    four-firm concentration ratio. Complements the per-group Gini
    (inequality of the whole distribution) with the head-focused
    measures regulators actually threshold on.

    Scale: shares derive from a per-nation windowed total (one
    shuffle on the group key reused by the rank and the final agg);
    share squares are row-local doubles with identical op order.
    """
    s = t(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 0)
    pos = s.select(
        "s_nationkey", cents("s_acctbal").alias("bal")
    )
    wp = Window.partitionBy("s_nationkey")
    shares = pos.select(
        "s_nationkey",
        "bal",
        F.sum("bal").over(wp).cast("long").alias("total"),
        F.row_number()
        .over(
            Window.partitionBy("s_nationkey").orderBy(
                F.col("bal").desc(), F.col("bal")
            )
        )
        .alias("rnk"),
    )
    share = F.col("bal").cast("double") / F.col("total")
    return (
        shares.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(1e6 * F.sum(share * share)).cast("long").alias(
                "hhi_micro"
            ),
            F.round(
                1000.0
                * F.sum(F.when(F.col("rnk") <= 4, share).otherwise(0.0))
            )
            .cast("long")
            .alias("cr4_milli"),
        )
    )


# --------------------------------------------------------------------
# Hysteresis alert state (two-threshold Schmitt trigger over a series).
# --------------------------------------------------------------------
@register(
    "hysteresis_alert_state",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), th AS (
      SELECT event_type,
             CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS n
      FROM daily GROUP BY event_type
    ), flagged AS (
      SELECT d.event_type, d.day, d.cents,
             CASE WHEN d.cents * t.n * 10 > t.s * 12 THEN 1
                  WHEN d.cents * t.n * 10 < t.s * 8 THEN 0
             END AS crossing
      FROM daily d JOIN th t ON t.event_type = d.event_type
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cents,
           CAST(COALESCE(last_value(crossing IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
                AS BIGINT) AS alert_state
    FROM flagged
    ORDER BY event_type, day
    """,
    tags=("timeseries", "alerting", "window"),
)
def hysteresis_alert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold alert state machine (Schmitt trigger) per series:
    the alert SETS when a day's total exceeds 120% of the series mean
    and CLEARS only below 80% — days in the dead band inherit the
    last decided state (the hysteresis that stops alert flapping,
    which a single-threshold rule cannot). State is −1 before the
    first crossing.

    The trick that keeps this a plain window op: the state at day t
    is exactly the most recent SET/CLEAR crossing at or before t, so
    ``last_value(crossing) IGNORE NULLS`` over the day order IS the
    state machine — no recursive fold needed. Threshold comparisons
    are exact integer cross-products (cents·n·10 vs s·12), no float
    thresholds.

    Scale: one shuffle to daily grain; thresholds are a #series-row
    broadcast; the navigation window is per-series.
    """
    # NULL event-times are on no day (r9 null sweep: a NULL day group
    # rode the state-machine window at opposite ends per engine)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    th = daily.groupBy("event_type").agg(
        F.sum("cents").cast("long").alias("s"), F.count("*").alias("n")
    )
    flagged = daily.join(F.broadcast(th), "event_type").select(
        "event_type",
        "day",
        "cents",
        F.when(
            F.col("cents") * F.col("n") * 10 > F.col("s") * 12, F.lit(1)
        )
        .when(F.col("cents") * F.col("n") * 10 < F.col("s") * 8, F.lit(0))
        .alias("crossing"),
    )
    wnav = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents",
        F.coalesce(
            F.last("crossing", ignorenulls=True).over(wnav), F.lit(-1)
        )
        .cast("long")
        .alias("alert_state"),
    )


# --------------------------------------------------------------------
# Order-to-ship latency quantiles per priority (fulfillment SLA).
# --------------------------------------------------------------------
@register(
    "order_to_ship_latency",
    """
    WITH lat AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(quantile_disc(days, 0.50) AS BIGINT) AS p50_days,
           CAST(quantile_disc(days, 0.90) AS BIGINT) AS p90_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM lat
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("timeseries", "sla", "join"),
)
def order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-latency SLA per order priority: join line
    shipments to their orders, measure order-to-ship days, and report
    exact discrete p50/p90/max — the canonical operational-SLA query
    (and the one a priority system is graded by: higher priorities
    should show lower quantiles). Discrete percentiles over integer
    days are hash-exact.

    Scale: one broadcast-or-shuffle equi-join on the order key, then
    a map-side-combinable agg per priority (percentile_disc state is
    per-group sorted counts — at extreme group sizes swap in the
    registry's histogram quantile sketch, same contract).
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("days"),
        )
    )
    lat.createOrReplaceTempView("_ots_lat")
    return lat.sparkSession.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_lines,
               CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY days)
                    AS BIGINT) AS p50_days,
               CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY days)
                    AS BIGINT) AS p90_days,
               CAST(MAX(days) AS BIGINT) AS max_days
        FROM _ots_lat
        GROUP BY o_orderpriority
        """
    )


# --------------------------------------------------------------------
# Paired-difference t test (before/after the month midpoint, per user).
# --------------------------------------------------------------------
@register(
    "paired_diff_ttest",
    """
    WITH halves AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                           THEN CAST(round(value*100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS before_c,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                           THEN CAST(round(value*100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS after_c
      FROM events GROUP BY user_id
    ), d AS (
      SELECT after_c - before_c AS diff FROM halves
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(diff) AS BIGINT) AS sum_diff_cents,
           CAST(round(1000.0 * SUM(diff) / COUNT(*)) AS BIGINT)
             AS mean_diff_milli,
           CAST(round(1000.0 * (CAST(SUM(diff) AS DOUBLE) / COUNT(*))
                 / sqrt(((CAST(SUM(CAST(diff AS HUGEINT)*diff) AS DOUBLE)
                          - CAST(SUM(diff) AS DOUBLE) * SUM(diff) / COUNT(*))
                         / (COUNT(*) - 1)) / COUNT(*))) AS BIGINT)
             AS t_milli
    FROM d
    """,
    tags=("stats", "hypothesis-test", "paired"),
)
def paired_diff_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-difference t test: each user is their own control —
    per-user spend in the back half of the month minus the front
    half, tested against zero mean (t = mean(d)/(s_d/√n)). The
    paired design removes between-user variance, which is why it
    detects shifts the unpaired Welch test (also in the registry)
    washes out.

    Exactness: per-user halves and diffs are exact integer cents;
    Σd and Σd² reduce map-side; mean/sd/t are derived doubles with
    identical op order, milli-rounded.

    Scale: one map-side-combined agg to per-user rows, one 1-row
    reduction — no join, no window; the date split prunes nothing
    here but becomes partition pruning on a date-partitioned layout.
    """
    e = t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    c = cents("value")
    halves = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, c).otherwise(0))
        .cast("long")
        .alias("before_c"),
        F.sum(F.when(F.col("ts") >= cut, c).otherwise(0))
        .cast("long")
        .alias("after_c"),
    )
    d = halves.select((F.col("after_c") - F.col("before_c")).alias("diff"))
    n = F.count("*")
    sd = F.sum("diff")
    # decimal operand: per-user cents diffs reach ~1e9 at volume, so
    # Σd² passes int64 well before 1e9 users — widen the multiply
    sdd = F.sum(F.col("diff").cast("decimal(38,0)") * F.col("diff"))
    mean = sd.cast("double") / n
    var = (sdd.cast("double") - sd.cast("double") * sd / n) / (n - 1)
    return d.agg(
        n.alias("n_users"),
        sd.cast("long").alias("sum_diff_cents"),
        F.round(1000.0 * sd / n).cast("long").alias("mean_diff_milli"),
        # try_divide: a zero-variance diff set (constant — e.g. every
        # value NULL, so every per-user diff is 0) makes the standard
        # error 0; the oracle's x/0 is NULL where ANSI raises (r9
        # null-measures sweep)
        F.round(F.try_divide(1000.0 * mean, F.sqrt(var / n)))
        .cast("long")
        .alias("t_milli"),
    )


# --------------------------------------------------------------------
# Dispersion index (variance-to-mean of per-user counts) per type.
# --------------------------------------------------------------------
@register(
    "dispersion_index_by_type",
    """
    WITH counts AS (
      SELECT event_type, user_id, COUNT(*) AS k
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           COUNT(*) AS n_users,
           CAST(SUM(k) AS BIGINT) AS n_events,
           CAST(round(1000.0
                 * ((CAST(SUM(CAST(k AS HUGEINT)*k) AS DOUBLE)
                     - CAST(SUM(k) AS DOUBLE) * SUM(k) / COUNT(*))
                    / (COUNT(*) - 1))
                 / (CAST(SUM(k) AS DOUBLE) / COUNT(*))) AS BIGINT)
             AS dispersion_milli
    FROM counts
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("stats", "count-model", "diagnostics"),
)
def dispersion_index_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance-to-mean ratio) of per-user event
    counts, per type — the Poisson-model diagnostic: ≈1000‰ means
    Poisson-like arrivals, ≫1000 means overdispersion (bursty users
    → negative-binomial territory, and every rate-based alert
    threshold needs widening). Count sufficient statistics (Σk, Σk²)
    are exact integers; the ratio is derived doubles, milli-rounded.

    Scale: two chained map-side-combined aggs (user-type counts,
    then per-type moments) — no window, no join.
    """
    e = t(spark, sf_dir, "events")
    counts = e.groupBy("event_type", "user_id").agg(
        F.count("*").alias("k")
    )
    n = F.count("*")
    sk = F.sum("k")
    # decimal operand so the k² multiply can't wrap in int64: a 100-TB
    # heavy user reaches k~1e6 (k²=1e12), and Σ over 1e9 users passes
    # 9.2e18 — same class as the covariance/Gini overflows the sf0.1
    # sweep caught live
    skk = F.sum(F.col("k").cast("decimal(38,0)") * F.col("k"))
    # try_divide: a single-user type has n-1 = 0 — the oracle's
    # double/0 yields NULL in DuckDB while ANSI Spark raises
    # (pct=1 degenerate-fixture sweep finding, round 8)
    var = F.try_divide(
        skk.cast("double") - sk.cast("double") * sk / n, n - 1
    )
    mean = sk.cast("double") / n
    return (
        counts.groupBy("event_type")
        .agg(
            n.alias("n_users"),
            sk.cast("long").alias("n_events"),
            F.round(1000.0 * var / mean).cast("long").alias(
                "dispersion_milli"
            ),
        )
    )
