"""Coverage batch 4: candidate-key discovery audit and daily-series
autocorrelation (ACF).

Key discovery is the data-quality question every ingest asks first
("what can I join/dedup on?"); the ACF is the first diagnostic of any
time series (how much does today predict tomorrow — and is there a
weekly cycle?).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# Candidate-key audit (uniqueness of declared key combos).
# --------------------------------------------------------------------
@register(
    "candidate_key_audit",
    """
    SELECT 'l_orderkey' AS combo, COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(CASE WHEN COUNT(DISTINCT l_orderkey) = COUNT(*)
                     THEN 1 ELSE 0 END AS BIGINT) AS is_key
    FROM lineitem
    UNION ALL
    -- the FILTER mirrors SQL multi-column COUNT(DISTINCT a, b)
    -- semantics (rows with ANY NULL component are not countable key
    -- values); DuckDB's (a, b) struct would count NULL-bearing rows.
    -- is_key still compares against ALL rows, so a nullable column
    -- can never certify as a key — the correct audit outcome.
    SELECT 'l_orderkey,l_linenumber', COUNT(*),
           CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) FILTER (
             l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
           ) AS BIGINT),
           CAST(CASE WHEN COUNT(DISTINCT (l_orderkey, l_linenumber))
                          FILTER (l_orderkey IS NOT NULL
                                  AND l_linenumber IS NOT NULL)
                          = COUNT(*) THEN 1 ELSE 0 END AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey,l_suppkey', COUNT(*),
           CAST(COUNT(DISTINCT (l_partkey, l_suppkey)) FILTER (
             l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
           ) AS BIGINT),
           CAST(CASE WHEN COUNT(DISTINCT (l_partkey, l_suppkey))
                          FILTER (l_partkey IS NOT NULL
                                  AND l_suppkey IS NOT NULL)
                          = COUNT(*) THEN 1 ELSE 0 END AS BIGINT)
    FROM lineitem
    ORDER BY combo
    """,
    tags=("audit", "quality", "keys"),
)
def candidate_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: for each declared key combination,
    count rows vs distinct key values and flag whether the combo is a
    true key — the audit that catches silent duplicate-key corruption
    before a MERGE or dedup trusts the key. Checks the single column
    (a guaranteed NON-key on a line-level table), the composite line
    key, and the part-supplier pair — and in this synthetic data the
    audit earns its keep: even (orderkey, linenumber) turns out
    non-unique, exactly the silent assumption it exists to catch.

    Scale: each check is one map-side-combined distinct-count — at
    100 TB swap exact COUNT(DISTINCT) for the registry's HLL sketch
    state when an approximate uniqueness ratio suffices, same plan.
    The three checks scan the table independently so Spark can share
    the cached scan; a single-pass variant would pay the distinct
    expansion for all combos through one exchange instead.
    """
    li = t(spark, sf_dir, "lineitem")

    def check(combo: str, *cols: str) -> DataFrame:
        nd = F.countDistinct(*[F.col(c) for c in cols]).cast("long")
        return li.agg(
            F.lit(combo).alias("combo"),
            F.count("*").alias("n_rows"),
            nd.alias("n_distinct"),
            F.when(nd == F.count("*"), 1).otherwise(0).cast("long").alias(
                "is_key"
            ),
        )

    return (
        check("l_orderkey", "l_orderkey")
        .unionByName(
            check("l_orderkey,l_linenumber", "l_orderkey", "l_linenumber")
        )
        .unionByName(check("l_partkey,l_suppkey", "l_partkey", "l_suppkey"))
    )


# --------------------------------------------------------------------
# Autocorrelation function (lag 1..7) of daily series.
# --------------------------------------------------------------------
@register(
    "acf_daily_lags",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type, k.k, a.cents AS x, b.cents AS y
      FROM daily a
      CROSS JOIN (SELECT unnest(range(1, 8)) AS k) k
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + CAST(k.k AS INTEGER)
    ), mom AS (
      -- HUGEINT products+sums (mirror Spark's DECIMAL(38,0)): a
      -- daily-cents square passes int64 at scale
      SELECT event_type, k, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pairs GROUP BY event_type, k
    )
    SELECT event_type, CAST(k AS BIGINT) AS lag_days, n,
           CAST(round(1000.0 * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                     * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)))
                AS BIGINT) AS acf_milli
    FROM mom
    ORDER BY event_type, lag_days
    """,
    tags=("timeseries", "stats", "acf"),
)
def acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each type's daily-total series at lags 1–7:
    Pearson r between the series and its k-day-shifted self — the
    first diagnostic of any time series (lag-1 ≫ 0: momentum; a lag-7
    peak: weekly seasonality worth a seasonal model). Co-moments
    (n, Σx, Σy, Σxy, Σx², Σy²) stay exact integers; r is one derived
    double, milli-rounded op-for-op with the oracle.

    Scale: the series is first reduced to daily grain (map-side
    combined), then the 7 lagged pairings come from ONE window pass
    (7 ``lead`` offsets over the type-partitioned day-ordered grain,
    unpivoted) — no self-join, no persisted intermediate, #days×7
    rows per type, time-horizon-bounded. A row-offset lead is k ROWS
    ahead, not k DAYS, so each offset's pair keeps the ACTUAL day
    distance and the filter keeps distances 1..7: on a gappy calendar
    the day+k partner (if present) sits at some row offset j ≤ k, so
    scanning all 7 offsets reproduces the lag-join pairing exactly.
    """
    # a NULL event_type is no series (the oracle's equi self-join
    # never matches NULL=NULL, while partitionBy would happily group
    # it — r9 null sweep: 7 phantom lag rows) and a NULL ts is on no
    # day; declared on both sides
    e = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    leads = F.array(
        *[
            F.struct(
                F.datediff(F.lead("day", j).over(w), F.col("day")).alias(
                    "k"
                ),
                F.lead("cents", j).over(w).alias("y"),
            )
            for j in range(1, 8)
        ]
    )
    pairs = (
        # window exprs first, generator second (Spark forbids a
        # window function inside a generator projection)
        daily.select(
            "event_type", F.col("cents").alias("x"), leads.alias("ls")
        )
        .select("event_type", "x", F.explode("ls").alias("p"))
        .select(
            "event_type", F.col("p.k").alias("k"), "x", F.col("p.y").alias("y")
        )
        .where(F.col("k").between(1, 7))
    )
    # co-moment products in DECIMAL(38,0): a daily-cents total can
    # pass ~3e9 at scale, where its square overflows the int64 the
    # per-row multiply would otherwise use
    dec = "decimal(38,0)"
    mom = pairs.groupBy("event_type", "k").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    )
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
        * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
    )
    return mom.select(
        "event_type",
        F.col("k").cast("long").alias("lag_days"),
        "n",
        # try_divide: a single-pair lag (n=1) or a constant series has
        # zero variance → den 0; the oracle's x/0 is NULL, ANSI's is
        # an error (found by the ultra-sparse sweep)
        F.round(F.try_divide(1000.0 * num, den)).cast("long").alias(
            "acf_milli"
        ),
    )


# --------------------------------------------------------------------
# Column-level fingerprints (which column changed between snapshots?).
# --------------------------------------------------------------------
_FP_COLS = (
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_totalprice", "CAST(CAST(round(o_totalprice*100) AS BIGINT) AS VARCHAR)"),
)


@register(
    "column_fingerprint_audit",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS column_name,
           COUNT({sql_expr}) AS n_nonnull,
           CAST(bit_xor(('0x' || substring(
                 md5('{name}:' || {sql_expr}), 1, 15))::BIGINT) AS BIGINT)
             AS fingerprint
    FROM orders"""
        for name, sql_expr in _FP_COLS
    )
    + "\nORDER BY column_name",
    tags=("audit", "checksum", "lineage"),
)
def column_fingerprint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-COLUMN order-independent fingerprints: XOR of md5-derived
    64-bit hashes of each column's canonicalized values (money as
    exact cents). Where the registry's row-level table checksum says
    *whether* two snapshots differ, the column fingerprints say
    *which column* drifted — the first question of any lineage or
    replication-integrity investigation. XOR state is mergeable
    across partitions/days and maintainable under updates (XOR the
    old value out, the new value in).

    Scale: one scan; each fingerprint is a map-side-combined XOR
    aggregate — constant state per column, no shuffle of values.
    Caveat (by construction of XOR): a value appearing an even
    number of times cancels out, so pair this with the row-count /
    n_nonnull columns it carries.
    """
    o = t(spark, sf_dir, "orders")
    spark_exprs = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice": F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .cast("string"),
    }
    # ONE aggregation row carries every column's (count, xor) pair,
    # then explodes to the per-column output — the previous
    # agg-per-column union scanned orders once PER COLUMN (static
    # audit: 4 scans; d scans for a d-column profile), which is the
    # wrong shape for a drift audit whose whole point is one cheap
    # pass over each snapshot
    aggs = []
    for name, _ in _FP_COLS:
        sval = spark_exprs[name]
        aggs.append(F.count(sval).alias(f"n_{name}"))
        aggs.append(
            F.expr(
                "bit_xor(CAST(conv(substring(md5("
                f"concat('{name}:', {_spark_sql_expr(name)})"
                "), 1, 15), 16, 10) AS BIGINT))"
            ).alias(f"f_{name}")
        )
    cells = [
        F.struct(
            F.lit(name).alias("column_name"),
            F.col(f"n_{name}").alias("n_nonnull"),
            F.col(f"f_{name}").alias("fingerprint"),
        )
        for name, _ in _FP_COLS
    ]
    return (
        o.agg(*aggs)
        .select(F.explode(F.array(*cells)).alias("cell"))
        .select("cell.column_name", "cell.n_nonnull", "cell.fingerprint")
    )


def _spark_sql_expr(name: str) -> str:
    """Spark-SQL string form of the canonical value (for bit_xor agg,
    which has no DataFrame-function wrapper)."""
    return {
        "o_orderkey": "CAST(o_orderkey AS STRING)",
        "o_custkey": "CAST(o_custkey AS STRING)",
        "o_orderstatus": "o_orderstatus",
        "o_totalprice": (
            "CAST(CAST(round(o_totalprice*100) AS BIGINT) AS STRING)"
        ),
    }[name]


# --------------------------------------------------------------------
# Mergeable histogram quantile sketch + exact-twin error accounting.
# --------------------------------------------------------------------
_HB = 256  # histogram bins


@register(
    "histogram_sketch_percentiles",
    f"""
    WITH v AS (
      -- the sketch and its exact twin are over OBSERVED prices
      -- (r9 mixed-null sweep: n counted NULL rows the exact
      -- percentile skipped)
      SELECT CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders
      WHERE o_totalprice IS NOT NULL
    ), stats AS (
      SELECT MIN(c) AS lo, MAX(c) AS hi, COUNT(*) AS n FROM v
    ), binned AS (
      SELECT ((c - lo) * {_HB}) // (hi - lo + 1) AS bin,
             lo, hi, n, COUNT(*) AS bc
      FROM v CROSS JOIN stats
      GROUP BY 1, lo, hi, n
    ), cum AS (
      SELECT bin, lo, hi, n, bc,
             CAST(SUM(bc) OVER (ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM binned
    ), qs AS (
      SELECT unnest([500, 900, 990]) AS q_milli
    ), hits AS (
      SELECT q.q_milli, c.bin, c.lo, c.hi, c.n, c.bc, c.cum,
             ROW_NUMBER() OVER (PARTITION BY q.q_milli ORDER BY c.bin)
               AS rn
      FROM qs q JOIN cum c
        ON c.cum * 1000 >= q.q_milli * c.n
    ), est AS (
      SELECT q_milli, n,
             CAST(round(
               lo + (CAST(bin AS DOUBLE) * (hi - lo + 1)) / {_HB}
                  + ((CAST(q_milli AS DOUBLE) * n / 1000 - (cum - bc))
                     / bc)
                    * (CAST(hi - lo + 1 AS DOUBLE) / {_HB})) AS BIGINT)
               AS est_cents
      FROM hits WHERE rn = 1
    ), exact AS (
      SELECT 500 AS q_milli,
             CAST(quantile_disc(c, 0.500) AS BIGINT) AS exact_cents FROM v
      UNION ALL
      SELECT 900, CAST(quantile_disc(c, 0.900) AS BIGINT) FROM v
      UNION ALL
      SELECT 990, CAST(quantile_disc(c, 0.990) AS BIGINT) FROM v
    )
    SELECT e.q_milli, x.exact_cents, e.est_cents,
           CAST(abs(e.est_cents - x.exact_cents) AS BIGINT) AS abs_err_cents,
           CAST(e.n AS BIGINT) AS n
    FROM est e JOIN exact x USING (q_milli)
    ORDER BY e.q_milli
    """,
    tags=("sketch", "quantile", "agg"),
)
def histogram_sketch_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a 256-bin fixed-width histogram
    sketch, with the error against the exact percentile reported per
    quantile — the mergeable-quantile companion to the registry's
    distinct (bitmap/HLL) and frequency (Count-Min) sketch states:
    histogram bins are additive integers, so per-partition/per-day
    sketches merge by cell-wise sum and the percentile query never
    revisits raw data. Estimation interpolates inside the hit bin;
    the max error is one bin width (range/256), and the measured
    |est − exact| column shows the real error is far smaller on this
    distribution.

    Scale: one 1-row min/max agg broadcast, one map-side-combined
    bin count (row-local bin id), then ALL remaining work runs on the
    256-row summary (the cumulative window is bounded by the bin
    count, never data). The exact twin uses percentile_disc for the
    honesty check; at 100 TB you keep only the sketch path.
    """
    v = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice").isNotNull())
        .select(cents("o_totalprice").alias("c"))
    )
    stats = v.agg(
        F.min("c").alias("lo"), F.max("c").alias("hi"), F.count("*").alias("n")
    )
    binned = (
        v.crossJoin(F.broadcast(stats))
        .groupBy(
            F.expr(f"((c - lo) * {_HB}) div (hi - lo + 1)").alias("bin"),
            "lo",
            "hi",
            "n",
        )
        .agg(F.count("*").alias("bc"))
    )
    cum = binned.withColumn(
        "cum",
        F.sum("bc")
        .over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(500), F.lit(900), F.lit(990))).alias(
            "q_milli"
        )
    )
    hits = (
        qs.join(
            F.broadcast(cum),
            F.col("cum") * 1000 >= F.col("q_milli") * F.col("n"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_milli").orderBy("bin")
            ),
        )
        .where(F.col("rn") == 1)
    )
    width = (F.col("hi") - F.col("lo") + 1).cast("double") / _HB
    est = hits.select(
        "q_milli",
        "n",
        F.round(
            F.col("lo")
            + (F.col("bin").cast("double") * (F.col("hi") - F.col("lo") + 1))
            / _HB
            + (
                (
                    F.col("q_milli").cast("double") * F.col("n") / 1000
                    - (F.col("cum") - F.col("bc"))
                )
                / F.col("bc")
            )
            * width
        )
        .cast("long")
        .alias("est_cents"),
    )
    v.createOrReplaceTempView("_hsp_vals")
    exact = spark.sql(
        """
        SELECT 500 AS q_milli,
               CAST(percentile_disc(0.500) WITHIN GROUP (ORDER BY c)
                    AS BIGINT) AS exact_cents FROM _hsp_vals
        UNION ALL
        SELECT 900, CAST(percentile_disc(0.900) WITHIN GROUP (ORDER BY c)
                    AS BIGINT) FROM _hsp_vals
        UNION ALL
        SELECT 990, CAST(percentile_disc(0.990) WITHIN GROUP (ORDER BY c)
                    AS BIGINT) FROM _hsp_vals
        """
    )
    return (
        est.join(exact, "q_milli")
        .select(
            "q_milli",
            "exact_cents",
            "est_cents",
            F.abs(F.col("est_cents") - F.col("exact_cents"))
            .cast("long")
            .alias("abs_err_cents"),
            F.col("n").cast("long"),
        )
    )


# --------------------------------------------------------------------
# Join-cardinality estimation audit (optimizer-style q-error).
# --------------------------------------------------------------------
@register(
    "join_cardinality_estimate_audit",
    """
    WITH a AS (
      SELECT COUNT(*) AS n_a,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_a
      FROM orders
    ), b AS (
      SELECT COUNT(*) AS n_b,
             CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS d_b
      FROM customer
    ), actual AS (
      SELECT CAST(SUM(CAST(oc.n AS HUGEINT) * cc.n) AS BIGINT) AS actual_rows
      FROM (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) oc
      JOIN (SELECT c_custkey AS k, COUNT(*) AS n FROM customer GROUP BY 1) cc
        ON cc.k = oc.k
    )
    SELECT n_a, d_a, n_b, d_b,
           -- floor() matches Spark's cast("long") truncation; DuckDB's
           -- bare CAST(double AS BIGINT) rounds-to-nearest instead
           CAST(floor(n_a * n_b / greatest(d_a, d_b)) AS BIGINT)
             AS est_rows,
           actual_rows,
           CAST(round(1000.0 * greatest(
                  floor(n_a * n_b / greatest(d_a, d_b))
                    / actual_rows,
                  CAST(actual_rows AS DOUBLE)
                    / floor(n_a * n_b / greatest(d_a, d_b))))
                AS BIGINT) AS q_error_milli
    FROM a CROSS JOIN b CROSS JOIN actual
    """,
    tags=("diagnostics", "optimizer", "join"),
)
def join_cardinality_estimate_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Optimizer-style join-cardinality estimation audited against
    truth: the textbook uniform-frequency estimate |A⋈B| ≈
    nₐ·n_b / max(dₐ, d_b) (System R's containment assumption) next
    to the EXACT size Σ_k cₐ(k)·c_b(k) from per-key histograms, with
    the q-error (max of over/under ratio) that cost-model literature
    grades estimators by. This is the diagnostic you run when a plan
    picks a bad join order: it tells you how wrong the stats were.

    Scale: the estimate needs two 1-row (count, distinct) aggregates;
    the truth needs per-key counts joined on the key — one shuffle
    each, sizes bounded by key cardinality. Both are the state a
    stats collector (ANALYZE) maintains anyway.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    # persisted: the per-key count tables serve BOTH the truth join
    # and the ANALYZE-style stats (row count = Σ per-key counts,
    # NDV = table length) — the separate agg-per-table stats passes
    # scanned each base twice (static audit: 4 scans -> 2); the
    # cache is one row per join key, exactly the state a stats
    # collector materializes anyway
    oc = (
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_o"))
        .persist()
    )
    cc = (
        c.groupBy(F.col("c_custkey").alias("k"))
        .agg(F.count("*").alias("n_c"))
        .persist()
    )
    # NDV via count("k"), not count("*"): the per-key table has one
    # row per group INCLUDING a NULL-key group when the join key is
    # nullable, while the oracle's COUNT(DISTINCT key) excludes NULLs
    # — count("k") skips the NULL-key row so d_a/d_b (and est_rows via
    # greatest(d_a,d_b)) agree on NULL-bearing fixtures (r8 advice)
    a = oc.agg(
        F.coalesce(F.sum("n_o"), F.lit(0)).cast("long").alias("n_a"),
        F.count("k").cast("long").alias("d_a"),
    )
    b = cc.agg(
        F.coalesce(F.sum("n_c"), F.lit(0)).cast("long").alias("n_b"),
        F.count("k").cast("long").alias("d_b"),
    )
    actual = (
        oc.join(cc, "k")
        # decimal operand: a hot key's c_a(k)·c_b(k) product is fine in
        # int64, but the Σ across keys is the JOIN SIZE — widen the
        # accumulator so intermediate sums can't wrap before the final
        # bounded cast (same discipline as the second-moment sums)
        .agg(
            F.sum(F.col("n_o").cast("decimal(38,0)") * F.col("n_c"))
            .cast("long")
            .alias("actual_rows")
        )
    )
    # try_divide throughout: on an empty table every count/distinct is
    # 0 (or the SUM is NULL) and the oracle's divisions yield NULL —
    # ANSI would error (all-empty sweep finding)
    est = F.try_divide(
        F.col("n_a") * F.col("n_b"), F.greatest("d_a", "d_b")
    ).cast("long")
    q_err = F.round(
        1000.0
        * F.greatest(
            F.try_divide(est.cast("double"), F.col("actual_rows")),
            F.try_divide(F.col("actual_rows").cast("double"), est),
        )
    ).cast("long")
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(actual))
        .select(
            "n_a",
            "d_a",
            "n_b",
            "d_b",
            est.alias("est_rows"),
            "actual_rows",
            q_err.alias("q_error_milli"),
        )
    )


# --------------------------------------------------------------------
# Out-of-order arrival audit (streaming watermark sizing input).
# --------------------------------------------------------------------
@register(
    "out_of_order_audit",
    """
    WITH seq AS (
      SELECT event_type, ts,
             lag(ts) OVER (PARTITION BY event_type ORDER BY event_id)
               AS prev_ts
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS BIGINT)
             AS n_backward,
           CAST(round(1000.0 * SUM(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS backward_milli,
           CAST(COALESCE(MAX(CASE WHEN ts < prev_ts
                    THEN epoch_us(prev_ts) - epoch_us(ts) END), 0)
                AS BIGINT) AS max_backward_us
    FROM seq
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("diagnostics", "streaming", "audit"),
)
def out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit: treating event_id as arrival order,
    count how often event time steps BACKWARD within each type and
    the worst backward jump in microseconds — exactly the disorder
    measurement that sizes a streaming watermark (the max backward
    jump is the lateness bound a `withWatermark` must cover to drop
    nothing).

    Scale: one lag window per type partition and one agg on the same
    partitioning — a single shuffle, no global ordering.
    """
    e = t(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        "ts",
        F.lag("ts")
        .over(Window.partitionBy("event_type").orderBy("event_id"))
        .alias("prev_ts"),
    )
    backward = F.when(F.col("ts") < F.col("prev_ts"), 1).otherwise(0)
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(backward).cast("long").alias("n_backward"),
            F.round(1000.0 * F.sum(backward) / F.count("*"))
            .cast("long")
            .alias("backward_milli"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("ts") < F.col("prev_ts"),
                        F.unix_micros("prev_ts") - F.unix_micros("ts"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("max_backward_us"),
        )
    )


# --------------------------------------------------------------------
# Dense global IDs without a global sort (banded two-phase ranking).
# --------------------------------------------------------------------
@register(
    "banded_dense_row_ids",
    """
    SELECT doc_id, n_chars,
           CAST(ROW_NUMBER() OVER (
             ORDER BY n_chars NULLS FIRST, doc_id) - 1 AS BIGINT)
             AS global_id
    FROM documents
    ORDER BY global_id
    """,
    tags=("ranking", "ids", "scale-pattern"),
)
def banded_dense_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global row IDs in (n_chars, doc_id) order WITHOUT a
    global sort: band rows by a value prefix (row-local key), rank
    within each band in parallel, compute per-band offsets from the
    tiny band-count summary, and add. The oracle is the naive global
    row_number — proving the banded two-phase assignment produces
    the IDENTICAL dense 0..N−1 numbering.

    This is the standard scale treatment for every "needs a global
    rank" ask (stable ids, global quantile ranks, total-order
    export): zipWithIndex without leaving the DataFrame API, and the
    same trick `orderkey_gap_audit` uses for its band hierarchy.

    Scale: the only global structure touched is the per-band count
    summary (#bands rows — value-domain-bounded); ranking windows
    partition by band and the data shuffles once on the band key.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # NULL n_chars gets its own FIRST band (-1): a NULL band key
    # would vanish at the offsets equi-join (NULL never joins — the
    # all-NULL fixture returned 0 rows) and NULLS FIRST matches
    # Spark's ASC default, pinned in the oracle (r9 null sweep)
    band = F.when(F.col("n_chars").isNull(), F.lit(-1)).otherwise(
        (F.col("n_chars") / 64).cast("long")
    )
    ranked = d.select(
        "doc_id",
        "n_chars",
        band.alias("band"),
        F.row_number()
        .over(
            Window.partitionBy(band).orderBy(
                F.asc_nulls_first("n_chars"), "doc_id"
            )
        )
        .alias("rnk"),
    )
    counts = ranked.groupBy("band").agg(F.count("*").alias("bn"))
    offsets = counts.select(
        "band",
        (
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("band").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).alias("off"),
    )
    return (
        ranked.join(F.broadcast(offsets), "band")
        .select(
            "doc_id",
            "n_chars",
            (F.col("off") + F.col("rnk") - 1).cast("long").alias("global_id"),
        )
    )


# --------------------------------------------------------------------
# Approximate query processing: sampled estimate + exact error.
# --------------------------------------------------------------------
_SAMPLE_MOD = 10  # keep 1/10 of rows, deterministically


@register(
    "sampled_aggregate_estimate",
    f"""
    WITH tagged AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice*100) AS BIGINT) AS cents,
             ('0x' || substring(md5('aqp:' || CAST(l_orderkey AS VARCHAR)
                || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT
               % {_SAMPLE_MOD} AS bucket
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(SUM(cents) AS BIGINT) AS exact_cents,
           CAST({_SAMPLE_MOD} * SUM(CASE WHEN bucket = 0
                                         THEN cents ELSE 0 END) AS BIGINT)
             AS est_cents,
           CAST(SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(round(1000.0 * abs({_SAMPLE_MOD} * SUM(CASE WHEN bucket = 0
                          THEN cents ELSE 0 END) - SUM(cents))
                      / SUM(cents)) AS BIGINT) AS rel_err_milli
    FROM tagged
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aqp", "sampling", "agg"),
)
def sampled_aggregate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing with honesty: estimate each
    return flag's revenue from a deterministic md5 1-in-10 row sample
    (Horvitz–Thompson scale-up ×10) and report the TRUE relative
    error against the exact sum — the sample-then-scale pattern every
    interactive AQP layer (BlinkDB-style) runs, with the error column
    the production version replaces by a CLT confidence interval.

    Scale: the sample predicate is row-local hashing (no RNG state,
    reproducible across engines and runs); estimate and truth reduce
    in ONE map-side-combined aggregate here for the audit — the
    production deployment scans only the pre-materialized sample
    partition, which is the entire point.
    """
    li = t(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("aqp:"),
                        F.col("l_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _SAMPLE_MOD
    )
    tagged = li.select(
        "l_returnflag",
        cents("l_extendedprice").alias("cents"),
        bucket.alias("bucket"),
    )
    in_sample = F.when(F.col("bucket") == 0, F.col("cents")).otherwise(0)
    est = (_SAMPLE_MOD * F.sum(in_sample)).cast("long")
    exact = F.sum("cents").cast("long")
    return (
        tagged.groupBy("l_returnflag")
        .agg(
            exact.alias("exact_cents"),
            est.alias("est_cents"),
            F.sum(F.when(F.col("bucket") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_sampled"),
            F.round(1000.0 * F.abs(est - exact) / exact)
            .cast("long")
            .alias("rel_err_milli"),
        )
    )


# --------------------------------------------------------------------
# Tie-safe argmax per group via max(struct) — no window, pure agg.
# --------------------------------------------------------------------
@register(
    "argmax_struct_per_type",
    """
    WITH totals AS (
      -- argmax over IDENTIFIED users with OBSERVED totals: a NULL
      -- struct field makes the lexicographic MAX engine-dependent
      -- (r9 mixed-null sweep)
      SELECT event_type, user_id,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(MAX({'c': cents, 'nu': -user_id}).c AS BIGINT) AS top_cents,
           CAST(-(MAX({'c': cents, 'nu': -user_id}).nu) AS BIGINT)
             AS top_user
    FROM totals
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "argmax"),
)
def argmax_struct_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-safe argmax as a pure aggregate: the top-spending user per
    event type via max(struct(value, -user_id)) — struct comparison
    is lexicographic, so ties on value break toward the SMALLEST
    user id deterministically, unlike `max_by` whose tie choice is
    engine/partition-dependent. One map-side-combined aggregate, no
    window, no shuffle beyond the group keys — the cheapest argmax
    shape and the one that stays exact under any partitioning.

    Scale: two chained aggs (user totals, then per-type max) on
    successively smaller keys; the struct max is associative and
    commutative, so partial aggregation is safe — contrast the
    row_number() formulation, which needs a per-type sort.
    """
    e = t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    totals = e.groupBy("event_type", "user_id").agg(
        F.sum(cents("value")).cast("long").alias("cents")
    )
    pick = F.max(
        F.struct(F.col("cents"), (-F.col("user_id")).alias("neg_user"))
    )
    return (
        totals.groupBy("event_type")
        .agg(pick.alias("m"))
        .select(
            "event_type",
            F.col("m.cents").cast("long").alias("top_cents"),
            (-F.col("m.neg_user")).cast("long").alias("top_user"),
        )
    )


# --------------------------------------------------------------------
# Incremental SCD2 merge: applying a delta equals the full rebuild.
# --------------------------------------------------------------------
_SCD2_CUT = "2024-01-22"


def _runs(df):
    """Collapse an event slice into (user, local version, type,
    n_events, valid_from_us) runs — the SCD2 derivation."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = (
        df.select("user_id", "event_type", "ts", "event_id")
        .withColumn(
            "chg",
            F.when(
                ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn("version", F.sum("chg").over(wrun))
    )
    return runs.groupBy("user_id", "version", "event_type").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_micros("ts")).alias("valid_from_us"),
    )


@register(
    "scd2_incremental_merge",
    """
    WITH e AS (
      -- dimension history needs a KEY: a NULL user_id is no entity
      -- (Kimball unknown-member routing happens upstream) — without
      -- this the incremental path's equi-joins on user_id can never
      -- merge the NULL entity's base and delta runs (r9 null sweep)
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), marked AS (
      SELECT *, CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                     THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    )
    SELECT user_id, CAST(run_id AS BIGINT) AS version,
           event_type, COUNT(*) AS n_events,
           MIN(epoch_us(ts)) AS valid_from_us
    FROM runs GROUP BY user_id, run_id, event_type
    ORDER BY user_id, version
    """,
    tags=("cdc", "temporal", "incremental"),
)
def scd2_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: the dimension history is built
    from events BEFORE the cut date, then the post-cut delta is
    MERGED in — the open (current) version extends if the delta
    starts with the same attribute value, otherwise it closes and
    the delta's runs append with shifted version numbers. The oracle
    is the FULL REBUILD over all events: a hash match proves the
    incremental apply is exactly equivalent, which is the entire
    contract of incremental dimension maintenance (and the property
    warehouse MERGE jobs silently assume).

    Scale: base and delta runs each take one user-partitioned
    window pass over their slice (the delta pass only touches new
    data — the point of incrementality); the merge is a per-user
    join of run summaries, shuffled on user_id only.
    """
    # NULL observation times are off the history axis (they would
    # also fall through BOTH the <cut and >=cut slices, silently
    # vanishing from the incremental build only; r9 null sweep)
    e = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    cut = F.lit(_SCD2_CUT).cast("timestamp")
    base = _runs(e.where(F.col("ts") < cut))
    delta = _runs(e.where(F.col("ts") >= cut))

    last = base.groupBy("user_id").agg(
        F.max(F.struct("version", "event_type")).alias("lv")
    ).select(
        "user_id",
        F.col("lv.version").alias("last_v"),
        F.col("lv.event_type").alias("last_type"),
    )
    # the delta's opening run is its MINIMUM version — NOT literally
    # 1: the run detector cannot mark a first row whose type is NULL
    # (lag NULL <=> NULL type is a continuation, so numbering starts
    # at 0 — the full rebuild shares the same convention, which is
    # why versions stay consistent as long as the stitch is RELATIVE
    # to the actual minimum; r9 null sweep)
    dmin = delta.groupBy("user_id").agg(F.min("version").alias("dmin"))
    first_delta = (
        delta.join(dmin, "user_id")
        .where(F.col("version") == F.col("dmin"))
        .select(
            "user_id",
            F.col("event_type").alias("first_type"),
            F.col("n_events").alias("first_n"),
            "dmin",
        )
    )
    # NULL-SAFE run stitching: the run detector (`IS DISTINCT FROM`)
    # continues a run of NULL attribute values, so the cross-cut merge
    # test must too — existence comes from the run markers (last_v /
    # first_n), equality from <=>. Requiring non-null TYPES split
    # every NULL run at the cut and shifted all later versions by one
    # vs the full rebuild (r9 null sweep).
    info = last.join(first_delta, "user_id", "full").select(
        "user_id",
        "last_v",
        "last_type",
        "first_type",
        "first_n",
        "dmin",
        (
            F.col("last_v").isNotNull()
            & F.col("first_n").isNotNull()
            & F.col("last_type").eqNullSafe(F.col("first_type"))
        ).alias("merges"),
    )

    b = base.join(info, "user_id", "left")
    base_out = b.select(
        "user_id",
        "version",
        "event_type",
        F.when(
            (F.col("version") == F.col("last_v")) & F.col("merges"),
            F.col("n_events") + F.col("first_n"),
        )
        .otherwise(F.col("n_events"))
        .alias("n_events"),
        "valid_from_us",
    )
    d = delta.join(info, "user_id", "left")
    # rel = the run's 0-based position within the delta — versioning
    # math anchored to dmin, not a literal 1 (see first_delta note)
    rel = F.col("version") - F.col("dmin")
    delta_out = d.where(
        ~(F.coalesce(F.col("merges"), F.lit(False)) & (rel == 0))
    ).select(
        "user_id",
        F.when(F.col("last_v").isNull(), F.col("version"))
        .when(F.col("merges"), F.col("last_v") + rel)
        .otherwise(F.col("last_v") + rel + 1)
        .cast("long")
        .alias("version"),
        "event_type",
        "n_events",
        "valid_from_us",
    )
    return (
        base_out.unionByName(delta_out)
        .select(
            "user_id",
            F.col("version").cast("long"),
            "event_type",
            "n_events",
            "valid_from_us",
        )
    )


# --------------------------------------------------------------------
# Inclusion-dependency (FK candidate) discovery by containment.
# --------------------------------------------------------------------
@register(
    "fk_containment_discovery",
    """
    WITH pairs AS (
      SELECT 'orders.o_custkey->customer.c_custkey' AS pair,
             (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS child_keys,
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT o_custkey FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM customer)))
               AS contained
      UNION ALL
      SELECT 'lineitem.l_partkey->part.p_partkey',
             (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT l_partkey FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part)))
      UNION ALL
      SELECT 'events.user_id->customer.c_custkey',
             (SELECT COUNT(DISTINCT user_id) FROM events),
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT user_id FROM events
                WHERE user_id IN (SELECT c_custkey FROM customer)))
    )
    SELECT pair,
           CAST(child_keys AS BIGINT) AS child_keys,
           CAST(contained AS BIGINT) AS contained,
           CAST(round(1000.0 * contained / child_keys) AS BIGINT)
             AS containment_milli,
           CAST(CASE WHEN contained = child_keys THEN 1 ELSE 0 END
                AS BIGINT) AS is_inclusion
    FROM pairs
    ORDER BY pair
    """,
    tags=("audit", "discovery", "keys"),
)
def fk_containment_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency discovery (the SPIDER/Bell–Brockhausen
    question): for each candidate FK edge, what fraction of the
    child's distinct keys exist in the parent — containment 1000‰
    means the edge is a valid foreign key; anything less localizes
    referential corruption before a join silently drops rows. The
    complement of `fk_integrity_violations` (which counts violating
    ROWS; this ranks candidate EDGES).

    Scale: each edge costs a distinct on the child side and a
    LEFT SEMI join against the parent keys (broadcast when the
    parent is a dimension) — the same state an ANALYZE-style stats
    collector gathers, and trivially parallel across edges.
    """

    def edge(pair: str, child, ckey: str, parent, pkey: str):
        ck = child.select(F.col(ckey).alias("k")).distinct()
        pk = parent.select(F.col(pkey).alias("k"))
        # count("k") not count("*"): the distinct table keeps a NULL
        # row when the FK is nullable, but COUNT(DISTINCT key) — and
        # FK containment itself — is defined over non-NULL keys (a
        # NULL FK violates nothing; r9 null sweep, same class as the
        # r8-advice NDV fix)
        n = ck.agg(
            F.count("k").alias("child_keys"),
        )
        inn = ck.join(pk.distinct(), "k", "semi").agg(
            F.count("*").alias("contained")
        )
        return (
            n.crossJoin(F.broadcast(inn))
            .select(
                F.lit(pair).alias("pair"),
                F.col("child_keys").cast("long"),
                F.col("contained").cast("long"),
                # try_divide: zero distinct child keys (empty child
                # table) → NULL milli like the oracle's x/0
                F.round(
                    F.try_divide(
                        1000.0 * F.col("contained"), F.col("child_keys")
                    )
                )
                .cast("long")
                .alias("containment_milli"),
                F.when(F.col("contained") == F.col("child_keys"), 1)
                .otherwise(0)
                .cast("long")
                .alias("is_inclusion"),
            )
        )

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    e = t(spark, sf_dir, "events")
    return (
        edge(
            "orders.o_custkey->customer.c_custkey", o, "o_custkey", c,
            "c_custkey",
        )
        .unionByName(
            edge(
                "lineitem.l_partkey->part.p_partkey", li, "l_partkey", p,
                "p_partkey",
            )
        )
        .unionByName(
            edge(
                "events.user_id->customer.c_custkey", e, "user_id", c,
                "c_custkey",
            )
        )
    )


# --------------------------------------------------------------------
# Bitmap audience overlap: AND + popcount on mergeable bitmap words.
# --------------------------------------------------------------------
@register(
    "bitmap_audience_overlap",
    """
    WITH bits AS (
      SELECT DISTINCT event_type, user_id // 32 AS word_idx,
             CAST(1 AS BIGINT) << (user_id % 32) AS mask
      FROM events
    ), words AS (
      SELECT event_type, word_idx,
             CAST(bit_or(mask) AS BIGINT) AS word
      FROM bits GROUP BY event_type, word_idx
    ), sizes AS (
      SELECT event_type,
             CAST(SUM(bit_count(word)) AS BIGINT) AS n_users
      FROM words GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(SUM(bit_count(a.word & b.word)) AS BIGINT) AS n_both
      FROM words a JOIN words b
        ON a.word_idx = b.word_idx AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    ), exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both_exact
      FROM (SELECT DISTINCT event_type, user_id FROM events) a
      JOIN (SELECT DISTINCT event_type, user_id FROM events) b
        ON b.user_id = a.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b,
           sa.n_users AS n_a, sb.n_users AS n_b,
           p.n_both, e.n_both_exact,
           CAST(CASE WHEN p.n_both = e.n_both_exact THEN 1 ELSE 0 END
                AS BIGINT) AS bitmap_matches_exact
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    JOIN exact e ON e.type_a = p.type_a AND e.type_b = p.type_b
    ORDER BY p.type_a, p.type_b
    """,
    tags=("sketch", "bitmap", "setops"),
)
def bitmap_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix on mergeable bitmap state: each event
    type's user set becomes 32-bit words (bit_or-mergeable — the
    roaring-bitmap pattern in plain SQL types); pairwise overlap is
    word-wise AND + popcount on the word summaries, NEVER on raw
    rows. The relationally-computed exact intersection rides along
    and the match flag proves the bitmap algebra is exact, not
    approximate — the difference from HLL intersection estimates.

    Scale: bitmap build is one distinct + bit_or agg (words are
    user-domain/32 rows per audience); every pairwise overlap reads
    ONLY word summaries joined on word_idx. At sparse-id scale,
    add a bucket level (hash ids into dense per-bucket ranges) —
    the same two-level layout roaring uses.
    """
    e = t(spark, sf_dir, "events")
    bits = e.select(
        "event_type",
        F.expr("user_id div 32").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
        .alias("mask"),
    ).distinct()
    # word summaries feed sizes + both pair sides — persist so the
    # events scan + distinct + bit_or agg run once (round-5 plan
    # audit: 6 scans / 11 exchanges without it)
    words = bits.groupBy("event_type", "word_idx").agg(
        F.bit_or("mask").cast("long").alias("word")
    ).persist()
    sizes = words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_users")
    )
    a = words.select(
        F.col("event_type").alias("type_a"),
        "word_idx",
        F.col("word").alias("wa"),
    )
    b = words.select(
        F.col("event_type").alias("type_b"),
        "word_idx",
        F.col("word").alias("wb"),
    )
    pairs = (
        a.join(b, "word_idx")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
            .cast("long")
            .alias("n_both")
        )
    )
    du = e.select("event_type", "user_id").distinct().persist()
    exact = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both_exact"))
    )
    return (
        pairs.join(
            sizes.select(
                F.col("event_type").alias("type_a"),
                F.col("n_users").alias("n_a"),
            ),
            "type_a",
        )
        .join(
            sizes.select(
                F.col("event_type").alias("type_b"),
                F.col("n_users").alias("n_b"),
            ),
            "type_b",
        )
        .join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            "n_both_exact",
            F.when(F.col("n_both") == F.col("n_both_exact"), 1)
            .otherwise(0)
            .cast("long")
            .alias("bitmap_matches_exact"),
        )
    )
