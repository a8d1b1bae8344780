"""Round-5 coverage batch: infrastructure-planning operators.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

_HRW_OLD = 8  # shard count before scale-out
_HRW_NEW = 9  # shard count after


def _enc_sql(shard: int) -> str:
    """DuckDB rendezvous weight for (c_custkey, shard), encoded as
    weight·16 + shard so argmax is a plain integer MAX (ties on the
    32-bit weight break toward the larger shard id — identically in
    both engines, no struct-comparison semantics needed)."""
    return (
        f"(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':{shard}'),"
        f" 1, 8))::BIGINT * 16 + {shard})"
    )


@register(
    "rendezvous_shard_move_audit",
    f"""
    WITH a AS (
      SELECT c_custkey,
             greatest({", ".join(_enc_sql(s) for s in range(_HRW_OLD))}) % 16
               AS old_shard,
             greatest({", ".join(_enc_sql(s) for s in range(_HRW_NEW))}) % 16
               AS new_shard
      FROM customer
    )
    SELECT CAST(old_shard AS BIGINT) AS old_shard,
           COUNT(*) AS n_keys,
           CAST(SUM(CASE WHEN new_shard = {_HRW_NEW - 1} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST(SUM(CASE WHEN new_shard != old_shard
                          AND new_shard != {_HRW_NEW - 1} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_illegal,
           CAST((1000 * SUM(CASE WHEN new_shard = {_HRW_NEW - 1}
                                 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
             AS moved_milli
    FROM a
    GROUP BY old_shard
    ORDER BY old_shard
    """,
    tags=("infra", "sharding", "hash"),
)
def rendezvous_shard_move_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing scale-out audit
    (Thaler & Ravishankar 1998): assign every customer key to
    argmax_s weight(key, s) over {OLD} shards and again over {NEW},
    and account the movement. HRW's minimal-disruption guarantee —
    a key moves ONLY if the new shard wins its rendezvous, so every
    move targets shard {NEWIDX} and the expected moved fraction is
    1/{NEW} — is verified exactly: ``n_illegal`` (moves to any other
    shard) must be 0 on every row, and ``moved_milli`` ≈ {EXP}‰.
    This is the audit run before resharding a 100-TB keyed store
    (shuffle state, bucketed tables, sticky routing) to bound the
    data that will actually migrate.

    Exactness: weights are the first 8 md5 hex digits of ``key:shard``
    — deterministic literals in both engines; the argmax is encoded
    as ``weight·16 + shard`` so a plain integer ``greatest`` resolves
    it (ties on the 32-bit weight break toward the larger shard id,
    identically everywhere — no struct-ordering semantics involved).

    Scale shape: entirely row-local (one scan, {TOT} md5s per key,
    no join); the single shuffle carries one row per (old_shard) —
    bounded by the shard count, not the key count.
    """
    enc = [
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("c_custkey").cast("string"),
                            F.lit(f":{s}"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            * 16
            + s
        )
        for s in range(_HRW_NEW)
    ]
    a = t(spark, sf_dir, "customer").select(
        (F.greatest(*enc[:_HRW_OLD]) % 16).alias("old_shard"),
        (F.greatest(*enc) % 16).alias("new_shard"),
    )
    new_idx = _HRW_NEW - 1
    moved = F.sum(F.when(F.col("new_shard") == new_idx, 1).otherwise(0))
    return (
        a.groupBy(F.col("old_shard").cast("long").alias("old_shard"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            moved.cast("long").alias("n_moved"),
            F.sum(
                F.when(
                    (F.col("new_shard") != F.col("old_shard"))
                    & (F.col("new_shard") != new_idx),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_illegal"),
            F.expr(f"CAST((1000 * sum(CASE WHEN new_shard = {new_idx}"
                   " THEN 1 ELSE 0 END)) div count(1) AS BIGINT)")
            .alias("moved_milli"),
        )
    )


rendezvous_shard_move_audit.__doc__ = (
    rendezvous_shard_move_audit.__doc__
    .replace("{OLD}", str(_HRW_OLD))
    .replace("{NEWIDX}", str(_HRW_NEW - 1))
    .replace("{NEW}", str(_HRW_NEW))
    .replace("{EXP}", str(round(1000 / _HRW_NEW)))
    .replace("{TOT}", str(_HRW_NEW))
)


# --------------------------------------------------------------------
# k-core decomposition (3 unrolled peeling rounds) over co-purchase.
# --------------------------------------------------------------------
_KCORE_K = 110


@register(
    "kcore_peeling_rounds",
    f"""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    d1 AS (SELECT v, COUNT(*) AS d FROM
           (SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0) GROUP BY v),
    s1 AS (SELECT v FROM d1 WHERE d >= {_KCORE_K}),
    e1 AS (SELECT pa, pb FROM e0 WHERE pa IN (SELECT v FROM s1)
                                   AND pb IN (SELECT v FROM s1)),
    d2 AS (SELECT v, COUNT(*) AS d FROM
           (SELECT pa AS v FROM e1 UNION ALL SELECT pb FROM e1) GROUP BY v),
    s2 AS (SELECT v FROM d2 WHERE d >= {_KCORE_K}),
    e2 AS (SELECT pa, pb FROM e1 WHERE pa IN (SELECT v FROM s2)
                                   AND pb IN (SELECT v FROM s2)),
    d3 AS (SELECT v, COUNT(*) AS d FROM
           (SELECT pa AS v FROM e2 UNION ALL SELECT pb FROM e2) GROUP BY v),
    s3 AS (SELECT v FROM d3 WHERE d >= {_KCORE_K}),
    e3 AS (SELECT pa, pb FROM e2 WHERE pa IN (SELECT v FROM s3)
                                   AND pb IN (SELECT v FROM s3))
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS round,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_edges
      UNION ALL
      SELECT 2, (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM e2)
      UNION ALL
      SELECT 3, (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM e3)
    ) ORDER BY round
    """,
    tags=("graph", "kcore", "analytics"),
)
def kcore_peeling_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (Seidman 1983) of the co-purchase graph,
    three unrolled synchronous peeling rounds at k={K}: each round
    drops every part whose degree among current survivors is < k and
    re-restricts the edge set — the standard graph-robustness /
    community-density primitive (a node in the k-core has ≥ k
    neighbors that THEMSELVES survive). The per-round (n_nodes,
    n_edges) trajectory is the decomposition's signature; at the gate
    SF the cascade is 1203 → 77 → 0 (no {K}-core exists — itself the
    finding).

    Scale shape: edges build once (persisted; one shuffle on the
    orderkey basket self-join, then distinct); each round is a
    map-side-combined degree count plus two semi-joins, all
    shuffle-on-node-id; per-round survivor/edge sets are
    lineage-truncated (lazy localCheckpoint — the registry's
    iterative-algorithm pattern) so the unroll's cost stays linear in
    rounds. Synchronous peeling converges to the true k-core in
    O(diameter) rounds; 3 are unrolled here, the production dial.
    """
    li = t(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    b2 = basket.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb")
    )
    edges = (
        basket.join(b2, (F.col("l_orderkey") == F.col("o2"))
                    & (F.col("l_partkey") < F.col("pb")))
        .select(F.col("l_partkey").alias("pa"), "pb")
        .distinct()
        .persist()
    )

    rows = []
    e_cur = edges
    for rnd in range(1, 4):
        deg = (
            e_cur.select(F.col("pa").alias("v"))
            .unionAll(e_cur.select(F.col("pb").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        surv = deg.filter(F.col("d") >= _KCORE_K).select("v")
        e_next = (
            e_cur.join(surv.withColumnRenamed("v", "pa"), "pa", "left_semi")
            .join(surv.withColumnRenamed("v", "pb"), "pb", "left_semi")
            .select("pa", "pb")
            .localCheckpoint(eager=False)
        )
        row = (
            surv.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .crossJoin(
                e_next.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            )
            .select(
                F.lit(rnd).cast("long").alias("round"),
                "n_nodes",
                "n_edges",
            )
        )
        rows.append(row)
        e_cur = e_next

    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


kcore_peeling_rounds.__doc__ = kcore_peeling_rounds.__doc__.replace(
    "{K}", str(_KCORE_K)
)


# --------------------------------------------------------------------
# Quantile normalization of per-source scores onto the global
# distribution (cross-source score comparability).
# --------------------------------------------------------------------
_QN_GRID = 1000  # milli-quantile lookup resolution


@register(
    "quantile_normalize_scores",
    f"""
    WITH s AS (
      -- a quantile map is over OBSERVED scores (r9 mixed-null sweep)
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score
      FROM documents WHERE n_chars IS NOT NULL
    ), qt AS (
      SELECT CAST(m - 1 AS BIGINT) AS milli,
             round(q, 6) AS qv
      FROM (
        SELECT unnest(quantile_cont(score,
                 list_transform(range(0, {_QN_GRID + 1}),
                                i -> i / {_QN_GRID}.0))) AS q,
               generate_subscripts(quantile_cont(score,
                 list_transform(range(0, {_QN_GRID + 1}),
                                i -> i / {_QN_GRID}.0)), 1) AS m
        FROM s
      )
    ), ranked AS (
      SELECT doc_id, source, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n_s
      FROM s
    ), mapped AS (
      SELECT source, score,
             CAST((r - 1) * 10 // n_s AS BIGINT) AS decile,
             CAST(round({_QN_GRID}.0 * (2 * r - 1) / (2 * n_s)) AS BIGINT)
               AS milli
      FROM ranked
    )
    SELECT m.source, m.decile,
           COUNT(*) AS n_docs,
           CAST(CAST(SUM(m.score) AS VARCHAR) AS DOUBLE) AS sum_raw,
           round(SUM(q.qv) / COUNT(*), 6) AS avg_norm
    FROM mapped m JOIN qt q ON q.milli = m.milli
    GROUP BY m.source, m.decile
    ORDER BY m.source, m.decile
    """,
    tags=("mlprep", "stats", "normalization"),
)
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document scores onto the
    GLOBAL score distribution — the standard cross-source
    comparability transform (a '90th-percentile-within-its-source'
    doc maps to the corpus-wide 90th-percentile value, so thresholds
    tuned globally apply per source without refitting). Each doc's
    within-source midpoint rank (2r−1)/2n maps through a
    {GRID}-point global quantile lookup (percentile_cont — the
    interpolating quantile both engines compute identically, 6dp
    parity contract); the output is per (source, within-source
    decile): doc count, exact raw-score sum, and the mean normalized
    value.

    Scale shape: the global quantile table is ONE aggregate (no
    global sort — percentile's buffers, not a total order) exploded
    to a config-bounded {GRID}+1-row broadcast table; per-source
    ranks are a window over the source partition; the lookup is a
    broadcast equi-join on the milli bucket. Nothing data-sized
    crosses the wire except the (source, decile) partials.
    """
    s = (
        t(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull())
        .select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("score")
        )
    )
    fracs = F.array(
        *[F.lit(i / _QN_GRID) for i in range(_QN_GRID + 1)]
    )
    qt = (
        s.agg(F.percentile("score", fracs).alias("qs"))
        .select(F.posexplode("qs").alias("milli", "qv"))
        .select(
            F.col("milli").cast("long").alias("milli"),
            F.round("qv", 6).alias("qv"),
        )
    )
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    ranked = s.select(
        "source",
        "score",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
    )
    mapped = ranked.select(
        "source",
        "score",
        F.expr("CAST((r - 1) * 10 div n_s AS BIGINT)").alias("decile"),
        F.round(
            F.lit(float(_QN_GRID)) * (2 * F.col("r") - 1) / (2 * F.col("n_s"))
        )
        .cast("long")
        .alias("milli"),
    )
    return (
        mapped.join(F.broadcast(qt), "milli")
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("score").cast("decimal(38,0)"))
            .cast("double")
            .alias("sum_raw"),
            F.round(F.sum("qv") / F.count(F.lit(1)), 6).alias("avg_norm"),
        )
    )


quantile_normalize_scores.__doc__ = quantile_normalize_scores.__doc__.replace(
    "{GRID}", str(_QN_GRID)
)
