"""Graphs over the relational tables: the part co-purchase graph
(triangles, local clustering, link prediction, assortativity, k-core,
connected components), BFS frontiers, recursive chains and PageRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


def _copurchase_edges(spark: SparkSession, sf_dir: str, m: int) -> DataFrame:
    """The part co-purchase graph on the ``l_partkey % m == 0`` slice:
    distinct undirected edges ``(u, v)`` with ``u < v`` between parts
    bought in the same order. Not persisted; callers that read the
    edges more than once persist them."""
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % m == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
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
    e = (
        _copurchase_edges(spark, sf_dir, _ASSORT_MOD)
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


# ------------------------------------------------------------------
# Local clustering coefficient over the part co-purchase graph.
# ------------------------------------------------------------------
_LCC_MOD = 4  # same sparse slice as triangle_count_copurchase
_LCC_TOP = 20


@register(
    "local_clustering_coefficient",
    f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey % {_LCC_MOD} = 0
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ), tcount AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
        SELECT a AS node FROM tri UNION ALL
        SELECT b AS node FROM tri UNION ALL
        SELECT c AS node FROM tri
      ) GROUP BY node
    )
    SELECT d.node, d.degree,
           CAST(COALESCE(tc.triangles, 0) AS BIGINT) AS triangles,
           CAST(round(1000.0 * 2 * COALESCE(tc.triangles, 0)
                      / (d.degree * (d.degree - 1))) AS BIGINT)
             AS lcc_milli
    FROM deg d LEFT JOIN tcount tc ON tc.node = d.node
    WHERE d.degree >= 2
    ORDER BY lcc_milli DESC, d.degree DESC, d.node
    LIMIT {_LCC_TOP}
    """,
    tags=("graph", "structure"),
)
def local_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient (Watts & Strogatz 1998) per node
    of the part co-purchase graph (same sparse slice as
    `triangle_count_copurchase`): 2·T_i / (k_i·(k_i−1)), the fraction
    of a node's neighbor pairs that are themselves connected. Each
    canonical triangle (a<b<c) credits all three corners; nodes with
    degree < 2 are undefined and excluded. Top-{K} by coefficient
    (ties broken by degree then node id — fully deterministic).

    Scale shape: edge generation shuffles on order key (bounded
    fanout); degrees are one map-side-combined agg over the edge
    endpoints; the triangle closure is the same two endpoint-keyed
    joins as the global count, re-aggregated per corner; the top-k is
    a TakeOrderedAndProject. Skew guard at 100 TB: cap or salt
    super-node degrees before the closure join (AQE skew-join
    handles moderate cases).
    """
    e = (
        _copurchase_edges(spark, sf_dir, _LCC_MOD)
        # the edge table feeds FIVE branches (deg twice, e1/e2/e3) —
        # persist so the li⨝li self-join + distinct behind it runs
        # once, not once per reference (round-6 audit: 44 exchanges)
        .persist()
    )
    # explode-of-array instead of a 2-way union: ONE reference to the
    # edge table, so the plan carries one scan of it, not two
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    # one reference to the triangle closure (not three union arms —
    # each arm re-plans the two closure joins)
    tcount = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    tr = F.coalesce(F.col("triangles"), F.lit(0)).cast("long")
    return (
        deg.join(tcount, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "node",
            "degree",
            tr.alias("triangles"),
            F.round(
                1000.0
                * 2
                * tr
                / (F.col("degree") * (F.col("degree") - 1))
            )
            .cast("long")
            .alias("lcc_milli"),
        )
        .orderBy(
            F.col("lcc_milli").desc(), F.col("degree").desc(), "node"
        )
        .limit(_LCC_TOP)
    )


local_clustering_coefficient.__doc__ = (
    local_clustering_coefficient.__doc__.replace("{K}", str(_LCC_TOP))
)


# ------------------------------------------------------------------
# Common-neighbors / Jaccard link prediction.
# ------------------------------------------------------------------
_LP_MOD = 6  # sparser slice: candidate pairs grow with degree²
_LP_TOP = 15


@register(
    "common_neighbors_link_prediction",
    f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey % {_LP_MOD} = 0
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), adj AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM adj GROUP BY u
    ), cand AS (
      SELECT x.u AS a, y.u AS b, CAST(COUNT(*) AS BIGINT) AS cn
      FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u
      GROUP BY x.u, y.u
    ), nonedge AS (
      SELECT c.a, c.b, c.cn FROM cand c
      LEFT JOIN e ON e.u = c.a AND e.v = c.b
      WHERE e.u IS NULL
    )
    SELECT n.a, n.b, n.cn,
           CAST(round(1000.0 * n.cn
                      / (da.degree + db.degree - n.cn)) AS BIGINT)
             AS jaccard_milli
    FROM nonedge n
    JOIN deg da ON da.node = n.a
    JOIN deg db ON db.node = n.b
    ORDER BY jaccard_milli DESC, n.cn DESC, n.a, n.b
    LIMIT {_LP_TOP}
    """,
    tags=("graph", "link-prediction"),
)
def common_neighbors_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link prediction by neighborhood overlap (Liben-Nowell &
    Kleinberg 2003) on a sparse part co-purchase slice: every
    NON-adjacent pair sharing ≥1 neighbor is scored by Jaccard
    |Γa∩Γb| / |Γa∪Γb| — the "customers who bought these also bought
    together" candidate generator. Existing edges are anti-joined
    out; top-{K} by score with exact integer tie-breaks.

    Scale shape: candidate generation is the adjacency self-join on
    the SHARED NEIGHBOR (an inverted-index join — pairs are produced
    only where evidence exists, never enumerated); the anti-join and
    two degree lookups are key-bounded equi-joins. Super-node fanout
    is the quadratic term at 100 TB: cap or sample neighbor lists
    above a degree bound before the self-join (the same guard as the
    AllPairs set-similarity row).
    """
    e = (
        _copurchase_edges(spark, sf_dir, _LP_MOD)
        # read by the adj union (2×) and the non-edge anti-join —
        # persist so the self-join + distinct runs once (r6 audit: 34)
        .persist()
    )
    adj = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()  # read by deg and both sides of the candidate join
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    x, y = adj.alias("x"), adj.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.v") == F.col("y.v"))
            & (F.col("x.u") < F.col("y.u")),
        )
        .groupBy(F.col("x.u").alias("a"), F.col("y.u").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    nonedge = cand.join(
        e,
        (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
        "left_anti",
    )
    da = deg.select(
        F.col("node").alias("na"), F.col("degree").alias("dega")
    )
    db = deg.select(
        F.col("node").alias("nb"), F.col("degree").alias("degb")
    )
    return (
        nonedge.join(da, F.col("a") == F.col("na"))
        .join(db, F.col("b") == F.col("nb"))
        .select(
            "a",
            "b",
            "cn",
            F.round(
                1000.0
                * F.col("cn")
                / (F.col("dega") + F.col("degb") - F.col("cn"))
            )
            .cast("long")
            .alias("jaccard_milli"),
        )
        .orderBy(
            F.col("jaccard_milli").desc(), F.col("cn").desc(), "a", "b"
        )
        .limit(_LP_TOP)
    )


common_neighbors_link_prediction.__doc__ = (
    common_neighbors_link_prediction.__doc__.replace("{K}", str(_LP_TOP))
)


_RECURSIVE_CHAIN_SQL = """
    WITH RECURSIVE edges AS (
      SELECT child.n_nationkey AS child,
             MAX(parent.n_nationkey) AS parent
      FROM nation child
      JOIN nation parent
        ON parent.n_regionkey = child.n_regionkey
       AND parent.n_nationkey < child.n_nationkey
      GROUP BY child.n_nationkey
    ),
    chain AS (
      SELECT n.n_nationkey AS nationkey,
             n.n_nationkey AS root,
             0 AS depth
      FROM nation n
      WHERE n.n_nationkey NOT IN (SELECT child FROM edges)
      UNION ALL
      SELECT e.child AS nationkey, c.root, c.depth + 1 AS depth
      FROM chain c JOIN edges e ON e.parent = c.nationkey
    )
    SELECT c.nationkey, c.root, c.depth, n.n_name
    FROM chain c JOIN nation n ON n.n_nationkey = c.nationkey
    ORDER BY c.nationkey
"""


@register(
    "recursive_cte_nation_chains",
    _RECURSIVE_CHAIN_SQL,
    tags=("sql", "graph", "recursive"),
)
def recursive_cte_nation_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4.0 SQL): walk per-region nation
    chains (each nation's parent = the region's next-smaller key) and
    emit depth + chain root. Identical recursive SQL runs on DuckDB —
    the engine parity point is that hierarchy expansion no longer
    needs a driver-side loop (contrast dedup_clusters_minhash, which
    predates this and iterates in Python). Iteration count is bounded
    by the longest chain; each step is a hash join on the (tiny) edge
    table."""
    from filemapreduce_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_CHAIN_SQL)


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
    e = _copurchase_edges(spark, sf_dir, 4)
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


# ------------------------------------------------------------------
# Connected components (iterative min-label propagation).
# ------------------------------------------------------------------
_CC_MOD = 7  # part-key filter keeping the co-purchase graph sparse
_CC_MAX_ITERS = 64  # >> any plausible diameter of the test graphs


@register(
    "connected_components_minlabel",
    f"""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey % {_CC_MOD} = 0
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), adj AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), nodes AS (
      SELECT DISTINCT l_partkey AS node FROM li
    ), walk(node, lbl) AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT a.v AS node, w.lbl
      FROM walk w JOIN adj a ON a.u = w.node
      WHERE w.lbl < a.v
    )
    SELECT node, CAST(MIN(lbl) AS BIGINT) AS comp
    FROM walk GROUP BY node ORDER BY node
    """,
    tags=("graph", "iterative", "components"),
)
def connected_components_minlabel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components of the sparse part co-purchase graph
    (parts with key % {M} = 0, edges = co-occurrence in an order) by
    iterative min-label propagation: every node starts labeled with
    its own id and repeatedly takes the minimum of its own and its
    neighbors' labels until a fixpoint — the converged label is the
    component's minimum node id, exactly what the recursive-CTE
    oracle computes. Convergence is detected from the global label
    SUM: labels only ever decrease, so an unchanged sum IS the
    fixpoint (one cheap 1-row action per round, no change-count
    join). Each round localCheckpoints the label state, keeping plan
    depth constant however many rounds run (the kmeans/PageRank
    discipline).

    Scale shape: per round one equi-join labels⨝adjacency (shuffle on
    node id, both sides partitioned identically) + a map-side-
    combined min-agg. Rounds = graph diameter; at 100 TB with
    long-chain graphs the same loop drops in large-star/small-star
    rewiring (Kiveris et al. 2014) to force O(log n) rounds — the
    per-round dataflow shape is unchanged.
    """
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % _CC_MOD == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = _copurchase_edges(spark, sf_dir, _CC_MOD)
    adj = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()  # materialize once; reused every round
    labels = li.select(F.col("l_partkey").alias("node")).distinct()
    labels = labels.select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(_CC_MAX_ITERS):
        nbr = (
            adj.join(labels, adj["u"] == labels["node"])
            .groupBy("v")
            .agg(F.min("lbl").alias("nlbl"))
        )
        labels = (
            labels.join(nbr, labels["node"] == nbr["v"], "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components_minlabel: no fixpoint within "
            f"{_CC_MAX_ITERS} rounds — graph diameter exceeds the cap"
        )
    return labels.select(
        "node", F.col("lbl").cast("long").alias("comp")
    )


connected_components_minlabel.__doc__ = (
    connected_components_minlabel.__doc__.replace("{M}", str(_CC_MOD))
)


# --------------------------------------------------------------------
# Graph: triangle counting on the co-purchase graph.
# --------------------------------------------------------------------
@register(
    "triangle_count_copurchase",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM tri) AS n_triangles
    """,
    tags=("graph",),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts are
    adjacent when they appear in the same order; sampled to every 4th
    part key): the canonical two-hash-join graph pattern. Edges are
    canonically oriented (u < v), so each triangle is produced exactly
    once — no /6 correction, no cross join anywhere.

    Scale shape: edge generation shuffles on order key (bounded fanout
    — orders have ≤7 lines, so ≤21 pairs each); the triangle closure
    is two shuffles on edge endpoints. Skew guard at 100 TB: cap or
    salt super-node degrees before the closure join (AQE skew-join
    handles moderate cases).
    """
    e = (
        _copurchase_edges(spark, sf_dir, 4)
        # read by e1/e2/e3 AND the edge count — persist so the li⨝li
        # self-join + distinct runs once (round-6 audit: 17 exchanges)
        .persist()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = e1.join(e2, F.col("e1.v") == F.col("e2.u")).join(
        e3,
        (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return n_edges.crossJoin(n_tri)


# --------------------------------------------------------------------
# Graph: PageRank (2 unrolled iterations, exact integer arithmetic).
# --------------------------------------------------------------------
@register(
    "pagerank_trade_2iter",
    """
    WITH e AS (
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
    ),
    nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    params AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    r0 AS (SELECT n, 1000000000000 // p.n_nodes AS r
           FROM nodes CROSS JOIN params p),
    it1 AS (
      SELECT nd.n, (150000000000 // p.n_nodes)
             + COALESCE(SUM((r0.r * 85) // (100 * dg.d)), 0) AS r
      FROM nodes nd CROSS JOIN params p
      LEFT JOIN e ON e.dst = nd.n
      LEFT JOIN r0 ON r0.n = e.src
      LEFT JOIN deg dg ON dg.src = e.src
      GROUP BY nd.n, p.n_nodes
    ),
    it2 AS (
      SELECT nd.n, (150000000000 // p.n_nodes)
             + COALESCE(SUM((it1.r * 85) // (100 * dg.d)), 0) AS r
      FROM nodes nd CROSS JOIN params p
      LEFT JOIN e ON e.dst = nd.n
      LEFT JOIN it1 ON it1.n = e.src
      LEFT JOIN deg dg ON dg.src = e.src
      GROUP BY nd.n, p.n_nodes
    )
    SELECT it2.n AS nationkey, nn.n_name AS nation, CAST(it2.r AS BIGINT) AS rank_e12
    FROM it2 JOIN nation nn ON nn.n_nationkey = it2.n
    ORDER BY nationkey
    """,
    tags=("graph", "iterative"),
)
def pagerank_trade_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 2 unrolled iterations) on the
    supplier-nation → customer-nation trade graph, in EXACT integer
    arithmetic: ranks are scaled to 1e12 units and every contribution
    is the floor division (r·85) div (100·deg), so partial-agg order
    cannot perturb the result and the oracle matches bit-for-bit.
    Dangling-node mass is dropped (the standard simplification);
    floor-division remainders shrink total mass deterministically.

    Scale shape — the canonical iterative-graph pattern: per
    iteration, join the rank table to edges on src (broadcast when
    ranks are node-count-small; shuffle-hash on the key otherwise)
    and re-aggregate on dst. The driver loop only composes plans; no
    data visits the driver except the node count.
    """
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("n"))
        .union(e.select(F.col("dst").alias("n")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n_nodes = nodes.count()  # the only driver-side scalar
    if n_nodes == 0:
        # degenerate graph (no cross-nation trades): the oracle's CTE
        # chain yields zero rows; mirror it instead of dividing by
        # zero below (ultra-sparse sweep finding)
        return spark.createDataFrame(
            [], "nationkey INT, nation STRING, rank_e12 BIGINT"
        )
    r0_val = 10**12 // n_nodes
    base = 150000000000 // n_nodes

    ew = e.join(deg, "src")  # (src, dst, d) — degree attached once
    ranks = nodes.withColumn("r", F.lit(r0_val).cast("long"))
    for _ in range(2):
        contribs = ew.join(ranks, ew.src == ranks.n).select(
            F.col("dst"),
            F.expr("(r * 85) div (100 * d)").alias("contrib"),
        )
        incoming = contribs.groupBy("dst").agg(
            F.sum("contrib").alias("in_mass")
        )
        ranks = (
            nodes.join(incoming, nodes.n == incoming.dst, "left")
            .select(
                F.col("n"),
                (F.lit(base) + F.coalesce("in_mass", F.lit(0)))
                .cast("long")
                .alias("r"),
            )
            # one tiny row per node: truncating lineage per iteration
            # keeps plan depth constant for arbitrary iteration counts
            .localCheckpoint()
        )
    nn = t(spark, sf_dir, "nation")
    return (
        ranks.join(F.broadcast(nn), ranks.n == nn.n_nationkey)
        .select(
            F.col("n").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.col("r").alias("rank_e12"),
        )
    )
