"""Round-5 spatial batch: polygon containment and hierarchical cell
rollup.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Point-in-polygon assignment: the zone-assignment join every
  geo pipeline starts with (which delivery zone / sales territory /
  geofence is this point in), done with EXACT integer ray casting —
  crossing tests reduce to integer cross-product sign comparisons,
  so there is no epsilon and no float anywhere.
- Quadkey rollup: the Bing-maps-style hierarchical cell id
  (level-L digit = interleaved x/y bits) aggregated at three zoom
  levels in one pass — the multi-resolution spatial histogram
  (H3/S2 shape) that powers density maps and spatial partitioning
  decisions.

Both operate on the registry's deterministic md5-derived point
cloud (the `geo_radius_join_customers` coordinate bridge), held in
integer micro-units of a 1e6x1e6 box so every comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t

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
