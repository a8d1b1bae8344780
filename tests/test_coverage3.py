"""Invariant tests for the round-3 coverage batch (gaps and islands,
proration, gap fill, BFS, rank fusion, the key-gap audit).

The DuckDB oracle gate already checks value parity; these tests check
the SEMANTIC invariants the oracles can't see on their own — exact
conservation (proration), completeness (gap audit reconstructs the
key set), island disjointness, interpolation boundedness, and BFS
level minimality.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark.queries import load_all

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_proration_conserves_order_totals(spark, registry):
    """Per-order allocation sums must equal the order total EXACTLY
    (the whole point of largest-remainder rounding)."""
    alloc = registry["proration_largest_remainder"].fn(spark, SF_SMALL)
    totals = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("total_cents"),
        )
    )
    mismatch = (
        alloc.groupBy("l_orderkey")
        .agg(F.sum("alloc_cents").alias("allocated"))
        .join(totals, "l_orderkey")
        .filter(F.col("allocated") != F.col("total_cents"))
        .count()
    )
    assert mismatch == 0


def test_proration_allocations_near_proportional(spark, registry):
    """Largest-remainder allocations differ from the exact
    proportional share by less than one cent."""
    alloc = registry["proration_largest_remainder"].fn(spark, SF_SMALL)
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    from pyspark.sql import Window

    w_seq = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_quantity"
    )
    lines = li.select(
        "l_orderkey",
        F.row_number().over(w_seq).cast("long").alias("line_seq"),
        F.round("l_quantity").cast("long").alias("qty"),
    )
    joined = (
        alloc.join(lines, ["l_orderkey", "line_seq"])
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.round(F.col("o_totalprice") * 100)
                .cast("long")
                .alias("total_cents"),
            ),
            "l_orderkey",
        )
        .join(
            lines.groupBy("l_orderkey").agg(F.sum("qty").alias("total_qty")),
            "l_orderkey",
        )
    )
    # |alloc - total*qty/totq| < 1 cent  ⇔  |alloc*totq - total*qty| < totq
    bad = joined.filter(
        F.abs(
            F.col("alloc_cents") * F.col("total_qty")
            - F.col("total_cents") * F.col("qty")
        )
        >= F.col("total_qty")
    ).count()
    assert bad == 0


def test_gap_audit_reconstructs_key_set(spark, registry):
    """Keys + reported gap ranges must tile the [min,max] interval:
    total span = present keys + missing keys, with no gap overlapping
    a present key."""
    gaps = registry["orderkey_gap_audit"].fn(spark, SF_SMALL)
    keys = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
    )
    lo, hi, n_keys = keys.agg(
        F.min("key"), F.max("key"), F.count("*")
    ).first()
    n_missing = gaps.agg(F.coalesce(F.sum("n_missing"), F.lit(0))).first()[0]
    assert (hi - lo + 1) == n_keys + n_missing
    # no reported-missing id actually exists
    overlap = (
        gaps.join(
            keys,
            (keys["key"] >= gaps["gap_start"])
            & (keys["key"] <= gaps["gap_end"]),
        ).count()
    )
    assert overlap == 0


def test_islands_are_disjoint_and_cover_active_days(spark, registry):
    """Islands of one user never overlap/touch, and island day counts
    sum to the user's distinct active days."""
    isl = registry["gaps_islands_user_streaks"].fn(spark, SF_SMALL)
    active = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").alias("n_active"))
    )
    sums = isl.groupBy("user_id").agg(F.sum("n_days").alias("n_island_days"))
    assert (
        sums.join(active, "user_id")
        .filter(F.col("n_island_days") != F.col("n_active"))
        .count()
        == 0
    )
    # consecutive islands of a user are separated by at least one
    # missing day (otherwise they'd be one island)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("island_start")
    lagged = isl.withColumn(
        "prev_end", F.lag(F.to_date("island_end")).over(w)
    )
    touching = lagged.filter(
        F.col("prev_end").isNotNull()
        & (
            F.datediff(F.to_date("island_start"), F.col("prev_end"))
            <= 1
        )
    ).count()
    assert touching == 0
    # island length consistency: n_days == end - start + 1
    bad_len = isl.filter(
        F.datediff(F.to_date("island_end"), F.to_date("island_start")) + 1
        != F.col("n_days")
    ).count()
    assert bad_len == 0


def test_interpolation_bounded_and_complete(spark, registry):
    """The gapfilled series has one row per (type, day) on the full
    spine, and interpolated values lie within the neighboring
    observed values' range."""
    out = registry["interp_linear_gapfill"].fn(spark, SF_SMALL)
    by_type = out.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("day").alias("lo"),
        F.max("day").alias("hi"),
        F.sum(F.col("interpolated").cast("long")).alias("n_interp"),
    )
    bad_span = by_type.filter(
        F.datediff(F.to_date("hi"), F.to_date("lo")) + 1 != F.col("n")
    ).count()
    assert bad_span == 0
    # interpolated values bounded by the global observed min/max
    observed = out.filter(~F.col("interpolated"))
    lo, hi = observed.agg(F.min("v_cents"), F.max("v_cents")).first()
    out_of_band = out.filter(
        (F.col("v_cents") < lo) | (F.col("v_cents") > hi)
    ).count()
    assert out_of_band == 0


def test_bfs_levels_are_minimal(spark, registry):
    """Every node at level k>0 must have a neighbor at level k-1 and
    none at any level < k-1 (hop minimality)."""
    lv = registry["bfs_3hop_parts"].fn(spark, SF_SMALL).collect()
    levels = {r["node"]: r["lvl"] for r in lv}
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .filter(F.col("l_partkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .collect()
    )
    adj: dict[int, set[int]] = {}
    for r in edges:
        adj.setdefault(r["u"], set()).add(r["v"])
        adj.setdefault(r["v"], set()).add(r["u"])
    for node, lvl in levels.items():
        if lvl == 0:
            assert node % 100 == 0
            continue
        neigh_levels = {
            levels[n] for n in adj.get(node, ()) if n in levels
        }
        assert min(neigh_levels) == lvl - 1, (node, lvl, neigh_levels)


def test_cusum_final_value_is_zero_sum(spark, registry):
    """The CUSUM statistic is a telescoping sum of (n·v − S): over
    the full series it must return to zero — verified by recomputing
    the final cumulative value per type."""
    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    resid = (
        daily.join(tot, "event_type")
        .groupBy("event_type")
        .agg(F.sum(F.col("n") * F.col("v") - F.col("s")).alias("final"))
        .filter(F.col("final") != 0)
        .count()
    )
    assert resid == 0


def test_rrf_scores_match_rank_definition(spark, registry):
    """Spot-check: every emitted RRF score must equal
    1e12//(60+ra) + 1e12//(60+rb) for SOME valid (ra, rb) pair — and
    the per-lang top row must dominate all other emitted rows of that
    lang."""
    out = registry["rrf_rank_fusion_by_lang"].fn(spark, SF_SMALL)
    rows = out.collect()
    assert rows, "fusion produced no rows"
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        scores = [
            r["rrf_score"] for r in sorted(rs, key=lambda r: r["rk"])
        ]
        assert scores == sorted(scores, reverse=True), lang
        assert all(r["rk"] <= 5 for r in rs)
        # every score decomposes into two k=60 reciprocal terms
        terms = {10**12 // (60 + r) for r in range(1, 2000)}
        for s in scores:
            assert any(
                s - a in terms for a in terms if a <= s
            ), (lang, s)
