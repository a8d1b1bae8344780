"""Invariant tests for interval union, temperature weights and the seasonal
backtest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark.queries import load_all

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_interval_union_bounds(spark, registry):
    """Covered time is at least the longest island, at most the sum of
    raw durations (merging only shrinks), and island count is at most
    the user's event count."""
    rows = registry["interval_union_coverage"].fn(spark, SF_SMALL).collect()
    raw = {
        r["user_id"]: (r["n"], r["dur"])
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.round(F.col("value") * 100).cast("long") * 10000
            ).alias("dur"),
        )
        .collect()
    }
    assert rows
    for r in rows:
        n_events, total_dur = raw[r["user_id"]]
        assert 1 <= r["n_islands"] <= n_events
        assert r["longest_us"] <= r["covered_us"] <= total_dur


def test_temperature_weights_sum_and_boost_direction(spark, registry):
    """Weights and shares each sum to ~1e6; sqrt-temperature boosts
    below-average languages and dampens above-average ones."""
    rows = registry["temperature_mixture_weights"].fn(
        spark, SF_SMALL
    ).collect()
    assert abs(sum(r["p_micro"] for r in rows) - 1_000_000) <= len(rows)
    assert abs(sum(r["w_micro"] for r in rows) - 1_000_000) <= len(rows)
    # boost(n) = total / (z * sqrt(n)) is strictly decreasing in n:
    # smaller languages always get at least the boost of larger ones
    by_n = sorted(rows, key=lambda r: r["n_docs"])
    for a, b in zip(by_n, by_n[1:]):
        if a["n_docs"] < b["n_docs"]:
            assert a["boost_milli"] >= b["boost_milli"]


def test_backtest_has_no_lookahead_and_exact_errors(spark, registry):
    """Every scored day is on/after the split; the error column is
    exactly |1000*actual - pred|."""
    rows = registry["seasonal_naive_backtest"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["day"] >= "2024-01-24"
        assert r["abs_err_milli"] == abs(
            r["actual_cents"] * 1000 - r["pred_milli"]
        )


def test_active_split_and_adoption_monotone(spark, registry):
    rows = registry["daily_active_new_returning"].fn(
        spark, SF_SMALL
    ).collect()
    rows.sort(key=lambda r: r["day"])
    total_users = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    prev_cum = 0
    for r in rows:
        assert r["n_active"] == r["n_new"] + r["n_returning"]
        assert r["cum_users"] >= prev_cum
        prev_cum = r["cum_users"]
    assert rows[-1]["cum_users"] == total_users
    assert rows[0]["n_returning"] == 0  # day one: everyone is new


def test_burst_peak_is_a_true_sliding_max(spark, registry):
    """Recompute three users' busiest hour by brute force over raw
    events and compare exactly."""
    rows = {
        r["user_id"]: (r["peak_events_per_hour"], r["peak_window_end_us"])
        for r in registry["burst_busiest_hour"].fn(spark, SF_SMALL).collect()
    }
    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .selectExpr("user_id", "unix_micros(ts) AS ep", "event_id")
        .collect()
    )
    import collections

    per_user = collections.defaultdict(list)
    for e in ev:
        per_user[e["user_id"]].append((e["ep"], e["event_id"]))
    for uid in list(per_user)[:3]:
        pts = sorted(per_user[uid])
        best = None
        for end_ep, end_id in pts:
            n = sum(1 for ep, _ in pts if end_ep - 3_600_000_000 <= ep <= end_ep)
            key = (-n, end_ep, end_id)
            if best is None or key < best[0]:
                best = (key, n, end_ep)
        assert rows[uid] == (best[1], best[2])
