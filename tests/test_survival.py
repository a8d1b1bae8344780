"""Invariant tests for Kaplan-Meier and calibration."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark.queries import load_all

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_km_curve_is_monotone_and_bounded(spark, registry):
    """S(t) must start <= 1, decrease monotonically, stay >= 0, and
    the at-risk counts must decrease over event times."""
    rows = registry["kaplan_meier_signup_purchase"].fn(
        spark, SF_SMALL
    ).collect()
    assert rows
    prev_s, prev_n = 1.0 + 1e-9, None
    for r in sorted(rows, key=lambda r: r["t_days"]):
        assert 0.0 <= r["survival"] <= prev_s + 1e-9
        assert r["d"] >= 1 and r["n_risk"] >= r["d"]
        if prev_n is not None:
            assert r["n_risk"] <= prev_n
        prev_s, prev_n = r["survival"], r["n_risk"]


def test_km_first_step_matches_hand_computation(spark, registry):
    """The first event time's survival must equal 1 - d/n exactly
    (to rounding)."""
    rows = sorted(
        registry["kaplan_meier_signup_purchase"].fn(
            spark, SF_SMALL
        ).collect(),
        key=lambda r: r["t_days"],
    )
    first = rows[0]
    expect = round(1.0 - first["d"] / first["n_risk"], 6)
    assert abs(first["survival"] - expect) <= 2e-6


def test_subjects_cache_caps_one_entry_and_releases_base(spark, registry):
    """A survival query inside ``cache_scope()`` leaves nothing pinned
    at the scope's exit: neither the shared subject table nor the
    signup base it persisted. The session's memo keeps their plans, and
    the next call persists a live base again."""
    from filemapreduce_spark import cache_scope
    from filemapreduce_spark.queries import stats as sv
    from filemapreduce_spark.session import memo

    def pinned(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    spark.catalog.clearCache()
    with cache_scope():
        registry["kaplan_meier_signup_purchase"].fn(spark, SF_SMALL).collect()
    subjects, base = memo(
        spark,
        ("signup_purchase_subjects", SF_SMALL),
        lambda: pytest.fail("the survival query left no memo entry"),
    )
    assert not pinned(subjects) and not pinned(base)

    again = sv._signup_purchase_subjects(spark, SF_SMALL)
    assert again is subjects
    assert pinned(again) and pinned(base)
    assert again.count() > 0
    spark.catalog.clearCache()


def test_calibration_buckets_cover_all_events(spark, registry):
    rows = registry["calibration_curve_deciles"].fn(
        spark, SF_SMALL
    ).collect()
    n_total = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert sum(r["n"] for r in rows) == n_total
    for r in rows:
        assert 0 <= r["pos_rate_milli"] <= 1000
        assert 0 <= r["decile"] <= 9
