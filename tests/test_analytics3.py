"""Invariant tests for max_drawdown_by_type, welch_ttest_vs_view and
bloom_semi_prune_join.

The oracle gate checks value parity; these check the semantic
invariants: drawdown non-negativity and peak dominance, Welch test
internal consistency, and the Bloom filter's no-false-negative
guarantee.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark.queries import load_all

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_drawdown_nonnegative_and_peak_dominates(spark, registry):
    rows = registry["max_drawdown_by_type"].fn(spark, SF_SMALL).collect()
    assert rows, "expected one row per event type"
    for r in rows:
        assert r["drawdown_cents"] >= 0
        assert r["peak_cents"] >= r["cum_cents"]
        assert r["drawdown_cents"] == r["peak_cents"] - r["cum_cents"]


def test_welch_sign_and_df_bounds(spark, registry):
    """t must carry the sign of the mean difference; Welch df lies in
    [min(n_a, n_view) - 1, n_a + n_view - 2] (both in milli)."""
    rows = registry["welch_ttest_vs_view"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        if r["mean_diff_milli"] != 0:
            assert (r["t_milli"] > 0) == (r["mean_diff_milli"] > 0)
        lo = (min(r["n_a"], r["n_view"]) - 1) * 1000
        hi = (r["n_a"] + r["n_view"] - 2) * 1000
        assert lo <= r["df_milli"] <= hi


def test_bloom_no_false_negatives(spark, registry):
    """Every true match must pass the filter (Bloom's one guarantee):
    n_pass = n_true + n_false_pos with n_false_pos >= 0, and n_true
    equals the directly-computed semi-join count."""
    row = registry["bloom_semi_prune_join"].fn(spark, SF_SMALL).collect()[0]
    assert row["n_false_pos"] >= 0
    assert row["n_pass_bloom"] == row["n_true_match"] + row["n_false_pos"]

    hot = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .where(F.col("o_totalprice") > 450000)
        .select("o_orderkey")
    )
    true_n = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select("l_orderkey")
        .distinct()
        .join(hot, F.col("l_orderkey") == F.col("o_orderkey"), "semi")
        .count()
    )
    assert row["n_true_match"] == true_n
