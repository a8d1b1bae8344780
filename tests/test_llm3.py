"""Invariant tests for SRP-LSH and vocabulary coverage."""

from __future__ import annotations

import hashlib

import pytest

from filemapreduce_spark.queries import load_all
from filemapreduce_spark.queries.similarity import _PLANES, _N_PLANES, _DIM

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_plane_weights_are_md5_derived_and_balanced():
    """Weights must be reproducible from md5 (no RNG state) and not
    degenerate (each plane mixes both signs)."""
    assert len(_PLANES) == _N_PLANES and all(len(p) == _DIM for p in _PLANES)
    for p, row in enumerate(_PLANES):
        for i, w in enumerate(row):
            h = hashlib.md5(f"{p}:{i}".encode()).hexdigest()
            assert w == (1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        assert {1.0, -1.0} == set(row), "plane must mix both signs"


def test_srp_pairs_are_verified_and_canonical(spark, registry):
    rows = registry["srp_lsh_candidate_pairs"].fn(spark, SF_SMALL).collect()
    seen = set()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert 0.3 <= r["cos"] <= 1.000001
        assert (r["id_a"], r["id_b"]) not in seen
        seen.add((r["id_a"], r["id_b"]))


def test_vocab_coverage_internal_consistency(spark, registry):
    rows = registry["vocab_coverage_oov"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["covered_tokens"] <= r["total_tokens"]
        expect = round(
            1000.0
            * (r["total_tokens"] - r["covered_tokens"])
            / r["total_tokens"]
        )
        assert r["oov_rate_milli"] == expect


def test_distinct_n_ratios_bounded_and_decreasing_totals(spark, registry):
    """distinct <= total per cell; higher n has fewer total n-grams
    for the same source (each doc loses n-1 grams per increment)."""
    rows = registry["distinct_n_diversity"].fn(spark, SF_SMALL).collect()
    by_source: dict[str, dict[int, tuple]] = {}
    for r in rows:
        assert 0 < r["distinct_ngrams"] <= r["total_ngrams"]
        assert 0 <= r["distinct_milli"] <= 1000
        by_source.setdefault(r["source"], {})[r["n"]] = r["total_ngrams"]
    for totals in by_source.values():
        if 1 in totals and 2 in totals:
            assert totals[2] <= totals[1]
        if 2 in totals and 3 in totals:
            assert totals[3] <= totals[2]


def test_zipf_slope_is_negative(spark, registry):
    """Rank-frequency curves slope downward by construction (freq is
    sorted desc by rank), so the fitted exponent must be negative."""
    row = registry["zipf_exponent_fit"].fn(spark, SF_SMALL).collect()[0]
    assert row["k"] > 10
    assert row["zipf_slope"] < 0


def test_cross_source_matrix_accounts_every_pair(spark, registry):
    """Matrix pair mass must equal the underlying near-dup pair
    count, and source pairs must be canonically ordered."""
    pairs_n = registry["neardup_minhash_lsh"].fn(spark, SF_SMALL).count()
    rows = registry["cross_source_dup_matrix"].fn(spark, SF_SMALL).collect()
    assert sum(r["n_pairs"] for r in rows) == pairs_n
    for r in rows:
        assert r["source_a"] <= r["source_b"]
        assert r["sum_jaccard_milli"] >= 200 * r["n_pairs"]  # jac >= 0.2


def test_heaps_curve_monotone_and_conserves_totals(spark, registry):
    rows = registry["heaps_law_curve"].fn(spark, SF_SMALL).collect()
    rows.sort(key=lambda r: r["checkpoint"])
    prev_t = prev_v = 0
    for r in rows:
        assert r["tokens_cum"] >= prev_t and r["vocab_cum"] >= prev_v
        assert r["vocab_cum"] <= r["tokens_cum"]
        prev_t, prev_v = r["tokens_cum"], r["vocab_cum"]
    from pyspark.sql import functions as F
    from filemapreduce_spark.operators.textops import words

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    toks = docs.select(F.explode(words(F.col("text"))).alias("tok"))
    assert rows[-1]["tokens_cum"] == toks.count()
    assert rows[-1]["vocab_cum"] == toks.distinct().count()
