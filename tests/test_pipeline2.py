"""Invariant tests for domain caps, shard striping and length-bucket
batching."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark.queries import load_all
from filemapreduce_spark.queries.curation import (
    _BATCH_SIZE,
    _CAP_K,
    _N_SHARDS,
)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_domain_cap_conserves_mass(spark, registry):
    """kept + dropped chars must equal the source's total mass, and
    no source keeps more than K docs."""
    rows = registry["domain_cap_curation"].fn(spark, SF_SMALL).collect()
    totals = {
        r["source"]: r["total"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("total"))
        .collect()
    }
    assert rows
    for r in rows:
        assert r["n_kept"] <= _CAP_K
        assert r["kept_chars"] + r["dropped_chars"] == totals[r["source"]]


def test_shard_striping_bounds_imbalance(spark, registry):
    """All docs land in exactly N_SHARDS shards; striping bounds the
    doc-count spread to #langs (one leftover per lang per round)."""
    rows = registry["shard_stripe_balance"].fn(spark, SF_SMALL).collect()
    assert len(rows) == _N_SHARDS
    n_docs = [r["n_docs"] for r in rows]
    total = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert sum(n_docs) == total
    n_langs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("lang")
        .distinct()
        .count()
    )
    assert max(n_docs) - min(n_docs) <= n_langs


def test_length_batching_padding_is_consistent(spark, registry):
    """Padding is non-negative and bounded: each doc pads at most to
    its bucket's width; batch count matches ceil(n/B)."""
    rows = registry["length_bucket_batching"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["padding_chars"] >= 0
        assert r["n_batches"] == -(-r["n_docs"] // _BATCH_SIZE)
