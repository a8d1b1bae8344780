"""Invariant tests for the sink round-trip queries (queries/engine.py).

The DuckDB oracle gate proves content parity; these check the
LAYOUT properties the aggregates can't see: that the partitioned
read actually prunes (PartitionFilters), that the clustered read
pushes its range predicate to the scan, and that the CSV cycle
preserves cardinality exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark.queries import load_all

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partitioned_roundtrip_prunes_and_matches(spark, registry):
    """The read side of the partitioned round trip must resolve the
    'R' filter against directory names (PartitionFilters), and the
    pruned aggregate must equal the direct aggregate."""
    out = registry["sink_partitioned_prune_roundtrip"].fn(spark, SF_SMALL)
    plan = _plan(out)
    part_filters = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "l_returnflag" in part_filters

    direct = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .where(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )
    got = {r["l_linestatus"]: (r["n_rows"], r["sum_qty"]) for r in out.collect()}
    want = {
        r["l_linestatus"]: (r["n_rows"], r["sum_qty"]) for r in direct.collect()
    }
    assert got == want


def test_clustered_roundtrip_pushes_range_predicate(spark, registry):
    """The time-range predicate must reach the parquet scan of the
    clustered copy (PushedFilters on l_shipdate) — that's what lets
    footer min/max skip out-of-range files."""
    out = registry["sink_clustered_timerange_roundtrip"].fn(spark, SF_SMALL)
    plan = _plan(out)
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed


def test_csv_roundtrip_preserves_cardinality(spark, registry):
    """Total docs across the CSV round trip's aggregate must equal
    the source row count (no row lost to quoting/escaping)."""
    out = registry["sink_csv_schema_roundtrip"].fn(spark, SF_SMALL)
    n_csv = out.agg(F.sum("n_docs")).collect()[0][0]
    n_src = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert n_csv == n_src


def test_bucketed_roundtrip_join_is_shuffle_free(spark, registry):
    """The join between the two bucketed tables must have no Exchange
    feeding either side (the point of bucketing)."""
    out = registry["sink_bucketed_join_roundtrip"].fn(spark, SF_SMALL)
    plan = _plan(out)
    join_part = plan.split("SortMergeJoin", 1)
    if len(join_part) == 2:
        # no Exchange may appear between the scans and the join
        above = join_part[0]
        assert "Exchange hashpartitioning(l_orderkey" not in above
        assert "Exchange hashpartitioning(o_orderkey" not in above


def test_zorder_roundtrip_pushes_both_predicates(spark, registry):
    out = registry["sink_zorder_roundtrip"].fn(spark, SF_SMALL)
    plan = _plan(out)
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "p_size" in pushed and "p_retailprice" in pushed
