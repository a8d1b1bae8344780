"""Which base tables ``load_table`` pre-splits (only the per-row
compute-heavy ones, never a relational table), and that it builds each
table once per session."""

from __future__ import annotations

import pytest

from filemapreduce_spark.sources.tables import load_table


@pytest.mark.parametrize(
    "name, split", [("documents", True), ("embeddings", True), ("lineitem", False)]
)
def test_only_compute_heavy_tables_are_split(spark, sf_small, name, split):
    plan = load_table(spark, sf_small, name)._jdf.queryExecution().executedPlan()
    assert ("RoundRobinPartitioning" in plan.toString()) == split


def test_load_table_is_one_object_per_session(spark, sf_small):
    """A repeat ``load_table`` returns the same DataFrame, also when a
    second session loaded the table in between; that session gets its
    own."""
    first = load_table(spark, sf_small, "orders")
    other = spark.newSession()
    theirs = load_table(other, sf_small, "orders")
    assert theirs is not first and theirs.sparkSession is other
    assert load_table(spark, sf_small, "orders") is first
    assert load_table(other, sf_small, "orders") is theirs
