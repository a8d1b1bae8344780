"""Which base tables ``load_table`` pre-splits: only the per-row
compute-heavy ones, never a relational table."""

from __future__ import annotations

import pytest

from filemapreduce_spark.sources.tables import load_table


@pytest.mark.parametrize(
    "name, split", [("documents", True), ("embeddings", True), ("lineitem", False)]
)
def test_only_compute_heavy_tables_are_split(spark, sf_small, name, split):
    plan = load_table(spark, sf_small, name)._jdf.queryExecution().executedPlan()
    assert ("RoundRobinPartitioning" in plan.toString()) == split
