"""Sort methods for a query's final result.

``queries.register`` calls these (``sort="tiny_sorted"`` or
``sort="one_part_sorted"``) to put a bounded result in its declared
order; query bodies do not call them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def tiny_sorted(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Total-order a PROVABLY SMALL result without a range exchange.
    The registry calls it for queries registered with
    ``sort="tiny_sorted"``.

    ``orderBy`` on a final result plans Exchange(rangepartitioning):
    a sampling pass over the child (which re-executes it — expensive
    when the child holds a Python stage) plus a shuffle, all to sort
    what is often a few hundred rows. For results whose size is
    bounded by a value domain or config (event types × days, country
    codes, top-k per bounded group set) — never by data volume — a
    single-partition local sort is the plan a cost-based engine
    would pick: ``coalesce(1)`` merges the final partitions into one
    task (no shuffle) and ``sortWithinPartitions`` totals the order.
    Partition order is preserved downstream, so the result is
    globally sorted exactly like ``orderBy``.

    Use ONLY when the input's row count is bounded independent of
    data volume; a data-sized input through ``coalesce(1)``
    serializes the job (that's what ``orderBy`` is for). When the
    RESULT is bounded but the producing STAGE is data-sized (a
    ranking window, a distinct-count final agg, a grouped Python
    stage), use :func:`one_part_sorted` instead — its real exchange
    keeps the upstream stage parallel.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


def one_part_sorted(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Total-order a bounded result whose PRODUCING STAGE is
    data-sized, without a range exchange and without serializing the
    producer. The registry calls it for queries registered with
    ``sort="one_part_sorted"``.

    ``coalesce(1)`` (:func:`tiny_sorted`) merges the upstream stage
    into one task — wrong when that stage ranks/aggregates/maps a
    data-sized input. ``repartition(1)`` instead inserts a REAL
    single-partition exchange: the upstream stage keeps its full
    parallelism and exactly the bounded result rows cross the wire,
    then one task sorts them locally. Compared to ``orderBy`` this
    drops the range-partitioner's sampling job, which re-executes the
    child plan (ruinous when the child holds a Python stage — the
    sampling pass runs `applyInPandas` a second time). Measured at
    sf0.1: window-top-k 0.24→0.13 s, exact-dedup 0.22→0.14 s,
    two-stage pandas top-3 0.88→0.60 s (paired min-of-4).

    Use ONLY when the input's row count is bounded independent of
    data volume (types × k, brands × k, #sources); the single
    reducer sees exactly those rows.
    """
    return df.repartition(1).sortWithinPartitions(*cols)
