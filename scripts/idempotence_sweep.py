#!/usr/bin/env python
"""Idempotence sweep: build AND execute every registered query twice
in one session; the second result must match the first exactly
(strict dtype+value, driver_sim's ``strict_diff``).

This exercises paths a single sweep never touches — per-invocation
scratch dirs (no collisions), the per-session memo (``session.memo``:
loaded tables, the engine queries' VFS dicts, the survival subject
table), and determinism of every sampling/hashing operator under
repeated invocation. A streaming query runs its stream on every call,
into a memory sink of its own, so the second run re-executes the
micro-batch machinery rather than re-reading the first run's result.

Usage: python scripts/idempotence_sweep.py [sf_dir] [query ...]
Exit 0 = every query's two executions identical.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import sweep  # noqa: E402
from driver_sim import build_driver_like_session, strict_diff  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = build_driver_like_session()

    def run(name):
        return qs[name](spark, sf_dir).toPandas()

    def rerun(name):
        # clear BETWEEN the paired runs too: run A materializes
        # any persisted subtrees, and Spark's canonical-plan cache
        # matching would serve them to run B — B would neither
        # recompute the persisted stages nor expose order-dependent
        # nondeterminism downstream of them (the thing this sweep
        # exists to catch), making the A/B vacuous for every query
        # that persists a shared base
        spark.catalog.clearCache()
        return run(name)

    return sweep(
        spark, sorted(qs), only, run, rerun,
        lambda a, b: strict_diff(a, b, ("run1", "run2")),
        ok="OK", flag="DIFF",
    )


if __name__ == "__main__":
    sys.exit(main())
