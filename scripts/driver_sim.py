#!/usr/bin/env python
"""Simulate the driver's correctness harness as strictly as possible.

The driver converts both the Spark result and the DuckDB oracle result
to pandas, canonicalizes (sort columns by name, sort rows), and hashes
values. Its exact canon is unknown, so this simulator enforces the
strongest condition that guarantees any sane canon agrees: the two
pandas frames must match in BOTH dtype and exact value (the value
canon is check_oracle's ``rows_to_canon``).

Per query it reports OK (dtypes equal and values exactly equal) or
FLAG with what was found:
  DTYPE         — column dtype mismatch (e.g. int64 vs float64)
  COLS, ROWS, VALUE — column names, row count or values differ
                  (VALUE shows the first diff)
  ARRAY-RISK    — an output column holds list values (driver canon
                  crashes with `unhashable type: 'list'`)
  ORDER         — the rows break the query's declared order
  ERROR         — the query or its oracle raised
plus wall time for the Spark side (driver-budget profiling).

Usage: python scripts/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from check_oracle import (  # noqa: E402
    Rows,
    compare,
    oracle_views,
    order_breaks,
    sweep,
)


def build_driver_like_session():
    """A session the way the driver plausibly builds it: defaults.

    SPARK_SIM_MASTER overrides the master (e.g. local[8]) — sweeping
    under a different core count proves no output depends on
    partitioning (summation order, partition-local tie-breaks).
    """
    from pyspark.sql import SparkSession

    from filemapreduce_spark.session import driver_memory

    return (
        SparkSession.builder.master(
            os.environ.get("SPARK_SIM_MASTER", "local[32]")
        )
        .appName("driver_sim")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def strict_diff(a: pd.DataFrame, b: pd.DataFrame, labels=("spark", "oracle")):
    """check_oracle's ``compare`` on two pandas frames, plus equal dtypes
    column by column."""
    issues = []
    if sorted(a.columns) == sorted(b.columns):
        la, lb = labels
        mis = [
            f"{c}: {la}={a[c].dtype} {lb}={b[c].dtype}"
            for c in sorted(a.columns)
            if str(a[c].dtype) != str(b[c].dtype)
        ]
        if mis:
            issues.append("DTYPE " + "; ".join(mis))
    rows = [Rows(f.columns, f.itertuples(index=False, name=None)) for f in (a, b)]
    return issues + compare(*rows, labels)


def has_lists(df: pd.DataFrame) -> list[str]:
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            s = df[c].dropna()
            if len(s) and isinstance(
                s.iloc[0], (list, np.ndarray, tuple, dict)
            ):
                bad.append(c)
    return bad


def sweep_frames(spark, sf_dir, only, queries, oracles):
    """Each query's ``toPandas()`` against its oracle's DuckDB ``.df()``:
    ``strict_diff`` plus the ARRAY-RISK flag, and the frame's row order
    against the query's declared order."""
    from filemapreduce_spark.queries import load_all

    con = oracle_views(sf_dir)
    registry = load_all()

    def check_order(name, f):
        rows = f.itertuples(index=False, name=None)
        return order_breaks(
            list(f.columns), rows, registry[name].order, nan_is_null=None
        )

    def reference(name):
        sql = oracles.get(name)
        return None if sql is None else con.execute(sql).df()

    def diff(s, o):
        arr = sorted(set(has_lists(s)) | set(has_lists(o)))
        risk = [f"ARRAY-RISK cols={arr}"] if arr else []
        return risk + strict_diff(s, o)

    return sweep(
        spark, sorted(queries), only,
        lambda name: queries[name](spark, sf_dir).toPandas(),
        reference, diff, check_order, ok="OK", flag="FLAG",
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    spark = build_driver_like_session()
    return sweep_frames(
        spark, sf_dir, only, entrymod.queries(), entrymod.oracle_sql()
    )


if __name__ == "__main__":
    sys.exit(main())
