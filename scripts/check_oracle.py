#!/usr/bin/env python
"""Driver-style correctness check: run every registered query through
Spark AND its DuckDB oracle on the same parquet tables; compare row
count, sorted column names, and canonicalized values.

This module is also the one compare every oracle sweep uses
(driver_sim, confrestricted_sweep, idempotence_sweep): the value canon
(``canon``/``rows_to_canon``), the DuckDB views (``oracle_views``), the
result diff (``compare``), the result-order check (``order_breaks``)
and the per-query loop (``sweep``). The canon ignores row order; the
order each query declares (``QuerySpec.order``) is checked on its own
and flagged ``ORDER``.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Spark Python workers import the library too (the UDF queries),
# so a sweep started outside the checkout still finds it
_paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
if ROOT not in _paths:
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + _paths)

import duckdb
import numpy as np
import pandas as pd

from filemapreduce_spark.queries import load_all
from filemapreduce_spark.session import get_spark
from filemapreduce_spark.sources.tables import TABLE_NAMES


def canon(v):
    """Canonicalize a value for cross-engine comparison.

    Takes what ``collect()``, DuckDB's ``fetchall()`` and pandas frames
    hold: numpy scalars and arrays become Python values, NULL and NaT
    render as ``NULL`` (NaN stays distinct), floats at full precision,
    datetimes to the microsecond (the fraction shown only when nonzero).
    """
    if isinstance(v, (np.generic, np.ndarray)):
        v = v.tolist()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exact match required
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        if v != v:  # pandas NaT
            return "NULL"
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return f"{s}.{v.microsecond:06d}" if v.microsecond else s
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def rows_to_canon(cols, rows):
    """Sort columns by name, canonicalize, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    registry = load_all()
    spark = get_spark(app_name="check_oracle")
    con = oracle_views(sf_dir)

    def run(name):
        sdf = registry[name].fn(spark, sf_dir)
        return Rows(sdf.columns, (tuple(r) for r in sdf.collect()))

    def reference(name):
        if registry[name].oracle is None:
            return None
        res = con.execute(registry[name].oracle)
        return Rows([d[0] for d in res.description], res.fetchall())

    def check_order(name, got):
        return order_breaks(got.cols, got, registry[name].order)

    return sweep(
        spark, sorted(registry), only, run, reference, compare, check_order
    )


class Rows(list):
    """A result's rows (tuples) with its column names."""

    def __init__(self, cols, rows):
        super().__init__(rows)
        self.cols = list(cols)


def compare(a: Rows, b: Rows, labels=("spark", "oracle")) -> list[str]:
    """What differs between two results under the canon: column names,
    then row count, then values (the first differing row's first
    differing column is shown). Empty when they agree."""
    (ac, av), (bc, bv) = rows_to_canon(a.cols, a), rows_to_canon(b.cols, b)
    la, lb = labels
    if ac != bc:
        return [f"COLS {la}={ac} {lb}={bc}"]
    if len(av) != len(bv):
        return [f"ROWS {la}={len(av)} {lb}={len(bv)}"]
    bad = [(x, y) for x, y in zip(av, bv) if x != y]
    if not bad:
        return []
    x, y = bad[0]
    j = next(j for j in range(len(x)) if x[j] != y[j])
    return [
        f"VALUE {len(bad)}/{len(av)} rows; first {ac[j]}: "
        f"{la}={x[j]!r} {lb}={y[j]!r}"
    ]


def _is_null(v) -> bool:
    return v is None or v is pd.NaT or v is pd.NA


def _value_key(v):
    """A sort key for one non-null value under Spark's ordering: NaN
    above every other number (and equal to NaN), -0.0 equal to 0.0,
    strings by code point (UTF-8 byte order), arrays and structs
    element by element with NULL elements first."""
    if isinstance(v, (np.generic, np.ndarray)):
        v = v.tolist()
    if isinstance(v, float) and math.isnan(v):
        return (1,)
    if isinstance(v, (list, tuple)):
        return (0, tuple((-1,) if _is_null(x) else _value_key(x) for x in v))
    return (0, v)


def _term_cmp(a, b, term, nan_is_null: bool) -> int:
    """-1, 0 or 1: where ``a`` must sit relative to ``b`` under ``term``."""
    if nan_is_null:
        a, b = (None if isinstance(x, float) and x != x else x for x in (a, b))
    na, nb = _is_null(a), _is_null(b)
    if na or nb:
        if na and nb:
            return 0
        return (-1 if na else 1) * (1 if term.nulls_first else -1)
    ka, kb = _value_key(a), _value_key(b)
    c = (ka > kb) - (ka < kb)
    return -c if term.desc else c


def order_breaks(cols, rows, order, nan_is_null=False) -> str | None:
    """The first adjacent pair of ``rows`` out of ``order`` (a tuple of
    ``queries.OrderTerm``), as an ``ORDER`` message; None if the rows
    follow it. Ties on every term may come in any order.

    ``nan_is_null=None`` is for pandas frames, where a float NaN may be
    a NULL or a NaN: a pair passes if it is in order under either
    reading.
    """
    if not order:
        return None
    lower = [c.lower() for c in cols]
    idx = [
        t.key - 1 if isinstance(t.key, int) else lower.index(t.key.lower())
        for t in order
    ]
    modes = (False, True) if nan_is_null is None else (nan_is_null,)

    def in_order(a, b, mode):
        for i, t in zip(idx, order):
            c = _term_cmp(a[i], b[i], t, mode)
            if c:
                return c < 0
        return True

    prev = None
    for n, row in enumerate(rows):
        if prev is not None and not any(in_order(prev, row, m) for m in modes):
            keys = [cols[i] for i in idx]
            return (
                f"ORDER rows {n - 1},{n} break {keys}: "
                f"{[prev[i] for i in idx]!r} then {[row[i] for i in idx]!r}"
            )
        prev = row
    return None


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def sweep(
    spark, names, only, run, reference, diff, check_order=None,
    ok="PASS", flag="FAIL",
):
    """Check each query of ``names`` (those in ``only``, if given) and
    print one status line per query and a summary; return the exit
    code, 1 if any query was flagged.

    Per query: clear the cache (queries never unpersist what they
    persist, so a registry-long session would pile it up), ``run`` it,
    fetch its ``reference`` (None: no oracle, the rows are only
    counted) and ``diff`` the two into a list of issues, to which
    ``check_order(name, result)`` adds its ``ORDER`` message, if any.
    An exception on either side flags the query and prints its
    traceback.
    """
    flagged, n_ok, n_rows_only, t_all = [], 0, 0, time.time()
    for name in names:
        if only and name not in only:
            continue
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            got = run(name)
            t_run = time.time() - t0
            want = reference(name)
            issues = None if want is None else diff(got, want)
            broke = check_order and check_order(name, got)
            if broke:
                issues = (issues or []) + [broke]
        except Exception:
            print(f"{flag:<9} {name}: ERROR")
            traceback.print_exc()
            flagged.append(name)
            continue
        if issues is None:
            status = "rows-only"
            n_rows_only += 1
        elif issues:
            status = flag
            flagged.append(name)
        else:
            status = ok
            n_ok += 1
        print(
            f"{status:<9} {name}: {len(got)} rows  [{t_run:.1f}s]"
            + "".join("\n    " + m for m in issues or ())
        )
    print(
        f"\n{n_ok} {ok}, {n_rows_only} rows-only, {len(flagged)} {flag}"
        f"  [{time.time() - t_all:.0f}s]"
    )
    if flagged:
        print(f"FLAGGED ({len(flagged)}): {flagged}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
