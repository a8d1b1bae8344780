"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``filemapreduce_spark.queries`` (one QuerySpec per
operator from SURVEY.md §2 — Spark fn + DuckDB oracle twin); this file
just re-exposes the registry.
"""

from __future__ import annotations

import glob as _glob
import json as _json
import re as _re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

from filemapreduce_spark.queries import load_all  # noqa: E402
from filemapreduce_spark.session import (  # noqa: E402
    CORRECTNESS_CONF,
    PERF_CONF,
)

_REGISTRY = load_all()


def _verified_round() -> dict[str, int]:
    """Latest round in which each name got a driver CORRECTNESS row.

    The driver samples the first ~50 entries of ``queries()`` each
    round; with a plain alphabetical dict the window would never
    advance past the g's. Rounds 1-9 used this ledger read to put
    never-verified names first, which CLOSED the ledger at 377/377.
    """
    latest: dict[str, int] = {}
    for path in _glob.glob("/root/repo/CORRECTNESS_r*.json"):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                names = list(_json.load(f).keys())
        except Exception:
            continue  # unreadable ledger file → treat as no coverage
        for n in names:
            if rnd > latest.get(n, -1):
                latest[n] = rnd
    return latest


def _rotated() -> list[str]:
    """Registry names, least-recently-driver-verified first.

    The ledger closed at 377/377 in round 9, so its value now decays
    with staleness: most rows were verified on round-1..8 trees and
    ~80 queries changed in round 9 alone (r9 verdict "What's missing"
    item 1). Order by the round of each name's latest green row —
    never-verified names (e.g. a future registry add) first, then
    oldest vintage first, alphabetical within a round — so each
    round's ~50-name driver window re-proves the stalest rows on the
    current tree. A full freshness lap takes ~7 rounds.
    """
    latest = _verified_round()
    return sorted(_REGISTRY, key=lambda n: (latest.get(n, -1), n))


def _ensure_conf(spark: SparkSession) -> None:
    """Confs the queries rely on when the driver built the session.

    Correctness confs (timezone, nanos) plus the perf confs the repo's
    own session factory (filemapreduce_spark/session.py) sets: without
    them a default driver session runs every query with 200 shuffle
    partitions, no AQE and no Arrow — multi-× slower at sf0.01.
    Each set is wrapped individually so one forbidden conf doesn't
    block the rest.
    """
    settings = {
        **CORRECTNESS_CONF,
        # perf: the driver's runs are sf0.001/sf0.01 (~MB tables) —
        # 8 fat shuffle partitions beat core-count-many near-empty
        # ones at that size (measured -26%; BASELINE.md round 3)
        "spark.sql.shuffle.partitions": "8",
        **PERF_CONF,
    }
    for k, v in settings.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-fatal: session may forbid runtime conf changes


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_conf(spark)
    return _REGISTRY["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(spec):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_conf(spark)
            return spec.fn(spark, sf_dir)

        run.__name__ = spec.name
        run.__doc__ = spec.doc
        return run

    return {name: wrap(_REGISTRY[name]) for name in _rotated()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    return {
        name: _REGISTRY[name].oracle
        for name in _rotated()
        if _REGISTRY[name].oracle is not None
    }
