"""Declared-query registry: the oracle-testable operator inventory.

Each entry pairs a Spark implementation ``fn(spark, sf_dir) →
DataFrame`` with an equivalent ANSI-SQL ``oracle`` string DuckDB can
run on the same parquet tables (SURVEY.md §2 Part B). Column names are
aliased identically on both sides; computed aggregates use the exact
integer-cents arithmetic from ``operators.money`` so value hashes
match bit-for-bit.

Queries whose semantics aren't SQL-expressible (streaming state,
binary decode stubs) set ``oracle=None`` → rows-only check.

Order contract: a query's result order is written once, in its
oracle's top-level ``ORDER BY``, and ``register`` applies it.
``register`` reads the terms when the query is registered
(``order_terms``: columns or 1-based positions, ASC/DESC, NULLS
FIRST/LAST) and returns the function wrapped so that ``spec.fn`` and
the module-level name both return rows in that order; query bodies
carry no presentation sort of their own. ``order=`` overrides the
oracle's terms where they cannot be applied to the Spark result (an
expression, or a column the result does not have), and ``order=()``
declares an unordered result. ``sort=`` picks how the order is made
(see ``QuerySpec``). A top-k body keeps its ``orderBy(...).limit(k)``,
because that sort chooses the rows; sorting its output again in the
same order adds nothing to the executed plan. ``scripts/check_oracle.py``
and ``scripts/driver_sim.py`` check every collected result against
its declared order and flag ``ORDER`` when the rows break it.

Cache contract: query functions may ``persist()`` bounded
intermediates (per-key count tables, shared scan bases) that the
returned DataFrame references lazily — they cannot be unpersisted
inside the function without re-executing the branch. Callers running
MANY queries against one session (the driver, bench.py, the sweeps
all do this) should call ``spark.catalog.clearCache()`` between
queries, or wrap each query's build+action in
``filemapreduce_spark.cache_scope()`` — a context manager that
unpersists exactly what the query persisted once its action
completes (run the action INSIDE the scope). A caller running one
query can leave eviction to Spark's LRU (storage-memory pressure
evicts MEMORY_AND_DISK blocks safely).
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.operators.output import one_part_sorted, tiny_sorted


@dataclass(frozen=True)
class OrderTerm:
    """One sort key of a result: an output column, by name or by
    1-based position, with its direction and null placement."""

    key: str | int
    desc: bool = False
    nulls_first: bool = True

    def column(self, df: DataFrame) -> Column:
        name = df.columns[self.key - 1] if isinstance(self.key, int) else self.key
        c = F.col(name)
        if self.desc:
            return c.desc_nulls_first() if self.nulls_first else c.desc_nulls_last()
        return c.asc_nulls_first() if self.nulls_first else c.asc_nulls_last()


# the sort methods ``register(sort=...)`` takes; ``body`` adds nothing
_SORTS = {
    "orderBy": lambda df, *cols: df.orderBy(*cols),
    "one_part_sorted": one_part_sorted,
    "tiny_sorted": tiny_sorted,
    "body": None,
}


@dataclass(frozen=True)
class QuerySpec:
    """A registered query.

    ``order`` is the result order ``fn`` returns its rows in: the
    oracle's top-level ``ORDER BY`` unless ``register`` was given an
    explicit ``order=``; empty means unordered. Where a term does not
    spell out its null placement, Spark's default applies: ASC NULLS
    FIRST, DESC NULLS LAST (DuckDB's default is NULLS LAST both ways,
    which only matters for a key column that holds NULLs).

    ``sort`` is how ``fn`` gets that order: ``orderBy`` (a range
    exchange), ``one_part_sorted`` or ``tiny_sorted`` (the
    ``operators.output`` helpers for bounded results), or ``body``,
    where the query body already yields it and nothing is added.

    ``doc`` is the function's live docstring, so it includes the
    constants some modules substitute into ``fn.__doc__`` after
    registration.
    """

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = ()
    order: tuple[OrderTerm, ...] = ()
    sort: str = "orderBy"

    @property
    def doc(self) -> str:
        return self.fn.__doc__ or ""


REGISTRY: dict[str, QuerySpec] = {}

_SQL_NOISE = re.compile(r"'(?:[^']|'')*'|--[^\n]*|/\*.*?\*/", re.S)
_ORDER_TOKENS = re.compile(r"[(),;]|\b(?:ORDER\s+BY|LIMIT|OFFSET)\b", re.I)
_IDENT = r'(?:"[^"]+"|[A-Za-z_]\w*)'
_TERM = re.compile(
    rf"(?:{_IDENT}\.)*(?P<key>{_IDENT}|\d+)"
    r"(?:\s+(?P<dir>ASC|DESC))?(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?",
    re.I,
)


def parse_term(text: str) -> OrderTerm:
    """``[qual.]ident | position [ASC|DESC] [NULLS FIRST|LAST]``."""
    m = _TERM.fullmatch(text.strip())
    if m is None:
        raise ValueError(f"not a column or position: {text.strip()!r}")
    key = m["key"].strip('"')
    desc = (m["dir"] or "").upper() == "DESC"
    nulls = (m["nulls"] or ("LAST" if desc else "FIRST")).upper()
    return OrderTerm(int(key) if key.isdigit() else key, desc, nulls == "FIRST")


def order_terms(sql: str) -> tuple[OrderTerm, ...]:
    """The terms of ``sql``'s last ``ORDER BY`` at parenthesis depth 0
    (string literals and comments skipped), up to ``LIMIT``/``OFFSET``."""
    text = _SQL_NOISE.sub(lambda m: " " * len(m.group()), sql)
    depth, terms, cur = 0, None, None
    for m in _ORDER_TOKENS.finditer(text):
        tok = m.group()
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth:
            continue
        elif tok[:5].upper() == "ORDER":
            terms, cur = [], m.end()
        elif cur is not None:
            terms.append(text[cur : m.start()])
            cur = m.end() if tok == "," else None
    if cur is not None:
        terms.append(text[cur:])
    return tuple(parse_term(t) for t in terms or ())


def _sort_result(df: DataFrame, order: tuple[OrderTerm, ...], sort: str) -> DataFrame:
    """``df`` in ``order`` by the sort method ``sort``."""
    method = _SORTS[sort]
    if not order or method is None:
        return df
    return method(df, *(t.column(df) for t in order))


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    order: tuple[str, ...] | None = None,
    sort: str = "orderBy",
):
    """Register ``fn`` under ``name`` and return it wrapped so that its
    rows come back in the query's order (see ``QuerySpec``).

    ``order`` overrides the oracle's ``ORDER BY`` with terms in the same
    syntax (``("n DESC", "word")``); ``()`` declares the result
    unordered.
    """
    if sort not in _SORTS:
        raise ValueError(f"{name}: unknown sort method {sort!r}")
    try:
        terms = (
            tuple(map(parse_term, order))
            if order is not None
            else order_terms(oracle or "")
        )
    except ValueError as e:
        raise ValueError(f"{name}: {e}; declare order= explicitly") from None

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name}")

        @functools.wraps(fn)
        def ordered(spark, sf_dir, *args, **kwargs):
            return _sort_result(fn(spark, sf_dir, *args, **kwargs), terms, sort)

        REGISTRY[name] = QuerySpec(name, ordered, oracle, tags, terms, sort)
        return ordered

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import all query modules (side effect: fills REGISTRY)."""
    from filemapreduce_spark.queries import (  # noqa: F401
        audit,
        curation,
        dedup,
        engine,
        graph,
        mlprep,
        multimodal,
        relational,
        search,
        similarity,
        stats,
        streaming,
        text,
        timeseries,
        tpch,
    )

    return REGISTRY
