"""The registry's result-order contract (``queries.QuerySpec.order``):
the order is read from each oracle's top-level ORDER BY (or declared
with ``order=``), applied by ``register``'s wrapper, and checked by
``scripts/check_oracle.py``'s ``order_breaks``."""

from __future__ import annotations

import ast
import importlib.util
import inspect
import json
import math
import os
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

from filemapreduce_spark.queries import (
    OrderTerm,
    load_all,
    order_terms,
    parse_term,
    register,
)

ROOT = Path(__file__).resolve().parents[1]
SF_SMALL = "/root/testdata/sf0.001"


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "scripts" / "check_oracle.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


order_breaks = _load_check_oracle().order_breaks


@pytest.fixture(scope="module")
def registry():
    return load_all()


# --------------------------------------------------------------------
# The parser, against DuckDB's own.
# --------------------------------------------------------------------
def _duckdb_orders(con, sql):
    """The top-level ORDER BY terms DuckDB parses from ``sql``:
    (key, desc, nulls_first) with Spark's null default filled in, or
    None for a term that is neither a column nor a position."""
    tree = json.loads(
        con.execute("SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0]
    )
    assert not tree["error"], tree
    node = tree["statements"][0]["node"]
    while True:
        mods = [m for m in node.get("modifiers", []) if m["type"] == "ORDER_MODIFIER"]
        if mods or node["type"] != "CTE_NODE":
            break
        node = node["child"]
    out = []
    for o in mods[-1]["orders"] if mods else []:
        e = o["expression"]
        if e["class"] == "COLUMN_REF":
            key = e["column_names"][-1]
        elif e["class"] == "CONSTANT":
            key = e["value"]["value"]
        else:
            return None
        desc = o["type"] == "DESCENDING"
        nulls = {"NULLS_FIRST": True, "NULLS_LAST": False}.get(o["null_order"])
        out.append((key, desc, not desc if nulls is None else nulls))
    return out


def test_parser_agrees_with_duckdb_on_every_oracle(registry):
    con = duckdb.connect()
    n_ordered = 0
    for name, spec in sorted(registry.items()):
        if spec.oracle is None:
            continue
        want = _duckdb_orders(con, spec.oracle)
        if want is None:
            with pytest.raises(ValueError):
                order_terms(spec.oracle)
            continue
        got = [(t.key, t.desc, t.nulls_first) for t in order_terms(spec.oracle)]
        assert got == want, name
        n_ordered += bool(want)
    assert n_ordered > 300


def test_parser_skips_literals_comments_and_nested_clauses():
    sql = """
    WITH c AS (SELECT a FROM t ORDER BY a DESC)  -- ORDER BY zzz
    SELECT a, 'ORDER BY b' AS s, row_number() OVER (ORDER BY a) AS r
    FROM c ORDER BY c.a DESC NULLS FIRST, 2, "s" LIMIT 5 OFFSET 1
    """
    assert order_terms(sql) == (
        OrderTerm("a", True, True),
        OrderTerm(2),
        OrderTerm("s"),
    )
    assert order_terms("SELECT a FROM t") == ()
    assert parse_term("x desc") == OrderTerm("x", True, False)
    assert parse_term("x nulls last") == OrderTerm("x", False, False)


def test_expression_order_is_an_error_naming_the_query():
    with pytest.raises(ValueError, match="some_query"):
        register("some_query", "SELECT a FROM t ORDER BY lower(a)")


# --------------------------------------------------------------------
# No hand-written sort tails.
# --------------------------------------------------------------------
def _last_return(fn):
    path = inspect.getsourcefile(fn)
    tree = ast.parse(Path(path).read_text())
    node = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == fn.__name__
    )
    returns = []

    def walk(n):
        for c in ast.iter_child_nodes(n):
            if not isinstance(c, (ast.FunctionDef, ast.Lambda, ast.ClassDef)):
                if isinstance(c, ast.Return):
                    returns.append(c)
                walk(c)

    walk(node)
    return max(returns, key=lambda r: r.lineno).value


def test_no_registered_function_ends_in_a_sort(registry):
    sorts = {"orderBy", "sort", "tiny_sorted", "one_part_sorted"}
    tails = []
    for name, spec in sorted(registry.items()):
        if spec.sort == "body":
            continue
        v = _last_return(spec.fn.__wrapped__)
        if not isinstance(v, ast.Call):
            continue
        f = v.func
        if isinstance(f, ast.Attribute) and f.attr == "limit":
            continue  # a top-k: its sort chooses the rows
        if (
            (isinstance(f, ast.Attribute) and f.attr in sorts)
            or (isinstance(f, ast.Name) and f.id in sorts)
            or (isinstance(f, ast.Attribute) and f.attr == "sortWithinPartitions")
        ):
            tails.append(name)
    assert tails == []


def test_sort_methods_are_declared_sparingly(registry):
    by_sort = {}
    for spec in registry.values():
        by_sort.setdefault(spec.sort, []).append(spec.name)
    assert set(by_sort) <= {"orderBy", "one_part_sorted", "tiny_sorted", "body"}
    assert len(by_sort["orderBy"]) > 300


# --------------------------------------------------------------------
# The checker.
# --------------------------------------------------------------------
ASC = (OrderTerm("k"),)
DESC = (OrderTerm("k", desc=True, nulls_first=False),)


def _rows(*ks):
    return [(k, i) for i, k in enumerate(ks)]


def test_checker_asc_nulls_first():
    assert order_breaks(["k", "i"], _rows(None, None, 1, 2, 2, 5), ASC) is None
    assert "ORDER" in order_breaks(["k", "i"], _rows(1, None, 2), ASC)


def test_checker_desc_nulls_last():
    assert order_breaks(["k", "i"], _rows(5, 2, 1, None), DESC) is None
    assert order_breaks(["k", "i"], _rows(None, 5, 2), DESC) is not None


def test_checker_nan_sorts_above_every_number():
    nan = math.nan
    assert order_breaks(["k", "i"], _rows(None, -1.0, 3.5, nan, nan), ASC) is None
    assert order_breaks(["k", "i"], _rows(nan, 3.5, None), DESC) is None
    assert order_breaks(["k", "i"], _rows(nan, 1.0), ASC) is not None
    # pandas cannot tell a NULL from a NaN: either reading passes
    assert order_breaks(["k", "i"], _rows(nan, 1.0, nan), ASC, None) is None


def test_checker_ties_and_second_terms():
    order = (OrderTerm("k"), OrderTerm("j", desc=True, nulls_first=False))
    rows = [(1, 9, "x"), (1, 9, "a"), (1, 2, "b"), (2, 7, "c")]
    assert order_breaks(["k", "j", "s"], rows, order) is None
    msg = order_breaks(["k", "j", "s"], rows[1:2] + rows[:1] + [(1, 10, "z")], order)
    assert msg.startswith("ORDER rows 1,2")


def test_checker_position_term_and_case():
    rows = [("a", 3), ("b", 1), ("c", 2)]
    assert order_breaks(["S", "n"], rows, (OrderTerm(1),)) is None
    assert order_breaks(["S", "n"], rows, (OrderTerm("s"),)) is None
    assert order_breaks(["S", "n"], rows, (OrderTerm(2),)) is not None


def test_checker_flags_a_reversed_result():
    rows = [(k, str(k)) for k in range(10)]
    assert order_breaks(["k", "v"], rows, ASC) is None
    assert order_breaks(["k", "v"], rows[::-1], ASC).startswith("ORDER rows 0,1")
    assert order_breaks(["k", "v"], rows[::-1], ()) is None


# --------------------------------------------------------------------
# With Spark: each sort method yields its declared order.
# --------------------------------------------------------------------
@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",  # orderBy; registry_slice
        "q3_shipping_priority",  # top-k; registry_slice
        "neardup_minhash_lsh",  # registry_slice
        "pandas_udf_char_classes",  # body; registry_slice
        "window_topk_per_brand",  # one_part_sorted
        "q13_order_count_distribution",  # tiny_sorted
        "engine_permissive_parse_dead_letters",  # ORDER BY 1
    ],
)
def test_query_follows_its_order(spark, registry, name):
    spec = registry[name]
    assert spec.order
    df = spec.fn(spark, SF_SMALL)
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) > 1
    assert order_breaks(df.columns, rows, spec.order) is None
    assert order_breaks(df.columns, rows[::-1], spec.order) is not None


def test_sweep_runs_outside_the_checkout(tmp_path):
    """The sweep puts the checkout on the Python workers' path too, so
    a query whose pandas UDF imports the library passes when started
    from any directory."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable,
            str(ROOT / "scripts" / "check_oracle.py"),
            SF_SMALL,
            "audio_decimate_2to1",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "1 PASS" in proc.stdout
