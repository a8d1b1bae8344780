"""Planted-ground-truth tests for the analytics8 + coverage6 operators.

- CUPED: y = 2x + arm-offset with x balanced across arms makes the
  pooled theta exactly 2 and the adjusted metric exactly constant
  per arm → variance reduction exactly 10000 bp.
- DiD: hand-planted 2x2 cell means give DiD = 150 cents exactly.
- ABC: revenues 80/15/5 land exactly on the 80%/95% boundaries
  (<= semantics → one part per class).
- Kendall: monotone series → tau ±1000; one tie pair reproduces the
  tau-b tie correction 2/sqrt(3*2).
- Connected components: a 5-node chain (needs 4 propagation rounds),
  a 2-node island, a singleton, and filtered-out parts.
- Luhn: ISO test PANs through the Spark checksum expression, and the
  registry screen vs a pure-Python Luhn on the same derivation.
- MLM plan: exact per-doc counts reproduced from pure-Python md5.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import tempfile

import pytest

from filemapreduce_spark.queries import load_all


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _write(spark, d, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, f"{name}.parquet"))
    return d


_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)
_LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
    " l_quantity double, l_extendedprice double, l_discount double,"
    " l_tax double, l_returnflag string, l_linestatus string,"
    " l_shipdate timestamp"
)
_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

_PRE = dt.datetime(2024, 1, 2)
_POST = dt.datetime(2024, 1, 20)


def test_cuped_perfect_covariate(spark, registry):
    """y = 2x exactly (plus a per-arm constant) with the same x values
    in both arms: theta = 2, adjusted mean = raw mean, and the CUPED
    residual is constant per arm → varred_bp = 10000."""
    rows = []
    eid = 0
    # (user, x_cents, y_cents): arm = user % 2
    for user, x, y in [(0, 100, 200), (2, 300, 600),
                       (1, 100, 300), (3, 300, 700)]:
        rows.append((eid, _PRE, user, "t", x / 100.0, "{}")); eid += 1
        rows.append((eid, _POST, user, "t", y / 100.0, "{}")); eid += 1
    d = tempfile.mkdtemp(prefix="fmr_a8_cuped_")
    _write(spark, d, "events", rows, _EV_SCHEMA)
    out = {
        r["arm"]: r
        for r in registry["cuped_adjusted_lift"].fn(spark, d).collect()
    }
    assert out[0]["theta_micro"] == 2_000_000
    assert out[0]["mean_post_milli"] == 400_000
    assert out[0]["mean_cuped_milli"] == 400_000
    assert out[0]["varred_bp"] == 10000
    assert out[1]["mean_post_milli"] == 500_000
    assert out[1]["mean_cuped_milli"] == 500_000
    assert out[1]["varred_bp"] == 10000


def test_did_exact_cells(spark, registry):
    """Control delta = 100 cents, treated delta = 250 cents →
    DiD = 150 cents on both output rows."""
    rows = [
        # arm 0 (users 0, 2): pre mean 1.00, post mean 2.00
        (0, _PRE, 0, "t", 1.0, "{}"),
        (1, _PRE, 2, "t", 1.0, "{}"),
        (2, _POST, 0, "t", 2.0, "{}"),
        (3, _POST, 2, "t", 2.0, "{}"),
        # arm 1 (users 1, 3): pre mean 1.00, post mean 3.50
        (4, _PRE, 1, "t", 1.0, "{}"),
        (5, _PRE, 3, "t", 1.0, "{}"),
        (6, _POST, 1, "t", 3.0, "{}"),
        (7, _POST, 3, "t", 4.0, "{}"),
    ]
    d = tempfile.mkdtemp(prefix="fmr_a8_did_")
    _write(spark, d, "events", rows, _EV_SCHEMA)
    out = registry["did_two_period_lift"].fn(spark, d).collect()
    assert [r["arm"] for r in out] == [0, 1]
    assert out[0]["delta_milli"] == 100_000
    assert out[1]["delta_milli"] == 250_000
    assert out[0]["did_milli"] == out[1]["did_milli"] == 150_000


def test_abc_exact_boundaries(spark, registry):
    """Revenues 80/15/5: cumulative shares land exactly on 80% and
    95%; <= boundary semantics put one part in each class."""
    ship = dt.datetime(1995, 6, 1)
    rows = [
        (1, 101, 1, 1, 1.0, 80.0, 0.0, 0.0, "N", "O", ship),
        (2, 102, 1, 1, 1.0, 15.0, 0.0, 0.0, "N", "O", ship),
        (3, 103, 1, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", ship),
    ]
    d = tempfile.mkdtemp(prefix="fmr_a8_abc_")
    _write(spark, d, "lineitem", rows, _LI_SCHEMA)
    out = {r["cls"]: r for r in registry["abc_revenue_classes"].fn(spark, d).collect()}
    assert out["A"]["n_parts"] == 1 and out["A"]["share_milli"] == 800
    assert out["B"]["n_parts"] == 1 and out["B"]["share_milli"] == 150
    assert out["C"]["n_parts"] == 1 and out["C"]["share_milli"] == 50


def test_kendall_monotone_and_ties(spark, registry):
    """Strictly increasing daily series → tau = +1.0; strictly
    decreasing → -1.0; one value tie among 3 days → tau-b =
    2 / sqrt(3*2) = 0.8165."""
    rows = []
    eid = 0
    for day, v in enumerate([1.0, 2.0, 3.0, 4.0], start=1):
        rows.append((eid, dt.datetime(2024, 1, day), 1, "up", v, "{}"))
        eid += 1
    for day, v in enumerate([4.0, 3.0, 2.0, 1.0], start=1):
        rows.append((eid, dt.datetime(2024, 1, day), 1, "down", v, "{}"))
        eid += 1
    for day, v in enumerate([1.0, 1.0, 2.0], start=1):
        rows.append((eid, dt.datetime(2024, 1, day), 1, "tie", v, "{}"))
        eid += 1
    d = tempfile.mkdtemp(prefix="fmr_a8_tau_")
    _write(spark, d, "events", rows, _EV_SCHEMA)
    out = {r["event_type"]: r for r in registry["kendall_tau_daily_value"].fn(spark, d).collect()}
    assert out["up"]["tau_milli"] == 1000
    assert out["down"]["tau_milli"] == -1000
    t = out["tie"]
    assert (t["n_conc"], t["n_disc"], t["n_tie"]) == (2, 0, 1)
    assert t["tau_milli"] == 816  # 2/sqrt(6) = 0.81649...


def _li_edge_rows():
    """Planted co-purchase graph (all part keys % 7 == 0):
    chain 7-14-21-28-35 (via 4 two-part orders — needs 4 label-
    propagation rounds), island {42, 56}, singleton {63}, and two
    non-multiple-of-7 parts that must be filtered out."""
    ship = dt.datetime(1995, 6, 1)
    orders = [
        (1, [7, 14]), (2, [14, 21]), (3, [21, 28]), (4, [28, 35]),
        (5, [42, 56]), (6, [63]), (7, [3, 5]),
    ]
    rows = []
    for ok, parts in orders:
        for ln, pk in enumerate(parts, start=1):
            rows.append(
                (ok, pk, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", ship)
            )
    return rows


def test_connected_components_planted(spark, registry):
    d = tempfile.mkdtemp(prefix="fmr_a8_cc_")
    _write(spark, d, "lineitem", _li_edge_rows(), _LI_SCHEMA)
    out = {
        r["node"]: r["comp"]
        for r in registry["connected_components_minlabel"].fn(spark, d).collect()
    }
    assert out == {7: 7, 14: 7, 21: 7, 28: 7, 35: 7,
                   42: 42, 56: 42, 63: 63}


def _py_luhn(pan: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(pan), start=1):
        v = int(ch)
        if i % 2 == 0:
            v *= 2
            if v > 9:
                v -= 9
        total += v
    return total % 10 == 0


def test_luhn_known_pans(spark):
    """ISO test card numbers through the Spark checksum expression."""
    from pyspark.sql import functions as F

    from filemapreduce_spark.queries.audit import _spark_luhn_sum

    pans = [
        ("4111111111111111", True),   # classic Visa test number
        ("4012888888881881", True),
        ("4111111111111112", False),
        ("0000000000000000", True),   # sum 0 — divisible by 10
        ("1234567812345670", True),
        ("1234567812345678", False),
    ]
    for pan, want in pans:
        assert _py_luhn(pan) is want  # the reference agrees first
    df = spark.createDataFrame([(p,) for p, _ in pans], "pan string")
    got = df.select(
        "pan", (_spark_luhn_sum(F.col("pan")) % 10 == 0).alias("ok")
    ).collect()
    assert {r["pan"]: r["ok"] for r in got} == dict(pans)


def test_luhn_screen_matches_python(spark, registry):
    """The registry screen's valid count equals a pure-Python Luhn
    over the same o_orderkey/o_custkey derivation."""
    od = dt.datetime(1996, 1, 1)
    rows = [
        (k, k * 13 + 1, "O", 100.0, od, f"{1 + k % 3}-P")
        for k in range(1, 41)
    ]
    d = tempfile.mkdtemp(prefix="fmr_a8_luhn_")
    _write(spark, d, "orders", rows, _ORD_SCHEMA)
    expect: dict[str, list[int]] = {}
    for k, ck, _, _, _, prio in rows:
        pan = str((k * 1000003 + ck * 97) % 10**16).zfill(16)
        expect.setdefault(prio, [0, 0])
        expect[prio][0] += 1
        expect[prio][1] += int(_py_luhn(pan))
    out = registry["luhn_checksum_screen"].fn(spark, d).collect()
    got = {r["o_orderpriority"]: [r["n_orders"], r["n_valid"]] for r in out}
    assert got == expect


def _py_mlm_counts(doc_id: int, text: str):
    toks = [w for w in text.lower().split() if w]
    n_sel = n_mask = n_rand = n_keep = 0
    for i, tok in enumerate(toks, start=1):
        h = hashlib.md5(f"{doc_id}:{i}:{tok}".encode()).hexdigest()
        h1, h2 = int(h[0:4], 16), int(h[4:8], 16)
        if h1 < 9830:
            n_sel += 1
            if h2 < 52429:
                n_mask += 1
            elif h2 < 58982:
                n_rand += 1
            else:
                n_keep += 1
    return len(toks), n_sel, n_mask, n_rand, n_keep


def test_mlm_plan_matches_python_md5(spark, registry):
    texts = [
        (1, " ".join(f"tok{i % 17}" for i in range(60))),
        (2, "alpha beta gamma delta epsilon zeta eta theta " * 8),
        (3, "one"),
    ]
    d = tempfile.mkdtemp(prefix="fmr_a8_mlm_")
    _write(
        spark, d, "documents",
        [(i, s, "en", "srcT", len(s)) for i, s in texts],
        _DOC_SCHEMA,
    )
    out = {r["doc_id"]: r for r in registry["mlm_masking_plan"].fn(spark, d).collect()}
    for doc_id, text in texts:
        n, sel, mask, rand, keep = _py_mlm_counts(doc_id, text)
        r = out[doc_id]
        assert (
            r["n_tokens"], r["n_selected"], r["n_mask"],
            r["n_random"], r["n_keep"],
        ) == (n, sel, mask, rand, keep)
        assert r["n_mask"] + r["n_random"] + r["n_keep"] == r["n_selected"]
