"""Planted-ground-truth tests for the spatial batch.

Both queries are mirrored bit-for-bit in Python: the md5 coordinate
bridge, the integer ray casting (with the same sign convention), and
the quadkey bit interleaving. 50 planted customers must produce the
exact zone census and quadkey histogram of the mirror.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections import Counter

import pytest

from filemapreduce_spark.queries import load_all
from filemapreduce_spark.queries.search import _BOX, _POLYGONS, _edges


@pytest.fixture(scope="module")
def registry():
    return load_all()


_C_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
    " c_mktsegment string"
)


def _coord(which, key):
    h = hashlib.md5(f"{which}:{key}".encode()).hexdigest()
    return int(h[:8], 16) % _BOX


def _zone(px, py):
    inside = []
    for pid in sorted(_POLYGONS):
        n_cross = 0
        for p, x1, y1, x2, y2 in _edges():
            if p != pid:
                continue
            if (y1 > py) != (y2 > py):
                dy = y2 - y1
                lhs = (x1 * dy + (x2 - x1) * (py - y1) - px * dy) * (
                    1 if dy > 0 else -1
                )
                if lhs > 0:
                    n_cross += 1
        if n_cross % 2 == 1:
            inside.append(pid)
    return min(inside) if inside else 0


def _quadkey_digit(v, level):
    return (v * (2 ** level)) // _BOX % 2


def test_point_in_polygon_matches_mirror(spark, registry):
    keys = list(range(1, 51))
    rows = [(k, f"c{k}", 0, 0.0, "B") for k in keys]
    d = tempfile.mkdtemp(prefix="fmr_sp_pip_")
    spark.createDataFrame(rows, _C_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "customer.parquet"))
    expect = Counter(
        _zone(_coord("lat", k), _coord("lon", k)) for k in keys
    )
    out = {
        r["zone"]: r["n_points"]
        for r in registry["point_in_polygon_assignment"].fn(spark, d).collect()
    }
    assert out == dict(expect)
    # all three zones plus outside should be populated at n=50
    assert sum(out.values()) == 50


def test_quadkey_matches_mirror(spark, registry):
    keys = list(range(1, 51))
    rows = [(k, f"c{k}", 0, 0.0, "B") for k in keys]
    d = tempfile.mkdtemp(prefix="fmr_sp_qk_")
    spark.createDataFrame(rows, _C_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "customer.parquet"))
    expect = Counter()
    for k in keys:
        px, py = _coord("lat", k), _coord("lon", k)
        qk = ""
        for lv in (1, 2, 3):
            qk += str(2 * _quadkey_digit(py, lv) + _quadkey_digit(px, lv))
            expect[(lv, qk)] += 1
    out = {
        (r["level"], r["quadkey"]): r["n_points"]
        for r in registry["quadkey_spatial_rollup"].fn(spark, d).collect()
    }
    assert out == dict(expect)
    # level-1 counts roll up exactly to level-2 counts
    for lv in (1, 2):
        parents = {
            k: sum(
                v
                for (l2, q2), v in out.items()
                if l2 == lv + 1 and q2.startswith(k[1])
            )
            for k in out
            if k[0] == lv
        }
        for k, v in parents.items():
            assert out[k] == v
