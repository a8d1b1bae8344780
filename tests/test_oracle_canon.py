"""The one row canon every oracle sweep compares with
(scripts/check_oracle.py: ``canon``/``rows_to_canon``/``compare``), and
driver_sim's strict pandas compare built on it."""

from __future__ import annotations

import datetime
import importlib.util
from pathlib import Path

import numpy as np
import pandas as pd

SCRIPTS = Path(__file__).resolve().parents[1] / "scripts"


def _load(name):
    spec = importlib.util.spec_from_file_location(name, SCRIPTS / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


check_oracle = _load("check_oracle")
canon, rows_to_canon = check_oracle.canon, check_oracle.rows_to_canon
Rows, compare = check_oracle.Rows, check_oracle.compare

T0 = datetime.datetime(2024, 1, 1)


def test_columns_sorted_by_name():
    assert rows_to_canon(["b", "a"], [(1, "x")]) == (["a", "b"], [("x", "1")])
    assert compare(Rows(["b", "a"], [(1, "x")]), Rows(["a", "b"], [("x", 1)])) == []
    assert compare(Rows(["a"], [(1,)]), Rows(["b"], [(1,)]))[0].startswith("COLS")


def test_r12_collision_rows_are_distinct_and_order_free():
    # (1, 414) and (14, 14) concatenate to the same '1414'; the canon
    # keeps them apart and sorts them the same from either input order
    rows = [(1, 414), (14, 14)]
    assert rows_to_canon(["a", "b"], rows) == rows_to_canon(["a", "b"], rows[::-1])
    assert compare(Rows(["a", "b"], rows[:1]), Rows(["a", "b"], rows[1:]))


def test_floats_compare_exactly():
    assert canon(0.1 + 0.2) != canon(0.3)
    assert canon(np.float64(0.1)) == canon(0.1) == "0.1"


def test_nan_is_not_null():
    assert canon(float("nan")) == canon(np.nan) == "NaN"
    assert canon(None) == "NULL"


def test_datetimes_keep_microseconds():
    lo = T0 + datetime.timedelta(microseconds=1)
    hi = T0 + datetime.timedelta(microseconds=999999)
    assert len({canon(T0), canon(lo), canon(hi)}) == 3
    assert canon(lo) == "2024-01-01 00:00:00.000001"
    # whole seconds render as before (no fraction)
    assert canon(T0) == "2024-01-01 00:00:00"
    assert canon(pd.Timestamp(hi)) == canon(hi)
    assert canon(datetime.date(2024, 1, 1)) == "2024-01-01"


def test_null_timestamps():
    assert canon(pd.NaT) == canon(np.datetime64("NaT")) == canon(None) == "NULL"
    frame = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01", None])})
    assert sorted(canon(v) for (v,) in frame.itertuples(index=False, name=None)) == [
        "2024-01-01 00:00:00",
        "NULL",
    ]


def test_nested_lists_and_numpy_values():
    nested = np.array([np.array([1, 2]), np.array([3])], dtype=object)
    assert canon([[1, 2], [3]]) == canon(nested) == canon(((1, 2), (3,))) == "[[1,2],[3]]"
    assert canon([]) == "[]"
    assert canon(np.int64(5)) == canon(5) == "5"
    assert canon(np.bool_(True)) == canon(True) == "1"


def test_strict_diff_flags_value_dtype_and_microsecond():
    driver_sim = _load("driver_sim")
    frame = pd.DataFrame(
        {"k": [1, 14], "v": [414, 14], "ts": [T0, T0 + datetime.timedelta(seconds=1)]}
    )
    assert driver_sim.strict_diff(frame, frame.iloc[::-1]) == []

    wrong = frame.assign(v=[414, 15])
    assert [m.split()[0] for m in driver_sim.strict_diff(frame, wrong)] == ["VALUE"]

    dtype = frame.assign(v=frame["v"].astype("float64"))
    assert [m.split()[0] for m in driver_sim.strict_diff(frame, dtype)] == [
        "DTYPE",
        "VALUE",
    ]

    shifted = frame.assign(ts=frame["ts"] + pd.Timedelta(microseconds=1))
    (msg,) = driver_sim.strict_diff(frame, shifted)
    assert msg.startswith("VALUE 2/2 rows; first ts:"), msg
