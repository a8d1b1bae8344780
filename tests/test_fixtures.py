"""The sweep-fixture builder (scripts/fixtures.py): every axis writes the
ten tables with the source schema, keeps or subsets the source rows as
its kind says, applies its rewrite, and is reproducible."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

_SPEC = importlib.util.spec_from_file_location(
    "fixtures", Path(__file__).resolve().parents[1] / "scripts/fixtures.py"
)
fixtures = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(fixtures)

ROW_FILTERS = ("sparse", "n1")


def _rows(table) -> set[str]:
    return {repr(r) for r in table.to_pylist()}


@pytest.mark.parametrize("axis", sorted(fixtures.DEFAULT_OUT))
def test_fixture_axis(axis, tmp_path, sf_small):
    fixtures.build(axis, str(tmp_path / "a"), sf_small)
    fixtures.build(axis, str(tmp_path / "b"), sf_small)
    assert sorted(p.stem for p in (tmp_path / "a").iterdir()) == sorted(
        fixtures.TABLES
    )
    for t in fixtures.TABLES:
        src = pq.read_table(f"{sf_small}/{t}.parquet")
        out = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert out.schema.equals(src.schema, check_metadata=False), t
        if axis in ROW_FILTERS:
            assert _rows(out) <= _rows(src), t
        else:
            assert out.num_rows == src.num_rows, t
        if axis == "null_measures":
            for c in fixtures.MEASURES.get(t, ()):
                assert out[c].null_count == out.num_rows, (t, c)
        if axis == "constval":
            for c in fixtures.CONSTVAL.get(t, {}):
                assert len(pc.unique(out[c])) == 1, (t, c)
        if axis in ("dup", "unicode") and t == "documents":
            same = pc.equal(pc.utf8_length(out["text"]), out["n_chars"])
            assert pc.all(same).as_py()
        assert out.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet")), t
    if axis in ROW_FILTERS:
        # a row filter that kept everything would test nothing
        n = pq.read_table(tmp_path / "a" / "lineitem.parquet").num_rows
        assert n < pq.read_table(f"{sf_small}/lineitem.parquet").num_rows
