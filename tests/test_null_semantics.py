"""Regression tests for the round-9 NULL-semantics catches.

The adversarial fixtures that found these (the null_* and skew axes
of scripts/fixtures.py) are ephemeral /tmp sweeps; these tests pin
the OPERATOR-level fixes durably on tiny inline frames. Query-level
declared semantics (the ts-IS-NOT-NULL filters etc.) are pinned by
the oracle gates themselves — any drift breaks the driver compare.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from filemapreduce_spark.operators.asof import asof_join

TS = dt.datetime  # noqa: N816 — terse fixture literals


def _frames(spark):
    left = spark.createDataFrame(
        [
            # (id, key, time)
            Row(id=1, user=10, ts=TS(2024, 1, 1, 12, 0)),
            Row(id=2, user=10, ts=None),  # NULL left time
            Row(id=3, user=None, ts=TS(2024, 1, 1, 12, 0)),  # NULL key
            Row(id=4, user=20, ts=TS(2024, 1, 1, 12, 0)),
        ],
        schema="id long, user long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            Row(rid=100, user=10, ts=TS(2024, 1, 1, 11, 0)),
            Row(rid=101, user=10, ts=None),  # NULL right time
            Row(rid=102, user=None, ts=TS(2024, 1, 1, 11, 0)),  # NULL key
            # user 20 has ONLY unmatchable right rows
            Row(rid=103, user=20, ts=None),
        ],
        schema="rid long, user long, ts timestamp",
    )
    return left, right


def test_asof_null_right_time_never_matches(spark):
    """A NULL-time right row must not match — before the fix Spark's
    NULLS-FIRST sort made it the 'latest before' EVERYTHING."""
    left, right = _frames(spark)
    out = {
        r["id"]: r["asof_rid"]
        for r in asof_join(
            left, right, on="user", left_time="ts", right_time="ts",
            right_payload=["rid"],
        ).collect()
    }
    assert out[1] == 100  # real match survives
    assert out[4] is None  # rid=103 (NULL time) must NOT match


def test_asof_null_left_rows_kept_with_null_match(spark):
    """Left-join contract: NULL-key / NULL-time LEFT rows survive
    with a NULL match instead of being dropped or mismatched."""
    left, right = _frames(spark)
    out = {
        r["id"]: r["asof_rid"]
        for r in asof_join(
            left, right, on="user", left_time="ts", right_time="ts",
            right_payload=["rid"],
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}  # every left row present
    assert out[2] is None  # NULL left time -> no match
    assert out[3] is None  # NULL key: rid=102 must NOT match via
    # NULL-groups-together window partitioning (SQL equi semantics)


def test_asof_forward_null_left_time_no_match(spark):
    """Forward direction: a NULL left time previously sorted FIRST
    and 'found' the whole partition in its following frame."""
    left, right = _frames(spark)
    out = {
        r["id"]: r["asof_rid"]
        for r in asof_join(
            left, right, on="user", left_time="ts", right_time="ts",
            right_payload=["rid"], direction="forward",
        ).collect()
    }
    assert out[2] is None
    assert out[3] is None


def test_chunked_filesystem_rejects_nothing_silently(spark, tmp_path):
    """Injected-filesystem mode lists through the handle — an empty
    subtree yields an empty plan, not an error (plan-time contract)."""
    import pyarrow.fs as pafs

    from filemapreduce_spark.sources.files import read_files_chunked

    (tmp_path / "empty").mkdir()
    fs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    df = read_files_chunked(spark, "empty", filesystem=fs)
    assert df.count() == 0


@pytest.mark.parametrize(
    "fields_a, fields_b",
    [
        ((None, "2", "300"), ("2", "300", None)),
        ((None, "2", "300"), ("2", None, "300")),
    ],
)
def test_checksum_null_encoding_distinguishes_positions(
    spark, fields_a, fields_b
):
    """The <NULL> sentinel encoding must keep NULLs position-coded:
    concat_ws alone hashed (NULL,2,300) and (2,300,NULL) to the SAME
    string '2|300' (it silently skips null operands) — a checksum
    that cannot distinguish them is not a checksum."""
    def row_str(fields):
        return F.concat_ws(
            "|",
            *[
                F.coalesce(F.lit(x).cast("string"), F.lit("<NULL>"))
                for x in fields
            ],
        )

    got = spark.range(1).select(
        F.md5(row_str(fields_a)).alias("a"),
        F.md5(row_str(fields_b)).alias("b"),
    ).first()
    assert got["a"] != got["b"]
