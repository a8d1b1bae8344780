"""Oracle-parity pytest guards for the engine/sink queries added in
round 4 (queries/engine.py + streaming_incremental_file_arrival).

The driver sweep checks these at sf0.01; this local guard runs the
same strict compare at sf0.001 so a regression is visible from
`pytest tests/` without the full sweep.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from filemapreduce_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.001"

NAMES = [
    "engine_vfs_wordcount",
    "engine_vfs_select_compute",
    "engine_sorted_reduce_digest",
    "engine_single_value_finalize",
    "engine_job_metrics",
    "engine_permissive_parse_dead_letters",
    "sink_codec_selection_roundtrip",
    "sink_partition_evolution_roundtrip",
    "streaming_incremental_file_arrival",
]


@pytest.fixture(scope="module")
def registry():
    return load_all()


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for name in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"'{SF_DIR}/{name}.parquet'"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if df.empty:
        return df.reset_index(drop=True)
    key = df.astype(str).apply(lambda r: "\x00".join(r), axis=1)
    order = np.argsort(key.to_numpy(), kind="stable")
    return df.iloc[order].reset_index(drop=True)


@pytest.mark.parametrize("name", NAMES)
def test_engineops_matches_oracle(spark, registry, oracle_con, name):
    spec = registry[name]
    got = _canon(spec.fn(spark, SF_DIR).toPandas())
    want = _canon(oracle_con.execute(spec.oracle).df())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) > 0, f"{name}: empty result proves nothing"
