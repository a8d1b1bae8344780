#!/usr/bin/env python
"""Conf-restricted sweep: default 200-partition session, no perf confs.

Simulates a driver that forbids runtime conf changes: the session
keeps Spark's defaults (200 shuffle partitions, default broadcast
threshold, no Arrow tuning). Only ``session.CORRECTNESS_CONF`` is
applied (UTC timezone; nanos-as-long and no TIMESTAMP_NTZ inference for
the parquet timestamps — without them the timestamp columns themselves
read differently, which is a data-format matter, not tuning). Queries
are taken straight from the registry (not the __spark_entry__ wrapper,
whose _ensure_conf would re-apply the perf confs). The compare is driver_sim's.

Usage: python scripts/confrestricted_sweep.py [sf_dir] [query ...]
Exit 0 = all strict dtype+value compares pass.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from driver_sim import sweep_frames  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    from filemapreduce_spark.queries import load_all
    from filemapreduce_spark.session import CORRECTNESS_CONF, driver_memory

    spark = (
        SparkSession.builder.master(
            os.environ.get("SPARK_SIM_MASTER", "local[32]")
        )
        .appName("confrestricted_sweep")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config(map=CORRECTNESS_CONF)
        .getOrCreate()
    )

    reg = load_all()
    return sweep_frames(
        spark, sf_dir, only,
        {name: spec.fn for name, spec in reg.items()},
        {name: spec.oracle for name, spec in reg.items()},
    )


if __name__ == "__main__":
    sys.exit(main())
