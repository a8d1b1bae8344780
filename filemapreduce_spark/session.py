"""SparkSession factory with scale-aware defaults.

Local mode is the test harness; the conf is written so the same code
lands well on a real cluster: AQE on (runtime re-plan, skew-join
handling, partition coalescing), Arrow on (fast pandas interchange for
the few Pandas-UDF operators), UTC session timezone (oracle parity),
and shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os
from typing import Callable, Hashable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# SQL confs the queries need for oracle parity, whatever the session.
CORRECTNESS_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # the synthetic events table stores TIMESTAMP(NANOS); read the
    # raw int64 and convert (ts div 1000 → microseconds) on load
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # isAdjustedToUTC=false parquet columns: infer TIMESTAMP, not
    # TIMESTAMP_NTZ — keeps filter pushdown on the scan column and
    # (with the UTC session tz) matches DuckDB's naive reading
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

# SQL perf confs of every query session (shuffle partitions aside,
# which each session sizes for itself).
PERF_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def driver_memory() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else a quarter
    of the machine's memory, at most 16 GB."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(16 * 1024, total_mb // 4)}m"


def get_spark(
    app_name: str = "filemapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Env overrides: SPARK_GRAFT_CPUS (local parallelism),
    SPARK_GRAFT_SHUFFLE_PARTITIONS, SPARK_GRAFT_DRIVER_MEM (see
    ``driver_memory``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                str(os.cpu_count() or 32),
            )
        )

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        **PERF_CONF,
        **CORRECTNESS_CONF,
        "spark.driver.memory": driver_memory(),
        "spark.ui.enabled": "false",
        "spark.sql.parquet.filterPushdown": "true",
        **(extra_conf or {}),
    }
    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=conf)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def memo(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """``build()``'s value, built once per session under ``key``.

    The dict lives on the session object, so its entries are released
    with the session and another session (``spark.newSession()``, a
    restart) never sees them. Two threads missing the same key at once
    may both build; the first value stored is the one every caller
    gets. A value that can go stale (a persisted DataFrame that
    ``clearCache()`` released) is the caller's to check.
    """
    store = vars(spark).setdefault("_fmr_memo", {})
    try:
        return store[key]
    except KeyError:
        return store.setdefault(key, build())
