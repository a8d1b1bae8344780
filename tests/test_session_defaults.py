"""The session factory's driver-heap default."""

from __future__ import annotations

import os

from filemapreduce_spark.session import driver_memory


def test_driver_memory_is_a_quarter_of_the_machine_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    got = driver_memory()
    assert got == f"{min(16384, total_mb // 4)}m"
    assert 0 < int(got[:-1]) <= 16384


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
