"""The session factory's driver-heap default, and the per-session
memo's one-value-per-key contract under concurrent first calls."""

from __future__ import annotations

import os
import sys
import threading
import time
from types import SimpleNamespace

from filemapreduce_spark.session import driver_memory, memo


def test_driver_memory_is_a_quarter_of_the_machine_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    got = driver_memory()
    assert got == f"{min(16384, total_mb // 4)}m"
    assert 0 < int(got[:-1]) <= 16384


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_memo_gives_every_concurrent_caller_the_same_value():
    """Threads racing on one key may each build, but all of them get
    the first value stored; the memo is per session object."""
    session, other = SimpleNamespace(), SimpleNamespace()
    start = threading.Barrier(16)
    got = []

    def build():
        time.sleep(0.001)
        return object()

    def call():
        start.wait(timeout=10)
        got.append(memo(session, "k", build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 16 and all(v is got[0] for v in got)
    assert memo(session, "k", build) is got[0]
    assert memo(other, "k", build) is not got[0]
