"""The paired-control worker, ``bench.py --worker``: its stdin/stdout
protocol (``READY``, one JSON line per query name, ``EXIT``)."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])


def test_worker_protocol(sf_small):
    sys.path.insert(0, ROOT)
    from bench import _spawn_worker, _worker_reply

    proc = _spawn_worker(ROOT, sf_small)
    try:
        assert _worker_reply(proc, 300) == {"ready": True}

        def ask(name: str) -> dict | None:
            proc.stdin.write(name + "\n")
            proc.stdin.flush()
            return _worker_reply(proc, 300)

        timed = ask("q6_revenue_delta")
        assert set(timed) == {"name", "sec"}, timed
        assert timed["name"] == "q6_revenue_delta" and timed["sec"] > 0
        unknown = ask("no_such_query")
        assert set(unknown) == {"name", "error"}, unknown
        assert unknown["name"] == "no_such_query"

        proc.stdin.write("EXIT\n")
        proc.stdin.flush()
        assert proc.wait(timeout=120) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
