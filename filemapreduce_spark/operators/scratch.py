"""Per-invocation scratch directories, removed at interpreter exit so
repeated runs (bench reps, sweeps, long sessions) do not pile up
directories under the temp dir."""

from __future__ import annotations

import atexit
import shutil
import tempfile

_DIRS: list[str] = []


@atexit.register
def _reap() -> None:
    for d in _DIRS:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(label: str) -> str:
    """A new temp directory ``fmr_<label>_*``."""
    d = tempfile.mkdtemp(prefix=f"fmr_{label}_")
    _DIRS.append(d)
    return d
