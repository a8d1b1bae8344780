"""Every script under scripts/ imports cleanly (its ``main`` is not
run), so a broken cross-script import fails here: the sweeps import
check_oracle and driver_sim, and perfbench execs check_oracle by path."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

SCRIPTS = Path(__file__).resolve().parents[1] / "scripts"


@pytest.mark.parametrize("path", sorted(SCRIPTS.glob("*.py")), ids=lambda p: p.stem)
def test_script_imports(path, monkeypatch):
    # the scripts put their own directories on sys.path; undo that
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(f"script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None))
