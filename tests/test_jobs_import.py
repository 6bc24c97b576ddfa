"""Every script under ``jobs/`` and ``kgbench/`` must at least import.

The jobs are run by hand (spark-submit / python) and the benchmark by
its own runner, so nothing else exercises them: an engine rename that
breaks a job's or a workload's imports would otherwise only surface the
next time someone runs it (for the benchmark, as failed ops).  Each
script keeps its work behind a ``__main__`` guard, so importing it by
file path runs only the module-level imports and constants.
"""

import importlib.util
import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
JOBS = sorted((ROOT / "jobs").glob("*.py"))
KGBENCH = sorted((ROOT / "kgbench").glob("*.py"))


@pytest.mark.parametrize(
    "path", JOBS + KGBENCH, ids=[p.stem for p in JOBS] + [f"kgbench.{p.stem}" for p in KGBENCH]
)
def test_job_imports(path, monkeypatch):
    # jobs prepend the repo root to sys.path and default a few thread-count
    # env vars at import time; keep both local to this test
    monkeypatch.setattr(sys, "path", list(sys.path))
    if path.parent.name == "kgbench":
        # the benchmark's modules import each other as top-level modules
        sys.path.insert(0, str(path.parent))
    env = dict(os.environ)
    before = set(sys.modules)
    name = f"_job_{path.stem}"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod  # dataclasses look their module up while it loads
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.modules.pop(name, None)
        for sibling in {p.stem for p in KGBENCH} - before:
            sys.modules.pop(sibling, None)
        os.environ.clear()
        os.environ.update(env)
