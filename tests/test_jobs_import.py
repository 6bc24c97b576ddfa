"""Every script under ``jobs/`` must at least import.

The jobs are run by hand (spark-submit / python), so nothing else
exercises them: an engine rename that breaks a job's imports would
otherwise only surface the next time someone runs it.  Each job keeps
its work behind a ``__main__`` guard, so importing it by file path runs
only the module-level imports and constants.
"""

import importlib.util
import os
import sys
from pathlib import Path

import pytest

JOBS = sorted((Path(__file__).resolve().parent.parent / "jobs").glob("*.py"))


@pytest.mark.parametrize("path", JOBS, ids=[p.stem for p in JOBS])
def test_job_imports(path, monkeypatch):
    # jobs prepend the repo root to sys.path and default a few thread-count
    # env vars at import time; keep both local to this test
    monkeypatch.setattr(sys, "path", list(sys.path))
    env = dict(os.environ)
    name = f"_job_{path.stem}"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.modules.pop(name, None)
        os.environ.clear()
        os.environ.update(env)
