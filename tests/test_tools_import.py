"""The kept harnesses (``tools/*.py`` and ``bench.py``) import cleanly.

Each file is loaded by path under a name other than ``__main__``, so
only its module-level code runs.  A product change that removes a name
a harness imports at module level fails here instead of in the harness's
own run."""

import glob
import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESSES = sorted(
    os.path.relpath(p, REPO)
    for p in glob.glob(os.path.join(REPO, "tools", "*.py")) + [os.path.join(REPO, "bench.py")]
)


@pytest.mark.parametrize("rel", HARNESSES)
def test_harness_imports(rel, monkeypatch):
    # some harnesses chdir or extend sys.path at import; undo both
    monkeypatch.chdir(os.getcwd())
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = "_harness_" + os.path.splitext(os.path.basename(rel))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, rel))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
