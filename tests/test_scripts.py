"""Every script under scripts/ still imports: each is loaded with a
run name other than "__main__", so its imports resolve and no main()
runs. drive_contract.py is excluded: it emulates the driver at top
level by design, so loading it would run the whole contract."""

from __future__ import annotations

import glob
import os
import runpy

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts")
TOP_LEVEL_RUNNERS = {"drive_contract.py"}


@pytest.mark.parametrize("path", sorted(
    p for p in glob.glob(os.path.join(SCRIPTS, "*.py"))
    if os.path.basename(p) not in TOP_LEVEL_RUNNERS),
    ids=os.path.basename)
def test_script_imports(path):
    runpy.run_path(path, run_name="__check__")
