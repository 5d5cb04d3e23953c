"""Every module of the package, the jobs, the scripts and
``__spark_entry__.py`` imports cleanly, so an import left dangling by a
deleted module fails the suite instead of the first run that reaches
it."""

from __future__ import annotations

import glob
import importlib
import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources() -> list[str]:
    pkg = sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "hocr_de_noising_spark", "**", "*.py"), recursive=True)
    )
    loose = sorted(
        os.path.relpath(p, REPO)
        for d in ("jobs", "scripts")
        for p in glob.glob(os.path.join(REPO, d, "*.py"))
    )
    return pkg + loose + ["__spark_entry__.py"]


@pytest.mark.parametrize("path", _sources())
def test_module_imports(path):
    if path.startswith("hocr_de_noising_spark"):
        name = path[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        importlib.import_module(name)
        return
    # jobs/scripts are not packages: load each file under a private name
    name = "_import_probe_" + path[: -len(".py")].replace(os.sep, "_")
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, path))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        del sys.modules[name]
