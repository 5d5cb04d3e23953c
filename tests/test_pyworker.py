"""lazy_zip_invalidation: importlib.invalidate_caches() re-reads no zip
archive directory, a zip rewritten after an invalidation is still seen
by the next import, and Python 3.12+ is left as it is. Runs in a
subprocess so the test process keeps the stock zipimporter."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import importlib, json, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
from hocr_de_noising_spark.pyworker import lazy_zip_invalidation

zpath = {zpath!r}
with zipfile.ZipFile(zpath, "w") as z:
    z.writestr("pkg/__init__.py", "")
    z.writestr("pkg/m1.py", "X = 1\\n")
sys.path.append(zpath)
import pkg.m1

stock = dict(vars(zipimport.zipimporter))
lazy_zip_invalidation()
patched = dict(vars(zipimport.zipimporter))
lazy_zip_invalidation()

reads = []
read_directory = zipimport._read_directory
def counting(path):
    reads.append(path)
    return read_directory(path)
zipimport._read_directory = counting

importlib.invalidate_caches()
inval_reads = len(reads)
with zipfile.ZipFile(zpath, "a") as z:
    z.writestr("pkg/m2.py", "Y = 2\\n")
importlib.invalidate_caches()
import pkg.m2
print("RESULT " + json.dumps({{
    "inval_reads": inval_reads,
    "total_reads": len(reads),
    "m2": pkg.m2.Y,
    "unchanged": stock == patched,
    "idempotent": patched == dict(vars(zipimport.zipimporter)),
}}))
"""


def test_lazy_zip_invalidation(tmp_path):
    r = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO, zpath=str(tmp_path / "probe.zip"))],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [s for s in r.stdout.splitlines() if s.startswith("RESULT ")]
    assert line, r.stdout[-2000:]
    got = json.loads(line[0][len("RESULT "):])
    assert got["inval_reads"] == 0, got
    assert got["m2"] == 2, got
    # the two importers (archive root and pkg/) share one re-read
    assert got["total_reads"] == 1, got
    assert got["idempotent"], got
    if sys.version_info >= (3, 12):
        assert got["unchanged"], got
