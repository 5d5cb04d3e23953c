"""get_spark: Python workers import the package from any working
directory, without PYTHONPATH set by the caller."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from hocr_de_noising_spark import get_spark
from hocr_de_noising_spark.operators.pipeline import denoise_fused
spark = get_spark("cwd-probe", cores=1)
docs = spark.createDataFrame(
    [("d1", [("text", "hello", None, 0), ("image", None, "m/1.png", 1)])],
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>",
)
rows = denoise_fused(docs, ["hello"]).collect()
print("ROWS", len(rows))
spark.stop()
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    """The calling process finds the package through its own sys.path;
    the workers the JVM forks inherit only the JVM's environment. Run from
    a directory that does not hold the package, with PYTHONPATH unset,
    so the workers can only find it through get_spark."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "512m"
    r = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ROWS 1" in r.stdout, r.stdout[-2000:]
