"""get_spark: Python workers import the package from any working
directory, without PYTHONPATH set by the caller, Arrow batches are
bounded in bytes as well as rows, and file: paths go through Hadoop's
raw local file system."""

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


def test_arrow_batch_bounds_binary_heavy_rows(spark):
    """A binary-heavy row group must not become one Arrow batch whose
    bytes blow worker memory while its row count looks small. Under
    get_spark's own defaults, 2000 rows of 64 KiB in one partition reach
    a mapInArrow (the denoise_fused boundary) in batches of at most
    ARROW_MAX_RECORDS_PER_BATCH rows and ARROW_MAX_BYTES_PER_BATCH bytes
    plus the one row that crosses the limit; the record bound alone
    would pass 1024 rows, 64 MiB, in one batch."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from hocr_de_noising_spark.session import (
        ARROW_MAX_BYTES_PER_BATCH,
        ARROW_MAX_RECORDS_PER_BATCH,
    )

    row_bytes = 64 * 1024
    df = spark.range(0, 2000, numPartitions=1).select(
        F.expr(f"cast(repeat('x', {row_bytes}) as binary)").alias("content")
    )

    def shapes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"rows": [b.num_rows], "batch_bytes": [b.nbytes]}
            )

    got = df.mapInArrow(shapes, "rows long, batch_bytes long").collect()
    assert sum(r.rows for r in got) == 2000
    assert max(r.rows for r in got) <= ARROW_MAX_RECORDS_PER_BATCH
    assert max(r.batch_bytes for r in got) <= ARROW_MAX_BYTES_PER_BATCH + row_bytes


def test_local_paths_use_the_raw_local_file_system(spark):
    """Both Hadoop file APIs resolve file: to the raw local file system
    (no .crc sidecar, one chmod per create), and streaming checkpoints
    rename through FileSystem, not FileContext's link-resolving rename."""
    from hocr_de_noising_spark.session import LOCAL_FS_CONF

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    afs = jvm.org.apache.hadoop.fs.AbstractFileSystem.get(uri, conf)
    assert fs.getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert afs.getClass().getName() == "org.apache.hadoop.fs.local.RawLocalFs"
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == LOCAL_FS_CONF[key]
