"""SparkSession factory with the engine's tuned configs (SURVEY.md §4.4).

Designed for a multi-executor cluster at 10^12-document scale; in this
sandbox it runs on local[N]. Every config below is standard public
Spark configuration:

- Arrow-vectorized Python (pandas UDFs) with a bounded batch size so a
  pathologically large document cannot blow up one Arrow batch.
- AQE on (partition coalescing, runtime join switching, skew joins).
- Shuffle partitions sized to parallelism (caller passes cores).
- The package's parent directory on the Python workers' PYTHONPATH, so
  pickled references to this package resolve from any working
  directory (the JVM merges it with the inherited PYTHONPATH).
- ``file:`` paths through Hadoop's raw local file system, and streaming
  checkpoint logs through the ``FileSystem`` API (``LOCAL_FS_CONF``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding hocr_de_noising_spark/, for the Python workers
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Arrow batch bounds for every mapInArrow/mapInPandas stage: a batch
# closes at EITHER limit, so high row counts amortize per-batch Python
# overhead on small docs while one giant document or binary-heavy row
# group can never blow up a single Arrow buffer (SURVEY §7.3 hard-part
# 5). Override per session through get_spark(extra_conf=...).
ARROW_MAX_RECORDS_PER_BATCH = 1024
ARROW_MAX_BYTES_PER_BATCH = 16 * 1024 * 1024

# Without Hadoop's native library, the local file system forks a process
# for each `readlink` (FileContext's rename of a checkpoint log file
# resolves links through FileUtil.readLink) and each `chmod` (every file
# or directory it creates): about 3 ms a fork from a 1 GB driver JVM on a
# 4-vCPU host, 39 forks per 250-doc stream call. The FileSystem-based
# checkpoint manager renames without the link lookup, and the raw local
# file system writes no .crc sidecar, so a create chmods once instead of
# twice. Only file: paths are affected; override through
# get_spark(extra_conf=...).
LOCAL_FS_CONF = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.RawLocalFs",
}


def get_spark(
    app_name: str = "hocr-de-noising",
    cores: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the span-denoise workload.

    ``cores=None`` → ``local[*]`` locally; on a real cluster the master
    comes from spark-submit and this builder only applies SQL configs.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8) if cores else 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_MAX_BYTES_PER_BATCH),
        )
        .config("spark.python.worker.reuse", "true")
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
        # sandbox-sized input splits so scan-stage parallelism tracks
        # core count even on tens-of-MB fixture files; a real cluster
        # run overrides these back to 128m+ via extra_conf
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**LOCAL_FS_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
