"""Catalog shim: Iceberg tables in production, parquet paths here.

The production deployment reads/writes the interleaved-span corpus as
Iceberg tables (`spark.read.table` / `df.writeTo(...).append()`), whose
snapshot ids feed the manifest lineage. This sandbox has no Iceberg
runtime jar (SURVEY.md §7.4), so the shim degrades to parquet
directories with identical call sites — swap `kind="iceberg"` in a
cluster deployment and nothing else changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the span-document schema: the corpus tables, the stream source and
# denoise_fused's output all carry it
DOCS_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


class Catalog:
    """Two-impl table access: 'iceberg' (catalog tables) | 'parquet'."""

    def __init__(self, kind: str = "parquet"):
        if kind not in ("parquet", "iceberg"):
            raise ValueError(f"unknown catalog kind: {kind}")
        self.kind = kind

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        if self.kind == "iceberg":
            return spark.read.table(target)
        return spark.read.parquet(target)

    def read_docs(self, spark: SparkSession, target: str) -> DataFrame:
        """Spans-corpus scan with the schema pinned (no inference in the
        production path)."""
        if self.kind == "iceberg":
            return spark.read.table(target)
        return spark.read.schema(DOCS_DDL).parquet(target)

    def write(self, df: DataFrame, target: str, mode: str = "append") -> None:
        if self.kind == "iceberg":
            w = df.writeTo(target)
            (w.append() if mode == "append" else w.createOrReplace())
            return
        df.write.mode("overwrite" if mode == "overwrite" else "append").parquet(target)

    def lineage(self, spark: SparkSession, target: str) -> str:
        """Input-lineage string for the manifest: Iceberg snapshot id in
        production; file listing fingerprint for parquet dirs."""
        if self.kind == "iceberg":
            row = spark.sql(
                f"SELECT snapshot_id FROM {target}.snapshots ORDER BY committed_at DESC LIMIT 1"
            ).collect()
            return f"iceberg:{target}@{row[0].snapshot_id}" if row else f"iceberg:{target}@empty"
        try:
            names = sorted(
                f for f in os.listdir(target) if not f.startswith(("_", "."))
            )
        except OSError:
            names = []
        import hashlib

        digest = hashlib.sha256("\n".join(names).encode()).hexdigest()[:12]
        return f"parquet:{target}@{digest}({len(names)} files)"
