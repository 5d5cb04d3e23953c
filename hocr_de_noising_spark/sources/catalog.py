"""Catalog shim: Iceberg tables in production, parquet paths here.

The production deployment reads the interleaved-span corpus as Iceberg
tables (`spark.read.table`), whose snapshot ids feed the manifest
lineage. Without an Iceberg runtime jar (SURVEY.md §7.4) the shim
degrades to parquet directories with identical call sites — swap
`kind="iceberg"` in a cluster deployment and nothing else changes.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

# the span-document schema, written once in Arrow: the corpus tables,
# the fixtures and the stream source all carry it
SPAN_STRUCT = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_STRUCT))])
DOCS_STRUCT = from_arrow_schema(DOCS_SCHEMA)


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
        return spark.read.schema(DOCS_STRUCT).parquet(target)

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
