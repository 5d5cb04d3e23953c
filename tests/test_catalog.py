"""Catalog call-shape tests: the Iceberg branch needs a runtime jar the
test environment lacks (SURVEY.md §7.4), so these verify the production
path is live code with the right DataFrameReader / snapshot-SQL call
shapes, using mocks instead of a catalog."""

from __future__ import annotations

import os
from unittest.mock import MagicMock

import pytest

from hocr_de_noising_spark.sources.catalog import Catalog


def test_unknown_kind_rejected():
    with pytest.raises(ValueError):
        Catalog(kind="delta")


def test_iceberg_read_uses_catalog_table():
    cat = Catalog(kind="iceberg")
    spark = MagicMock()
    cat.read(spark, "lake.docs")
    spark.read.table.assert_called_once_with("lake.docs")
    spark.reset_mock()
    cat.read_docs(spark, "lake.docs")
    spark.read.table.assert_called_once_with("lake.docs")


def test_iceberg_lineage_queries_snapshots():
    cat = Catalog(kind="iceberg")
    spark = MagicMock()
    row = MagicMock()
    row.snapshot_id = 991
    spark.sql.return_value.collect.return_value = [row]
    out = cat.lineage(spark, "lake.docs")
    assert out == "iceberg:lake.docs@991"
    sql = spark.sql.call_args[0][0]
    assert "lake.docs.snapshots" in sql and "snapshot_id" in sql
    # empty table → stable sentinel, not an exception
    spark.sql.return_value.collect.return_value = []
    assert cat.lineage(spark, "lake.docs") == "iceberg:lake.docs@empty"


def test_parquet_kind_round_trip(spark, tmp_path):
    cat = Catalog(kind="parquet")
    df = spark.range(5).selectExpr("cast(id AS string) AS doc_id")
    target = str(tmp_path / "t.parquet")
    df.write.parquet(target)
    assert cat.read(spark, target).count() == 5
    assert cat.lineage(spark, target).startswith(f"parquet:{target}@")


def test_dist_zip_is_importable(tmp_path):
    """scripts/build_dist.py packages the engine for --py-files; the
    zip must be importable via zipimport (what executors do)."""
    import subprocess
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from build_dist import build

    out = build(str(tmp_path / "pkg.zip"))
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import hocr_de_noising_spark.params as p; "
        "print(p.params_hash(p.Params()))" % out
    )
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
    assert r.returncode == 0 and len(r.stdout.strip()) == 16, r.stderr
