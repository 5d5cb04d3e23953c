"""Structured Streaming parity tests (ST1, ST6): incremental ingest is
exactly-once across restarts and sink retries, and streamed gates match
their batch twins."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hocr_de_noising_spark.operators.pipeline import denoise_fused
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.streaming import incremental_denoise_stream


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {
        "in": str(tmp_path / "in"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    for v in d.values():
        os.makedirs(v, exist_ok=True)
    return d


def _stream_exactly_once(spark, unit_dir, stream_dirs, params):
    docs = spark.read.parquet(os.path.join(unit_dir, "docs.parquet"))
    lexicon = spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
    tokens = [r.token for r in lexicon.select("token").collect()]

    first = docs.filter(F.col("doc_id") < "d00000100")
    second = docs.filter(F.col("doc_id") >= "d00000100")

    # batch 1 arrives
    first.write.mode("append").parquet(stream_dirs["in"])
    incremental_denoise_stream(
        spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"], tokens,
        params=params,
    )
    n1 = spark.read.parquet(stream_dirs["out"]).count()
    assert n1 == first.count()

    # restart with batch 2 added: only NEW files are processed
    second.write.mode("append").parquet(stream_dirs["in"])
    incremental_denoise_stream(
        spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"], tokens,
        params=params,
    )
    out = spark.read.parquet(stream_dirs["out"])
    assert out.count() == docs.count()  # no duplicates: exactly-once
    assert out.select("doc_id").distinct().count() == docs.count()

    # stream result equals the batch pipeline on the same input and params
    batch = denoise_fused(docs, tokens, params)
    j = out.alias("o").join(batch.alias("b"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("b.spans"))).count() == 0
    if params != Params():
        # the stream applied the non-default params, not the defaults
        default = denoise_fused(docs, tokens).alias("d")
        j = out.alias("o").join(default, "doc_id")
        assert j.filter(~F.col("o.spans").eqNullSafe(F.col("d.spans"))).count() > 0


def test_incremental_denoise_exactly_once(spark, unit_dir, stream_dirs):
    _stream_exactly_once(spark, unit_dir, stream_dirs, Params())


def test_incremental_denoise_stream_honours_params(spark, unit_dir, stream_dirs):
    """A sink that dropped ``params`` would match the default batch."""
    _stream_exactly_once(spark, unit_dir, stream_dirs, Params(tau_wconf=60))


def test_job_and_stream_destroy_their_broadcasts(spark, unit_dir, stream_dirs, tmp_path):
    """Every PySpark broadcast keeps its pickled value in a file under
    the driver's temp dir until ``destroy()``: repeated jobs and stream
    calls must not leave one behind each."""
    from hocr_de_noising_spark.checkpoint import run_denoise_job

    docs = spark.read.parquet(os.path.join(unit_dir, "docs.parquet"))
    lexicon = spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
    tokens = [r.token for r in lexicon.select("token").collect()]
    temp_dir = spark.sparkContext._temp_dir
    before = sorted(os.listdir(temp_dir))

    for i in range(2):
        run_denoise_job(
            spark, docs, lexicon, str(tmp_path / f"out{i}"), str(tmp_path / f"m{i}"),
            params=Params(n_buckets=4), n_groups=1,
        )
    for half in (F.col("doc_id") < "d00000100", F.col("doc_id") >= "d00000100"):
        docs.filter(half).write.mode("append").parquet(stream_dirs["in"])
        incremental_denoise_stream(
            spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"], tokens
        )
    assert spark.read.parquet(stream_dirs["out"]).count() == docs.count()
    assert sorted(os.listdir(temp_dir)) == before


def test_sink_retry_is_idempotent(spark, unit_dir, stream_dirs):
    """A micro-batch re-delivered with the same batch_id (foreachBatch
    retry after partial failure) must overwrite, not duplicate."""
    from hocr_de_noising_spark.streaming.incremental import make_denoise_sink

    docs = spark.read.parquet(os.path.join(unit_dir, "docs.parquet")).limit(20)
    lexicon = spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
    tokens = [r.token for r in lexicon.select("token").collect()]
    sink = make_denoise_sink(stream_dirs["out"], tokens, Params())
    sink(docs, 0)
    sink(docs, 0)  # retry of the same batch
    out = spark.read.parquet(stream_dirs["out"])
    assert out.count() == 20
    assert out.select("doc_id").distinct().count() == 20
    sink(docs, 1)  # a new batch appends alongside
    assert spark.read.parquet(stream_dirs["out"]).count() == 40


def test_stream_leaves_no_checksum_or_temp_files(spark, unit_dir, stream_dirs):
    """Under get_spark's local file system defaults the checkpoint logs and
    the sink's batch directories hold no .crc sidecar and no temp file
    left from a rename."""
    docs = spark.read.parquet(os.path.join(unit_dir, "docs.parquet"))
    lexicon = spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
    tokens = [r.token for r in lexicon.select("token").collect()]
    for half in (F.col("doc_id") < "d00000100", F.col("doc_id") >= "d00000100"):
        docs.filter(half).write.mode("append").parquet(stream_dirs["in"])
        incremental_denoise_stream(
            spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"], tokens
        )
    batches = [os.path.join(stream_dirs["out"], f"batch_id={i}") for i in (0, 1)]
    logs = [os.path.join(stream_dirs["ckpt"], d) for d in ("offsets", "commits", "sources/0")]
    for d in logs + batches:
        names = os.listdir(d)
        assert names, d
        bad = [n for n in names if n.endswith((".crc", ".tmp")) or n == "_temporary"]
        assert not bad, (d, bad)
