"""S5/S7 — resumable manifest job: kill, restart, identical output
(SURVEY.md §5.5; BASELINE.md resume-overhead target).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from hocr_de_noising_spark.checkpoint import (
    ManifestCheckpoint,
    bucket_col,
    run_denoise_job,
)
from hocr_de_noising_spark.params import Params, params_hash


@pytest.fixture()
def loaded(spark, unit_dir):
    docs = spark.read.parquet(os.path.join(unit_dir, "docs.parquet"))
    lexicon = spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
    golden = spark.read.parquet(os.path.join(unit_dir, "golden.parquet"))
    return docs, lexicon, golden


def _read_all(spark, out_dir):
    return spark.read.parquet(out_dir).drop("bucket", "group")


def _assert_manifest_exact(spark, m_dir, docs, golden, p):
    """Exactly one 'done' row per bucket, each with the counts taken
    straight from the input and the golden, bucketed by bucket_col."""

    def per_bucket(df):
        rows = (
            df.withColumn("bucket", bucket_col(p))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"), F.sum(F.size("spans")).alias("s"))
            .collect()
        )
        return {r.bucket: (r.n, r.s) for r in rows}

    want_in, want_out = per_bucket(docs), per_bucket(golden)
    rows = ManifestCheckpoint(m_dir).read(spark).collect()
    assert sorted(r.bucket for r in rows) == list(range(p.n_buckets))
    for r in rows:
        n_docs, n_in = want_in.get(r.bucket, (0, 0))
        n_out = want_out.get(r.bucket, (0, 0))[1]
        assert r.status == "done", r.bucket
        assert (r.n_docs, r.n_spans_in, r.n_spans_out) == (n_docs, n_in, n_out), r.bucket


def test_job_writes_manifest_and_matches_golden(spark, loaded, tmp_path):
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    summary = run_denoise_job(
        spark, docs, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4,
        input_lineage="tests/fixtures/cache/unit/docs.parquet",
    )
    assert summary["groups_run"] == 4
    out = _read_all(spark, str(tmp_path / "out"))
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0

    m = ManifestCheckpoint(str(tmp_path / "m")).read(spark)
    rows = m.collect()
    assert len(rows) == 16  # one row per bucket
    assert all(r.status == "done" and r.params_hash == params_hash(p) for r in rows)
    assert sum(r.n_docs for r in rows) == docs.count()
    assert all(r.n_noise_dropped == r.n_spans_in - r.n_spans_out for r in rows)
    rates = [r.denoise_rate for r in rows if r.n_spans_in]
    assert all(0.0 <= x <= 1.0 for x in rates) and any(x > 0 for x in rates)


def test_manifest_rows_exact_per_bucket_at_production_layout(spark, loaded, tmp_path):
    """At Params() defaults (256 buckets in 8 groups, so 32 buckets per
    observe) every bucket's manifest row equals the counts taken
    straight from the input and the golden, bucketed by bucket_col."""
    docs, lexicon, golden = loaded
    p = Params()
    run_denoise_job(
        spark, docs, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1",
    )
    _assert_manifest_exact(spark, str(tmp_path / "m"), docs, golden, p)


def test_kill_and_resume_skips_done_buckets(spark, loaded, tmp_path):
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")

    with pytest.raises(RuntimeError, match="injected failure"):
        run_denoise_job(
            spark, docs, lexicon, out_dir, m_dir,
            params=p, run_id="r1", n_groups=4, fail_after_group=1,
        )
    done_before = ManifestCheckpoint(m_dir).completed_buckets("r1", params_hash(p))
    assert 0 < len(done_before) < 16

    summary = run_denoise_job(
        spark, docs, lexicon, out_dir, m_dir, params=p, run_id="r1", n_groups=4
    )
    assert summary["groups_skipped"] == 2  # groups 0 and 1 committed pre-crash
    assert summary["groups_run"] == 2

    out = _read_all(spark, out_dir)
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_torn_manifest_commit_is_quarantined_and_recomputed(spark, loaded, tmp_path, capfd):
    """A commit file torn by a host crash (here: truncated to half its
    bytes) must not fail every later resume. The resume renames it to
    ``.torn-<name>``, says so on stderr, and recomputes its buckets;
    the output and the manifest end up exactly as after a clean run."""
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_denoise_job(
            spark, docs, lexicon, out_dir, m_dir,
            params=p, run_id="r1", n_groups=4, fail_after_group=0,
        )
    (name,) = os.listdir(m_dir)
    path = os.path.join(m_dir, name)
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)

    summary = run_denoise_job(
        spark, docs, lexicon, out_dir, m_dir, params=p, run_id="r1", n_groups=4
    )
    assert (summary["groups_skipped"], summary["groups_run"]) == (0, 4)
    assert f"quarantined torn commit {name}" in capfd.readouterr().err
    assert os.path.exists(os.path.join(m_dir, f".torn-{name}"))
    assert not os.path.exists(path)
    _assert_manifest_exact(spark, m_dir, docs, golden, p)
    out = _read_all(spark, out_dir)
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_observation_timeout_commits_no_manifest_rows(spark, loaded, tmp_path, monkeypatch):
    """A metrics read that times out leaves the group's counts unknown.
    The job must raise before committing that group, never commit
    zero-count 'done' rows for it, and a resume must recompute it."""
    import hocr_de_noising_spark.checkpoint as checkpoint

    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    real = checkpoint.observation_metrics
    reads = []

    def times_out_on_group_1_output(o, *args, **kwargs):
        # the fused job reads each group's input then its output
        # observation: the 4th read is group 1's output side
        reads.append(o)
        return None if len(reads) == 4 else real(o, *args, **kwargs)

    monkeypatch.setattr(checkpoint, "observation_metrics", times_out_on_group_1_output)
    with pytest.raises(RuntimeError, match="group 1: observed metrics never arrived"):
        run_denoise_job(
            spark, docs, lexicon, out_dir, m_dir, params=p, run_id="r1", n_groups=4
        )
    ckpt = ManifestCheckpoint(m_dir)
    assert ckpt.completed_buckets("r1", params_hash(p)) == {0, 4, 8, 12}
    assert ckpt.read(spark).count() == 4  # group 0's rows only

    monkeypatch.setattr(checkpoint, "observation_metrics", real)
    summary = run_denoise_job(
        spark, docs, lexicon, out_dir, m_dir, params=p, run_id="r1", n_groups=4
    )
    assert (summary["groups_skipped"], summary["groups_run"]) == (1, 3)
    rows = ckpt.read(spark).collect()
    assert sorted(r.bucket for r in rows) == list(range(16))
    assert sum(r.n_docs for r in rows) == docs.count()
    out = _read_all(spark, out_dir)
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_params_change_invalidates_resume(spark, loaded, tmp_path):
    docs, lexicon, _ = loaded
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    p1 = Params(n_buckets=16)
    run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p1, run_id="r1", n_groups=4)
    # different params hash → nothing is considered done
    p2 = Params(n_buckets=16, tau_wconf=50)
    done = ManifestCheckpoint(m_dir).completed_buckets("r1", params_hash(p2))
    assert done == set()


def test_sparse_input_empty_groups_do_not_crash(spark, loaded, tmp_path):
    """ADVICE r1: a bucket group with zero docs used to crash the
    metrics read-back (UNABLE_TO_INFER_SCHEMA). With observe-based
    metrics the group commits zero rows instead."""
    docs, lexicon, _ = loaded
    one = docs.limit(1)
    p = Params(n_buckets=16)
    summary = run_denoise_job(
        spark, one, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4,
    )
    assert summary["groups_run"] == 4 and summary["n_docs"] == 1
    m = ManifestCheckpoint(str(tmp_path / "m")).read(spark).collect()
    assert len(m) == 16
    assert sum(r.n_docs for r in m) == 1
    assert all(r.n_spans_out <= r.n_spans_in for r in m)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1


def test_regroup_resume_is_idempotent(spark, loaded, tmp_path):
    """ADVICE r1: output is keyed by bucket only, so resuming the same
    run with a DIFFERENT n_groups must not leave stale duplicates."""
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                    run_id="r1", n_groups=4)
    # same lineage, different grouping: all buckets done → all skipped
    s2 = run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                         run_id="r1", n_groups=2)
    assert s2["groups_skipped"] == 2 and s2["groups_run"] == 0
    # force re-run under the new grouping (fresh run id): buckets are
    # dynamically overwritten in place, never duplicated
    run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                    run_id="r2", n_groups=2)
    out = _read_all(spark, out_dir)
    assert out.count() == docs.count()
    assert out.groupBy("doc_id").count().filter("count > 1").count() == 0
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_partial_group_resume_appends_no_duplicate_rows(spark, loaded, tmp_path):
    """ADVICE r2: resuming with a DIFFERENT n_groups used to re-run a
    group's already-committed buckets and append duplicate 'done' rows
    — manifest consumers summing n_docs would double-count. Now only
    pending buckets are processed and committed."""
    docs, lexicon, _ = loaded
    p = Params(n_buckets=16)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                        run_id="r1", n_groups=4, fail_after_group=1)
    done = ManifestCheckpoint(m_dir).completed_buckets("r1", params_hash(p))
    assert len(done) == 8  # groups 0 and 1 of 4
    # resume with n_groups=2: BOTH new groups contain a mix of
    # committed and pending buckets
    run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                    run_id="r1", n_groups=2)
    m = ManifestCheckpoint(m_dir).read(spark).collect()
    assert len(m) == 16  # exactly one row per bucket — no duplicates
    assert len({r.bucket for r in m}) == 16
    assert sum(r.n_docs for r in m) == docs.count()


def test_mismatched_bucket_column_is_recomputed(spark, loaded, tmp_path):
    """ADVICE r2: a pre-existing bucket column bucketed under a
    different scheme must not be trusted — the job probes a sample and
    recomputes, so no bucket directory is overwritten with another
    bucket's rows and no docs are lost."""
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    wrong = docs.withColumn("bucket", F.lit(0))  # all docs claim bucket 0
    summary = run_denoise_job(
        spark, wrong, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4,
    )
    assert summary["groups_run"] == 4
    out = _read_all(spark, str(tmp_path / "out"))
    assert out.count() == docs.count()
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0
    m = ManifestCheckpoint(str(tmp_path / "m")).read(spark).collect()
    assert sum(r.n_docs for r in m) == docs.count()
    assert len({r.bucket for r in m if r.n_docs > 0}) > 1


def test_bucketed_input_prunes_at_scan(spark, loaded, tmp_path):
    """Input bucketed at rest (bucket partition column) → the per-group
    filter reaches the parquet scan as a PartitionFilter instead of
    rescanning the full corpus once per group."""
    from hocr_de_noising_spark.checkpoint import bucket_col

    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    at_rest = str(tmp_path / "bucketed")
    docs.withColumn("bucket", bucket_col(p)).write.partitionBy(
        "bucket"
    ).parquet(at_rest)
    bucketed = spark.read.parquet(at_rest)

    part = bucketed.filter(F.col("bucket") % 4 == 1)
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "% 4" in plan

    summary = run_denoise_job(
        spark, bucketed, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4,
    )
    assert summary["groups_run"] == 4
    out = _read_all(spark, str(tmp_path / "out"))
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_cli_runs_then_resumes_as_noop(spark, unit_dir, tmp_path):
    """``jobs/run_denoise.py:main`` end to end, twice in one process:
    the first run writes golden output, the second skips every group.
    A subprocess, since ``main`` stops its own SparkSession."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out, manifest = str(tmp_path / "out"), str(tmp_path / "m")
    argv = [
        "--input", os.path.join(unit_dir, "docs.parquet"),
        "--lexicon", os.path.join(unit_dir, "lexicon.parquet"),
        "--output", out, "--manifest", manifest,
        "--buckets", "16", "--groups", "2", "--cores", "2",
    ]
    code = (
        f"import sys; sys.path.insert(0, {os.path.join(repo, 'jobs')!r})\n"
        "import run_denoise\n"
        f"run_denoise.main({argv!r})\n"
        f"run_denoise.main({argv!r})\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summaries = [line for line in proc.stdout.splitlines() if line.startswith("run_id=")]
    assert len(summaries) == 2, proc.stdout
    assert " groups_run=2 groups_skipped=0 " in summaries[0]
    assert " groups_run=0 groups_skipped=2 " in summaries[1]

    golden = spark.read.parquet(os.path.join(unit_dir, "golden.parquet"))
    got = spark.read.parquet(out).drop("bucket")
    j = got.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0
