"""S5/S7 — resumable checkpoint manifest with lineage + metrics.

The production design targets an Iceberg manifest table (snapshot
lineage per bucket); this sandbox has no Iceberg runtime jar, so the
manifest is a Parquet directory with durable temp+rename commits — the
protocol (bucket rows, params-hash lineage, anti-join resume) is
identical (SURVEY.md §7.3 item 3).

Bucket = pmod(xxhash64(doc_id, salt), n_buckets) — the salted doc_id
hash partitioning from the north rule. The job loop processes bucket
GROUPS (n_groups sub-jobs) for resumability granularity; each group
commit appends one manifest parquet file atomically, so a killed run
resumes by skipping fully-committed groups and reprocessing at most
one partial group. Output is laid out by bucket only (dynamic
partition overwrite), so group membership — a function of n_groups —
never appears on disk and resuming with a different n_groups stays
idempotent. Per-group metrics ride the write action via one df.observe
on its output edge: the kernel carries each doc's bucket and input span
count through, so docs, spans in and spans out are all summed there.
The pending groups are planned from the manifest alone, before any
Spark work, so a resume with nothing pending runs no Spark job.
"""

from __future__ import annotations

import os
import sys
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hocr_de_noising_spark.obs import observation_metrics
from hocr_de_noising_spark.params import Params, params_hash

MANIFEST_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("bucket", pa.int32()),
        ("n_docs", pa.int64()),
        ("n_spans_in", pa.int64()),
        ("n_spans_out", pa.int64()),
        ("n_noise_dropped", pa.int64()),
        ("denoise_rate", pa.float64()),
        ("input_lineage", pa.string()),
        ("params_hash", pa.string()),
        ("status", pa.string()),
        ("committed_at", pa.timestamp("us")),
    ]
)


def bucket_col(params: Params):
    """J5 salted bucket: pmod(xxhash64(doc_id, salt), n_buckets)."""
    return F.pmod(
        F.xxhash64(F.col("doc_id"), F.lit(params.salt)), F.lit(params.n_buckets)
    ).cast("int")


class ManifestCheckpoint:
    """Parquet-backed manifest with durable atomic appends and resume
    reads. A commit file that does not parse (torn by a host crash
    before its data reached disk) is renamed to ``.torn-<name>``, which
    every reader skips, so its buckets recompute on the next run."""

    def __init__(self, manifest_dir: str):
        self.dir = manifest_dir
        os.makedirs(manifest_dir, exist_ok=True)

    def append_rows(self, rows: list[dict]) -> None:
        """Atomically and durably commit a batch of bucket rows: write a
        temp file, fsync it, rename it into place, fsync the directory."""
        if not rows:
            return
        cols = {f.name: [r[f.name] for r in rows] for f in MANIFEST_SCHEMA}
        table = pa.Table.from_pydict(cols, schema=MANIFEST_SCHEMA)
        tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}.parquet")
        final = os.path.join(self.dir, f"commit-{int(time.time()*1e6)}-{uuid.uuid4().hex[:8]}.parquet")
        with open(tmp, "wb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, final)
        dir_fd = os.open(self.dir, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)

    def _commit_files(self) -> list[str]:
        return sorted(
            os.path.join(self.dir, f)
            for f in os.listdir(self.dir)
            if f.startswith("commit-") and f.endswith(".parquet")
        )

    def rows(self) -> list[dict]:
        """Every manifest row, read with pyarrow on the driver one
        commit file at a time, so a torn file is quarantined instead of
        failing the whole read."""
        rows: list[dict] = []
        for path in self._commit_files():
            try:
                t = pq.read_table(path)
            except pa.ArrowInvalid as exc:
                name = os.path.basename(path)
                os.rename(path, os.path.join(self.dir, f".torn-{name}"))
                print(
                    f"manifest: quarantined torn commit {name} as .torn-{name} "
                    f"({type(exc).__name__}); its buckets recompute",
                    file=sys.stderr,
                )
                continue
            rows += t.to_pylist()
        return rows

    def completed_buckets(self, run_id: str, p_hash: str) -> set[int]:
        """S7 resume source: buckets already done for this run lineage."""
        return {
            r["bucket"]
            for r in self.rows()
            if r["run_id"] == run_id and r["params_hash"] == p_hash and r["status"] == "done"
        }


def _bucket_sums(buckets: list[int], name: str, value_sql: str):
    """Per-bucket conditional sums for df.observe, ``{name}_{b}`` for
    each bucket b. observe cannot groupBy, so the group's buckets become
    one conditional sum each — 32 buckets per group at production
    defaults, well within aggregate-expression limits — evaluated DURING
    the write action (zero extra scans). Each is one SQL string, so it
    costs one py4j call to build; composing it from Column functions
    takes several per expression, about 0.3 s per observe at 32
    buckets."""
    return [
        F.expr(f"coalesce(sum(CASE WHEN bucket = {b} THEN {value_sql} END), 0) AS {name}_{b}")
        for b in buckets
    ]


def run_denoise_job(
    spark: SparkSession,
    docs: DataFrame,
    lexicon_df: DataFrame,
    out_dir: str,
    manifest_dir: str,
    params: Params | None = None,
    run_id: str = "run-0",
    n_groups: int = 8,
    input_lineage: str = "",
) -> dict:
    """The resumable batch job (SURVEY.md §3.2 bucket loop).

    Processes n_groups bucket groups; skips groups whose buckets are all
    committed 'done' in the manifest. Returns summary metrics.

    The plan of pending groups is read from the manifest before any
    Spark work: when every group is done the job returns without
    probing the input or collecting the lexicon, so it runs no Spark
    job at all.

    Scale design (one action, one scan per group):
    - ``bucket`` is hashed once, on the input side, and carried through
      the kernel with each doc's input span count ``n_in``
      (``denoise_fused`` passes every column but ``spans`` through);
      one ``df.observe`` (CollectMetrics) node on the output edge of
      the write action sums docs, spans in and spans out per bucket —
      no re-read of written output, no second aggregation pass over
      the input;
    - output is partitioned by ``bucket`` ONLY (no group= layer) and
      written with dynamic partition overwrite, so re-running a partial
      group — or resuming with a DIFFERENT n_groups — replaces exactly
      its own bucket directories and can never leave stale duplicates;
    - if ``docs`` already carries a ``bucket`` column (input bucketed
      at rest, e.g. read from a bucket-partitioned table), it is reused
      after a sample-based consistency probe vs the job's salt/n_buckets
      (recomputed on mismatch — ADVICE r2): the per-group filter then
      prunes at the parquet scan (PartitionFilters) instead of scanning
      the full input n_groups times. Otherwise the bucket is computed
      on the fly and each group pass scans the input once;
    - every group runs ``denoise_fused``: the vectorized batch engine
      digests giant documents in-line (README scaling notes).
    """
    from pyspark.sql import Observation

    from hocr_de_noising_spark.operators.pipeline import denoise_fused

    p = params or Params()
    ph = params_hash(p)
    ckpt = ManifestCheckpoint(manifest_dir)
    done = ckpt.completed_buckets(run_id, ph)
    # only each group's buckets NOT yet committed: re-running a partial
    # group must neither recompute nor re-append manifest rows for its
    # already-done buckets (ADVICE r2 — double-count on resume with a
    # different n_groups). The plan reads the manifest alone, so a
    # resume with nothing pending returns before any Spark work.
    plan = [
        (g, pending)
        for g in range(n_groups)
        if (pending := [b for b in range(g, p.n_buckets, n_groups) if b not in done])
    ]
    summary = {"groups_run": 0, "groups_skipped": n_groups - len(plan), "n_docs": 0}
    if not plan:
        return summary

    if "bucket" in docs.columns:
        # bucketed at rest → scan-time partition pruning; but never
        # TRUST the at-rest column blindly (ADVICE r2): a column bucketed
        # under a different salt/n_buckets would silently misroute the
        # per-group dynamic partition overwrite. Probe a sample; on any
        # mismatch fall back to recomputing.
        # eqNullSafe: a NULL bucket (e.g. __HIVE_DEFAULT_PARTITION__)
        # must count as a mismatch, not vanish from the probe — NULL
        # rows would otherwise pass here and then match NO group filter
        # (r3 review). Head-sample caveat: a mismatch localized to
        # late partitions can escape the 1024-row probe; a wrong
        # salt/n_buckets scheme mismatches ~(1-1/B) of ALL rows, which
        # is what this probe is for.
        n_bad = (
            docs.select("doc_id", "bucket")
            .limit(1024)
            .filter(~F.col("bucket").eqNullSafe(bucket_col(p)))
            .count()
        )
        if n_bad:
            docs_b = docs.drop("bucket").withColumn("bucket", bucket_col(p))
        else:
            docs_b = docs
    else:
        docs_b = docs.withColumn("bucket", bucket_col(p))
    # ship the lexicon as a broadcast variable, not a task closure:
    # one torrent distribution per job instead of re-serializing the
    # token list into every task (VERDICT r2 item 7)
    # no distinct(): Lexicon dedups on construction, and a distinct
    # costs a shuffle job
    tokens = [r.token for r in lexicon_df.select("token").collect()]
    lex_tokens = spark.sparkContext.broadcast(tokens)
    try:
        for g, pending in plan:
            # an IN list prunes at the scan (PartitionFilters) when the
            # input is bucketed at rest. The kernel carries bucket and
            # n_in through, so all three counts are read off its output.
            # Null spans count 0: size(null) is -1 when ANSI mode is off.
            n_in = F.when(F.col("spans").isNull(), 0).otherwise(F.size("spans"))
            part = (
                docs_b.select("doc_id", "spans", "bucket")
                .filter(F.col("bucket").isin(pending))
                .withColumn("n_in", n_in)
            )
            obs = Observation()
            out = (
                denoise_fused(part, lex_tokens, p)
                .observe(
                    obs,
                    *_bucket_sums(pending, "docs", "1"),
                    *_bucket_sums(pending, "spans_in", "n_in"),
                    *_bucket_sums(pending, "spans_out", "size(spans)"),
                )
                .drop("n_in")
            )
            (
                out.repartition(F.col("bucket"))
                .sortWithinPartitions("bucket", "doc_id")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(out_dir)
            )

            # observation values are available once the write action above
            # finishes — the ONLY job this group runs. A branch AQE proved
            # empty reports a definitive empty metrics row (= all-zero);
            # pyspark's blocking Observation.get would HANG on that (ADVICE
            # r2), and a single bounded read can race the ASYNC listener
            # bus under load, so observation_metrics polls boundedly and
            # distinguishes late delivery from a pruned node (r3 review).
            # A read that timed out leaves the counts unknown: commit
            # nothing for this group, so a resume recomputes it.
            vals = observation_metrics(obs)
            if vals is None:
                raise RuntimeError(
                    f"group {g}: observed metrics never arrived; "
                    "no manifest rows committed"
                )
            now = int(time.time() * 1e6)
            rows = []
            for b in pending:
                n_docs = int(vals.get(f"docs_{b}", 0))
                n_in = int(vals.get(f"spans_in_{b}", 0))
                n_out = int(vals.get(f"spans_out_{b}", 0))
                rows.append(
                    {
                        "run_id": run_id,
                        "bucket": b,
                        "n_docs": n_docs,
                        "n_spans_in": n_in,
                        "n_spans_out": n_out,
                        "n_noise_dropped": n_in - n_out,
                        "denoise_rate": (n_in - n_out) / n_in if n_in else 0.0,
                        "input_lineage": input_lineage,
                        "params_hash": ph,
                        "status": "done",
                        "committed_at": now,
                    }
                )
            ckpt.append_rows(rows)
            summary["groups_run"] += 1
            summary["n_docs"] += sum(r["n_docs"] for r in rows)

        return summary
    finally:
        # the driver keeps each broadcast's pickled value in a file
        # under the SparkContext's temp dir until destroy()
        lex_tokens.destroy()
