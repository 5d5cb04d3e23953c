"""Which end-to-end metric, on which workload, each per-layer metric
should move. A change that claims a gain on one layer names the row it
expects to move; every other pairing is predicted unchanged.

Layers are the package's modules: ``session`` (get_spark),
``operators.hocr`` (parse_hocr, hocr_words_to_spans),
``operators.pipeline`` in its fused branch (denoise_fused → rules_vec)
and exploded branch (denoise_exploded → parse/features/lexicon/
assemble), ``checkpoint`` (run_denoise_job, ManifestCheckpoint),
``streaming.incremental`` (incremental_denoise_stream), and the Spark
engine beneath them (``spark.*``, read from Spark's event log).
"""

TARGETS = {
    "session.start_s": ("setup_s", "all"),
    # The hOCR ingest workload did not fit the run budget, so operators.hocr
    # is timed only by batch_fused's traced probe on seeded hOCR pages: no
    # end-to-end metric follows it yet.
    "hocr.parse_s": ("none", "batch_fused traced probe"),
    "hocr.pages_per_s": ("none", "batch_fused traced probe"),
    "hocr.words": ("none", "batch_fused traced probe"),
    "hocr.to_spans_s": ("none", "batch_fused traced probe"),
    "pipeline.fused_s": ("docs_per_s", "batch_fused most, stream_incremental freshness_* a little"),
    "pipeline.fused_spans_per_s": ("docs_per_s", "batch_fused"),
    "pipeline.spans_in": ("docs_per_s", "batch_fused"),
    "pipeline.spans_out": ("docs_per_s", "batch_fused"),
    "pipeline.survival_ratio": ("ok_frac", "all"),
    # The giant-skew workload did not fit the run budget either, so the exploded
    # branch is timed only by batch_fused's traced probe on the fixed
    # giant set: no end-to-end metric follows it yet.
    "pipeline.exploded_s": ("none", "batch_fused traced probe"),
    "pipeline.giant_docs": ("none", "batch_fused traced probe"),
    "checkpoint.job_s": ("docs_per_s", "batch_fused"),
    "checkpoint.self_s": ("docs_per_s", "batch_fused"),
    "checkpoint.groups_run": ("docs_per_s", "batch_fused"),
    "checkpoint.resume_noop_s": ("docs_per_s", "batch_fused"),
    # measured at the benchmark's 2 bucket groups, not the production 8
    # (workloads.JOB_GROUPS): a fix to the repeated per-group scans shows
    # about a quarter of its production gain here
    "checkpoint.scan_amplification": ("docs_per_s", "batch_fused"),
    "stream.call_s": ("freshness_p50_s, freshness_tail_s", "stream_incremental"),
    "stream.offset_log_entries": ("freshness_p50_s, freshness_tail_s", "stream_incremental"),
    "spark.jobs": ("freshness_p50_s", "stream_incremental"),
    "spark.stages": ("freshness_p50_s", "stream_incremental"),
    "spark.tasks": ("docs_per_s", "all"),
    "spark.task_failures": ("ok_frac", "all"),
    "spark.task_busy_s": ("cpu_s_per_kdoc", "all"),
    "spark.task_cpu_s": ("cpu_s_per_kdoc", "all"),
    "spark.gc_s": ("peak_rss_mb, docs_per_s", "all"),
    "spark.core_utilization": ("docs_per_s", "batch_fused"),
    "spark.shuffle_write_bytes": ("docs_per_s", "batch_fused"),
    "spark.shuffle_fetch_wait_s": ("docs_per_s", "batch_fused"),
    "spark.spill_bytes": ("docs_per_s, peak_rss_mb", "batch_fused"),
    "spark.straggler_ratio": ("docs_per_s", "batch_fused"),
    "trace.overhead_s": ("none: traced minus untraced freshness_p50_s", "all"),
}
