"""The workloads, each driving the engine through its public
functions only.

A workload exposes one *unit*: the operation a user waits on (a batch
job or one streaming call). The timed loop repeats units; each unit's
latency is from its input being in place to its output being
committed. ``check`` reads back every unit's output and compares it
with the constructive golden; ``probes`` times each layer's public
function on the same input for the traced run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hocr_de_noising_spark.checkpoint import run_denoise_job
from hocr_de_noising_spark.fixtures.spans import DOCS_SCHEMA
from hocr_de_noising_spark.operators.hocr import hocr_words_to_spans, parse_hocr
from hocr_de_noising_spark.operators.pipeline import denoise_exploded, denoise_fused
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.streaming.incremental import incremental_denoise_stream

# Sandbox-scaled job layout. The production layout (256 buckets, 8
# groups) took 41-44 s per 2400-document job on a 4-vCPU host, most of
# it creating 256 bucket directories of a handful of rows each; 16
# buckets in 8 groups still took 9.5-9.8 s. Either leaves one or two
# jobs in a run, too few for a median. Two groups keep the resumable
# group loop at about 3 s a job. Each group scans the whole input, so
# checkpoint.scan_amplification and every per-group cost are measured at
# 2 groups: a fix to the repeated scans shows about a quarter of its
# gain at the production 8.
JOB_PARAMS = Params(n_buckets=16)
JOB_GROUPS = 2
PROBE_REPEATS = 3


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _canon(table: pa.Table) -> pa.Table:
    return table.select(["doc_id", "spans"]).cast(DOCS_SCHEMA).sort_by("doc_id").combine_chunks()


def mismatches(out: pa.Table, golden: pa.Table) -> int:
    """Documents whose span sequence (kind, text, media_ref, offset, in
    order) differs from the golden, plus missing, extra and duplicated
    documents."""
    out, golden = _canon(out), _canon(golden)
    if out.equals(golden):
        return 0
    o_ids, g_ids = out.column("doc_id").to_pylist(), golden.column("doc_id").to_pylist()
    o = dict(zip(o_ids, out.column("spans").to_pylist()))
    g = dict(zip(g_ids, golden.column("spans").to_pylist()))
    dups = len(o_ids) - len(o)
    return dups + sum(o.get(k) != g.get(k) for k in set(o) | set(g))


def _n_spans(table: pa.Table) -> int:
    return int(pc.sum(pc.list_value_length(table.column("spans"))).as_py() or 0)


class Workload:
    name = ""

    def __init__(self, spark, inputs: str, meta: dict, work: str, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.meta = meta
        self.work = work
        self.tracer = tracer
        self.lexicon_df = None
        self.tokens: list[str] = []
        self.outputs: list = []
        # (attempted, failed) of outputs the traced run's probes checked
        self.probe_checks: list[tuple[int, int]] = []
        # when the unit's input was in place, if later than its call
        self.ready_at: float | None = None
        self._warm_n = 0

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def scratch(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def load_lexicon(self) -> None:
        self.lexicon_df = self.spark.read.parquet(self.path("lexicon.parquet"))
        self.tokens = [r.token for r in self.lexicon_df.select("token").collect()]

    def warm(self) -> None:
        """One unrecorded pass over the first unit's own input, written
        to its own directories."""
        self._warm_n += 1
        self.run_unit(self.unit_input(0), f"warm{self._warm_n}", record=False)

    def unit(self, k: int, prefix: str = "unit") -> int:
        """Run timed unit ``k``; return the documents it committed. The
        traced loop passes its own ``prefix``, so its outputs never
        replace the untraced ones before ``check`` reads them."""
        return self.run_unit(self.unit_input(k), f"{prefix}{k}")

    def unit_input(self, k: int) -> str:
        raise NotImplementedError

    def run_unit(self, src: str, tag: str, record: bool = True) -> int:
        raise NotImplementedError

    def check(self) -> tuple[int, int, int, int]:
        """(attempted, failed, spans read and spans written by the last
        unit)."""
        golden = pq.read_table(self.path("golden.parquet"))
        attempted = failed = spans_out = 0
        for out_dir, n_docs in self.outputs:
            got = pq.read_table(out_dir, columns=["doc_id", "spans"])
            attempted += n_docs
            failed += min(n_docs, mismatches(got, golden))
            spans_out = _n_spans(got)
        for n, bad in self.probe_checks:
            attempted, failed = attempted + n, failed + bad
        return attempted, failed, self.meta["spans_in"], spans_out

    def cleanup_outputs(self) -> None:
        for out_dir, _ in self.outputs:
            shutil.rmtree(out_dir, ignore_errors=True)

    def probes(self, unit_spans: list[dict]) -> dict:
        """Per-layer metrics of the traced run, from timed calls into
        each layer's public function on this workload's input."""
        raise NotImplementedError

    def scan_rows(self) -> tuple[int, int] | None:
        """For a checkpoint job: (rows of its input, rows it reads from
        side inputs such as the lexicon) per unit; else None."""
        return None

    def _timed(self, name: str, fn, repeats: int = PROBE_REPEATS) -> float:
        times = []
        for _ in range(repeats):
            with self.tracer.span(name) as s:
                fn()
            times.append(s["end"] - s["start"])
        return statistics.median(times)

    def _fused_probe(self, src: str, spans_in: int) -> dict:
        fused_s = self._timed(
            "pipeline.denoise_fused",
            lambda: noop(denoise_fused(self.spark.read.parquet(src), self.tokens)),
        )
        return {"pipeline.fused_s": fused_s, "pipeline.fused_spans_per_s": spans_in / fused_s}


class BatchFused(Workload):
    """The production job, ``run_denoise_job(variant="fused")``."""

    name = "batch_fused"

    def run_unit(self, src: str, tag: str, record: bool = True) -> int:
        out, man = self.scratch(f"{tag}-out"), self.scratch(f"{tag}-manifest")
        self.last_summary = run_denoise_job(
            self.spark,
            self.spark.read.parquet(src),
            self.spark.read.parquet(self.path("lexicon.parquet")),
            out,
            man,
            params=JOB_PARAMS,
            run_id=f"bench-{tag}",
            n_groups=JOB_GROUPS,
        )
        self.last_job = (src, out, man, tag)
        if record:
            self.outputs.append((out, self.meta["n_docs"]))
        return self.last_summary["n_docs"]

    def unit_input(self, k: int) -> str:
        return self.path("docs.parquet")

    def scan_rows(self) -> tuple[int, int]:
        return self.meta["n_docs"], len(self.tokens)

    def probes(self, unit_spans) -> dict:
        m = self._fused_probe(self.path("docs.parquet"), self.meta["spans_in"])
        m.update(self._exploded_probe())
        m.update(self._hocr_probe())
        src, out, man, tag = self.last_job

        def resume():
            s = run_denoise_job(
                self.spark, self.spark.read.parquet(src), self.lexicon_df, out, man,
                params=JOB_PARAMS, run_id=f"bench-{tag}", n_groups=JOB_GROUPS,
            )
            if s["groups_run"]:
                raise RuntimeError(f"resume of a finished job re-ran groups: {s}")

        job_s = statistics.median(s["end"] - s["start"] for s in unit_spans)
        m.update(
            {
                "checkpoint.job_s": job_s,
                "checkpoint.self_s": job_s - m["pipeline.fused_s"],
                "checkpoint.groups_run": self.last_summary["groups_run"],
                "checkpoint.resume_noop_s": self._timed("checkpoint.resume", resume),
            }
        )
        return m

    def _exploded_probe(self) -> dict:
        """The exploded branch on the fixed giant set, selected by the
        hybrid job's own routing predicate (size(spans) over the limit).
        The timed corpus has no giants, so this branch is off its path."""
        giants_path = os.path.join(os.path.dirname(self.inputs), self.meta["giants"])
        limit = JOB_PARAMS.max_spans_per_doc

        def giants():
            return self.spark.read.parquet(giants_path).filter(
                F.coalesce(F.size("spans"), F.lit(0)) > limit
            )

        with self.tracer.span("pipeline.route_giants"):
            routed = giants().count()
        exploded_s = self._timed(
            "pipeline.denoise_exploded", lambda: noop(denoise_exploded(giants(), self.lexicon_df))
        )
        return {"pipeline.giant_docs": routed, "pipeline.exploded_s": exploded_s}

    def _hocr_probe(self) -> dict:
        """operators.hocr on the seeded hOCR pages, malformed ones
        included. The bridge is timed on materialized parser output, so
        its time holds no parse; its spans are then checked against the
        page generator's own word records."""

        def words():
            return parse_hocr(self.spark.read.parquet(self.path("pages.parquet")))

        parse_s = self._timed("hocr.parse_hocr", lambda: noop(words()))
        words_dir, spans_dir = self.scratch("words"), self.scratch("hocr-spans")
        with self.tracer.span("hocr.materialize_words"):
            words().write.parquet(words_dir)
        to_spans_s = self._timed(
            "hocr.hocr_words_to_spans",
            lambda: noop(hocr_words_to_spans(self.spark.read.parquet(words_dir))),
        )
        with self.tracer.span("hocr.check_spans"):
            hocr_words_to_spans(self.spark.read.parquet(words_dir)).write.parquet(spans_dir)
        pages = self.meta["hocr_pages"]
        bad = mismatches(pq.read_table(spans_dir), pq.read_table(self.path("hocr_spans.parquet")))
        self.probe_checks.append((pages, min(pages, bad)))
        return {
            "hocr.parse_s": parse_s,
            "hocr.pages_per_s": pages / parse_s,
            "hocr.words": pq.read_table(words_dir, columns=["order"]).num_rows,
            "hocr.to_spans_s": to_spans_s,
        }


class StreamIncremental(Workload):
    """Closed loop, one caller: land one file, call the stream, wait."""

    name = "stream_incremental"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.dirs: dict[str, tuple[str, str, str]] = {}

    def _land(self, src: str, in_dir: str, k: int) -> None:
        # write beside the watched directory, then rename in: the file
        # source never sees a half-written file
        os.makedirs(in_dir, exist_ok=True)
        tmp = os.path.join(in_dir, f".landing-{k:05d}.parquet")
        shutil.copyfile(src, tmp)
        os.rename(tmp, os.path.join(in_dir, f"part-{k:05d}.parquet"))

    def run_unit(self, src: str, tag: str, record: bool = True) -> int:
        stream = tag if not record else "timed"
        if stream not in self.dirs:
            self.dirs[stream] = tuple(self.scratch(f"{stream}-{d}") for d in ("in", "out", "ckpt"))
        in_dir, out_dir, ckpt = self.dirs[stream]
        k = len(os.listdir(in_dir)) if os.path.isdir(in_dir) else 0
        self._land(src, in_dir, k)
        self.ready_at = time.time()
        q = incremental_denoise_stream(self.spark, in_dir, out_dir, ckpt, self.tokens)
        if self.tracer is not None and self.tracer.current is not None:
            # the query runs its jobs under its own run id, not our group
            self.tracer.alias(str(q.runId), self.tracer.current)
        n = pq.read_metadata(src).num_rows
        if record:
            self.outputs.append((os.path.join(out_dir, f"batch_id={k}"), n, src))
        return n

    def unit_input(self, k: int) -> str:
        return self.path(f"chunk-{k % self.meta['chunks']:03d}.parquet")

    def check(self) -> tuple[int, int, int, int]:
        golden = pq.read_table(self.path("golden.parquet"))
        attempted = failed = spans_in = spans_out = 0
        for out_dir, n_docs, src in self.outputs:
            landed = pq.read_table(src)
            want = golden.filter(pc.is_in(golden.column("doc_id"), value_set=landed.column("doc_id")))
            attempted += n_docs
            spans_in, spans_out = _n_spans(landed), 0
            if not os.path.isdir(out_dir):
                failed += n_docs
                continue
            got = pq.read_table(out_dir, columns=["doc_id", "spans"])
            failed += min(n_docs, mismatches(got, want))
            spans_out = _n_spans(got)
        return attempted, failed, spans_in, spans_out

    def cleanup_outputs(self) -> None:
        for d in self.dirs.values():
            for sub in d:
                shutil.rmtree(sub, ignore_errors=True)

    def offset_log_entries(self) -> int:
        offsets = os.path.join(self.dirs["timed"][2], "offsets")
        return sum(1 for f in os.listdir(offsets) if not f.startswith("."))

    def probes(self, unit_spans) -> dict:
        m = self._fused_probe(self.path("pool.parquet"), self.meta["spans_in"])
        m.update(
            {
                "stream.call_s": statistics.median(s["end"] - s["start"] for s in unit_spans),
                "stream.offset_log_entries": self.offset_log_entries(),
            }
        )
        return m


WORKLOADS = {w.name: w for w in (BatchFused, StreamIncremental)}
