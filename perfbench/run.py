"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_fused --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs come from ``--seed`` (cached in
``.perfbench/cache``); Spark runs at ``local[nproc]`` inside this one
process tree. One run:

1. set-up: start the session (JVM + SparkContext), load the lexicon and
   make one warm-up pass (one unrecorded unit on the first unit's
   input); ``setup_s`` is the sum, so it holds the first-run penalty;
2. timed loop: repeat the workload's unit (one job or one streaming
   call) until ``--seconds`` have passed;
3. read back every unit's output and compare it with the golden.

Timing starts only on a quiet machine: no other JVM and no other busy
process (``_wait_for_quiet_host``). Two things still move units: the
JIT, which keeps speeding up the units that follow the warm-up pass,
and the shared host beneath the machine, whose hypervisor hands this
machine's CPUs to other guests (steal) for minutes at a time; a unit
run under a steal of 0.1 to 0.2 of the CPUs took 30 to 70% longer. So
the units that start in the first third of the window only settle the
run, and each later unit's latency is taken less the wall time steal
took from it (``_unstolen``); the record keeps the measured latencies
too. Latency metrics are the median and tail of these, throughput and
CPU are means that leave out the slowest and fastest tenth of units.
Every unit's output is checked.

With ``--trace 1`` the untraced loop takes half of ``--seconds``; the
context is then restarted with Spark's event log on, the timed loop runs
for the other half inside spans, each layer's public function is timed
on the same input, and the per-layer metrics are printed instead of the
end-to-end ones. ``trace.overhead_s`` is the traced minus the untraced
median unit latency of the same run.

The last line of stdout is the result object. A record with the run's
environment (nproc, loadavg, versions, seed, commit) and, when traced,
every span with its Spark counters is written to ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
MIN_UNITS = 2
# share of the timed window whose units settle the run and are not timed
SETTLE_SHARE = 1 / 3
# share of the slowest and of the fastest timed units left out of the
# throughput and CPU means, so one stalled unit does not move them
TRIM_SHARE = 0.1
TAIL_BEYOND = 10
# from the start of the process, input generation and the quiet-host
# wait included; teardown then has STOP_TIMEOUT_S, all within 180 s
RUN_TIMEOUT_S = 150
STOP_TIMEOUT_S = 20
QUIET_WAIT_S = 60
# CPUs' worth of work by other processes above which the machine is busy
HOST_BUSY_MAX = 0.5
DRIVER_MEM = "1g"


class BenchError(RuntimeError):
    pass


def _bootstrap() -> None:
    """Make the package importable here and in Spark's Python workers,
    whatever the working directory, and keep every file Spark or the
    JVM writes inside the checkout."""
    if not os.path.isfile(os.path.join(ROOT, "hocr_de_noising_spark", "__init__.py")):
        raise BenchError(f"hocr_de_noising_spark not found beside perfbench/ in {ROOT}")
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    # get_spark's default 8g JVM heap grows lazily, so the JVM's resident
    # size at the peak depended on when G1 chose to expand; a 1g heap,
    # ample for these inputs, keeps peak_rss_mb steady run to run.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # one string-hash layout for the Python workers' sets and dicts (the
    # lexicon among them) in every run, rather than a random one per run
    os.environ["PYTHONHASHSEED"] = "0"


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _commit() -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def _source_digest() -> str:
    h = hashlib.sha256()
    for top in ("hocr_de_noising_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _wait_for_quiet_host(procstat) -> float:
    """Wait until no other JVM runs and the machine is idle while this
    process sleeps; refuse to time if that takes over QUIET_WAIT_S.
    Returns the CPUs' worth of work seen in the last window."""
    deadline = time.time() + QUIET_WAIT_S
    while True:
        jvms, busy = procstat.other_jvms(), procstat.host_busy_cpus(1.0)
        if not jvms and busy < HOST_BUSY_MAX:
            return busy
        if time.time() > deadline:
            raise BenchError(f"machine not quiet: other JVMs {jvms}, {busy:.2f} CPUs busy")


def _unstolen(lat: float, cpu_s: float, stolen_s: float) -> float:
    """A unit's latency less the wall time the hypervisor took from it.

    While the unit ran, the tree wanted ``cpu_s + stolen_s`` CPU seconds
    and got ``cpu_s``; the rest went to other guests of the host (steal).
    Spread over the CPUs the unit kept busy, ``(cpu_s + stolen_s) / lat``,
    the steal held the unit up by ``lat * stolen_s / (cpu_s + stolen_s)``.
    With no steal this is the measured latency."""
    if cpu_s <= 0 or stolen_s <= 0:
        return lat
    return lat * cpu_s / (cpu_s + stolen_s)


def _trimmed_mean(xs: list[float]) -> float:
    """Mean of ``xs`` without its highest and lowest TRIM_SHARE."""
    s = sorted(xs)
    k = int(len(s) * TRIM_SHARE)
    return statistics.fmean(s[k : len(s) - k])


def _tail(lats: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples above it): the highest percentile
    with TAIL_BEYOND samples above it, but never below the median. A run
    with fewer than 2 * TAIL_BEYOND units has no such percentile above
    the median, so its tail is the median; the record keeps the count."""
    s = sorted(lats)
    q = max(0.5, 1 - TAIL_BEYOND / len(s))
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    value = s[lo] + (s[hi] - s[lo]) * (pos - lo)
    return 100 * q, value, sum(x > value for x in s)


class Run:
    def __init__(self, args, declared: dict):
        from perfbench import procstat

        self.args = args
        self.declared = declared
        self.procstat = procstat
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "size": args.size,
            "nproc": self.cores,
            "loadavg_before": _loadavg(),
            "commit": _commit(),
            "source_digest": _source_digest(),
        }

    def _conf(self, eventlog: str | None) -> dict:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
            # no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if eventlog:
            os.makedirs(eventlog, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + eventlog,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def _session(self, eventlog: str | None = None):
        from hocr_de_noising_spark import get_spark

        self.spark = get_spark(
            f"perfbench-{self.args.workload}", cores=self.cores, extra_conf=self._conf(eventlog)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def _loop(self, w, seconds: float, tracer=None) -> dict:
        """Repeat units until ``seconds`` have passed; per unit, record
        its latency, documents committed, the tree's CPU and the CPU
        time the hypervisor stole from the machine."""
        ps = self.procstat
        lats, docs, cpu, stolen, spans, settled = [], [], [], [], [], []
        with ps.PeakRss() as rss:
            t_start = time.time()
            while True:
                k = len(lats)
                t0, c0, s0 = time.time(), ps.tree_cpu_s(), ps.host_steal_s()
                w.ready_at = None
                if tracer is None:
                    docs.append(w.unit(k))
                else:
                    with tracer.span(f"{w.name}.unit", unit=k) as s:
                        docs.append(w.unit(k, prefix="traced"))
                    spans.append(s)
                t1 = time.time()
                cpu.append(ps.tree_cpu_s() - c0)
                stolen.append(ps.host_steal_s() - s0)
                lats.append(t1 - (w.ready_at or t0))
                if t0 - t_start >= seconds * SETTLE_SHARE:
                    settled.append(k)
                if t1 - t_start >= seconds and len(settled) >= MIN_UNITS:
                    break
            wall = time.time() - t_start
        unstolen = [_unstolen(*u) for u in zip(lats, cpu, stolen)]
        return {
            "timed": settled,
            "timed_lats": [unstolen[i] for i in settled],
            "lats": lats,
            "unstolen_lats": unstolen,
            "docs": docs,
            "cpu_s": cpu,
            "stolen_s": stolen,
            "wall": wall,
            "peak_rss_mb": rss.peak_mb,
            "peak_rss_split_mb": rss.peak_split,
            "spans": spans,
        }

    def execute(self) -> dict:
        from perfbench import inputs
        from perfbench.workloads import WORKLOADS

        a = self.args
        t0 = time.time()
        inputs_dir, meta = inputs.prepare(os.path.join(STATE, "cache"), a.workload, a.seed, a.size)
        self.record["inputs"] = {"dir": os.path.relpath(inputs_dir, ROOT), "gen_s": time.time() - t0, **meta}
        self.record["host_busy_cpus"] = _wait_for_quiet_host(self.procstat)

        t0 = time.time()
        spark = self._session()
        session_s = time.time() - t0
        w = WORKLOADS[a.workload](spark, inputs_dir, meta, self.work)
        t0 = time.time()
        w.load_lexicon()
        w.warm()
        warm_s = time.time() - t0
        setup_s = session_s + warm_s
        self.record["setup"] = {"session_s": session_s, "lexicon_and_warm_s": warm_s}

        # a traced run splits its window between the untraced and the
        # traced loop, so it stays within the run time limit
        window = a.seconds / 2 if a.trace else a.seconds
        e2e = self._loop(w, window)
        traced = None
        if a.trace:
            traced = self._traced(w, session_s, e2e, window)
        attempted, failed, spans_in, spans_out = w.check()
        w.cleanup_outputs()

        timed, lats = e2e["timed"], e2e["timed_lats"]
        tail_pct, lat_tail, beyond = _tail(lats)
        # Units run back to back and each commits the same number of
        # documents, so documents per second is that number over the mean
        # unit latency; the trim keeps a one-off stall out of the mean.
        per_unit = statistics.fmean(e2e["docs"][i] for i in timed)
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": per_unit / _trimmed_mean(lats),
            "freshness_p50_s": statistics.median(lats),
            "freshness_tail_s": lat_tail,
            "cpu_s_per_kdoc": _trimmed_mean([e2e["cpu_s"][i] for i in timed]) / per_unit * 1000,
            "peak_rss_mb": e2e["peak_rss_mb"],
            "ok_frac": (attempted - failed) / attempted,
        }
        self.record["untraced"] = {
            "units": len(e2e["lats"]),
            "latencies_s": e2e["lats"],
            "docs": e2e["docs"],
            "cpu_s": e2e["cpu_s"],
            "unstolen_latencies_s": e2e["unstolen_lats"],
            "stolen_s": e2e["stolen_s"],
            "timed_units": timed,
            "measured_p50_s": statistics.median(e2e["lats"][i] for i in timed),
            "docs_per_wall_s": sum(e2e["docs"]) / e2e["wall"],
            "tail_percentile": tail_pct,
            "tail_samples_beyond": beyond,
            "peak_rss_split_mb": e2e["peak_rss_split_mb"],
            "metrics": metrics,
        }
        if traced is not None:
            traced.update(
                {
                    "pipeline.spans_in": spans_in,
                    "pipeline.spans_out": spans_out,
                    "pipeline.survival_ratio": spans_out / spans_in if spans_in else 0.0,
                }
            )
            metrics = traced
        self.record["loadavg_after"] = _loadavg()
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    def _traced(self, w, session_s: float, e2e: dict, window: float) -> dict:
        from perfbench.trace import Tracer, read_eventlog, spark_counters

        self.spark.stop()
        eventlog = os.path.join(self.work, "eventlog")
        spark = self._session(eventlog)
        tracer = Tracer(spark)
        w.spark, w.tracer = spark, tracer
        w.load_lexicon()
        w.warm()
        tr = self._loop(w, window, tracer)
        m = {name: 0 for name in self.declared["per_layer"]}
        m.update(w.probes(tr["spans"]))
        self.spark.stop()  # closes the event log
        log = read_eventlog(eventlog)
        counters = spark_counters(log, tracer, tr["spans"], self.cores)
        records_read = counters.pop("records_read")
        m.update(counters)
        if w.scan_rows():
            # rows the unit's scans read per row of its input; Spark's
            # parquet byte counter does not count the data pages read
            rows, side_rows = w.scan_rows()
            units = len(tr["spans"])
            m["checkpoint.scan_amplification"] = (records_read - units * side_rows) / (units * rows)
        m["session.start_s"] = session_s
        m["trace.overhead_s"] = statistics.median(tr["timed_lats"]) - statistics.median(e2e["timed_lats"])
        self.record["traced"] = {
            "units": len(tr["lats"]),
            "latencies_s": tr["lats"],
            "unstolen_latencies_s": tr["unstolen_lats"],
            "stolen_s": tr["stolen_s"],
            "spans": [
                {**s, "spark": spark_counters(log, tracer, [s], self.cores)}
                for s in tracer.spans
            ],
            "aliases": tracer.aliases,
        }
        return m

    def stop(self) -> None:
        """Stop Spark, the JVM and every process they started, and wait
        for each to end."""
        from pyspark import SparkContext

        ps = self.procstat
        children = ps.live_descendants()
        signal.alarm(STOP_TIMEOUT_S)  # a hung stop still reaches the kill below
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # keep tearing down; the run already failed or ended
                print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr)
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            finally:
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        deadline = time.time() + 15
        while True:
            alive = [p for p in children if ps.alive(p)]
            if not alive:
                break
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(int(p), signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + 5
            time.sleep(0.1)
        signal.alarm(0)
        shutil.rmtree(self.work, ignore_errors=True)

    def write_record(self, result: dict) -> str:
        out = os.path.join(STATE, "results")
        os.makedirs(out, exist_ok=True)
        a = self.args
        path = os.path.join(
            out, f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
        )
        with open(path, "w") as f:
            json.dump({**self.record, "result": result, "versions": _versions()}, f, indent=1)
        return path


def _versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    import hocr_de_noising_spark

    java = subprocess.run(
        ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30
    )
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "java": (java.stderr.splitlines() or [""])[0],
        "hocr_de_noising_spark": hocr_de_noising_spark.__version__,
    }


def _on_alarm(signum, frame):
    raise BenchError("run exceeded its time limit")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    try:
        _bootstrap()
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        declared = {
            kind: {m["name"]: m["unit"] for m in bench[kind]} for kind in ("end_to_end", "per_layer")
        }
        if args.workload not in {w["name"] for w in bench["workloads"]}:
            raise BenchError(f"unknown workload {args.workload!r}")
        signal.signal(signal.SIGALRM, _on_alarm)
        signal.alarm(RUN_TIMEOUT_S)
        run = Run(args, declared)
    except (BenchError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    try:
        result = run.execute()
    finally:
        signal.alarm(0)
        run.stop()
    units = declared["per_layer" if args.trace else "end_to_end"]
    if set(result["metrics"]) != set(units):
        raise BenchError(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(units)}")
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    path = run.write_record(result)
    print(f"perfbench: record written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
