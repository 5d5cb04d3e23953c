"""Scale-OUT evidence: 1 executor vs 4 executors of the SAME size.

The north rule's two-cluster-size criterion means MORE executors, not
bigger ones. A local[4] vs local[16] comparison in one JVM conflates
cluster scale-out with single-JVM scale-up — one JVM's
shared heap/GC and memory bus lose ~20% going 4→16 threads (measured:
two wave-parity pinned sessions at 0.795/0.801), which a real cluster
of fixed-size executors does not pay. This script models the cluster
faithfully on one box:

  leg A:  1 × (4-core taskset-pinned JVM) processes the FULL corpus
  leg B:  4 × (4-core taskset-pinned JVMs, disjoint core sets) process
          disjoint corpus quarters CONCURRENTLY; wall = max of the 4

  scale-out efficiency = T_A / (4 × T_B)

Each quarter carries its share of the skew plants (giants split
round-robin) so leg B inherits the same pathology per executor. The 4
JVMs share only the physical memory bus — exactly what 4 co-located
executors on one cluster node share.

Honest limitation: this model is faithful ONLY for the fused variant
it runs, because fused is map-only (no exchange) — per-executor
independence is exactly its cluster behavior. A shuffling job
(denoise_exploded) would see its shuffle become
executor-LOCAL under quartering, hiding the network cost a real
cluster pays; scale-out numbers for those must come from a real
multi-node run, so this script deliberately does not produce them.

Appends results to BENCH/BASELINE.md and prints one JSON line.

Usage: python scripts/bench_scaleout.py [--execs 4] [--cores 4] [--reps 2]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from proc_barrier import release as _release  # noqa: E402

CACHE = os.path.join(REPO, "tests", "fixtures", "cache")

# the per-executor worker: runs fused denoise on one input dir with a
# wave-parity split size, prints one float (seconds). A file-based
# barrier (ready-file + go-file) synchronizes concurrent workers so
# every timed section starts AFTER every worker finished its JVM
# startup + warmup — without it, staggered starts overlap one worker's
# timed run with another's warmup burst and the leg reads pure
# contention noise (measured: 8-exec efficiency 0.166 pre-barrier).
# A real cluster has the same property: all executors run the job
# phase together, not against each other's bootstraps.
_WORKER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
sys.path.insert(0, os.path.join({repo!r}, "scripts"))
from hocr_de_noising_spark.session import get_spark
from hocr_de_noising_spark.operators.pipeline import denoise_fused
from bench_scaleout import calibrate_mpb
docs_path, lex_path, cores = sys.argv[1], sys.argv[2], int(sys.argv[3])
barrier_dir, worker_id = sys.argv[4], sys.argv[5]
spark = get_spark("scaleout-%d" % os.getpid(), cores=cores,
                  shuffle_partitions=cores * 2,
                  extra_conf={{"spark.sql.files.openCostInBytes": "512k"}})
spark.sparkContext.setLogLevel("ERROR")
lex = spark.read.parquet(lex_path)
lex_tokens = [r.token for r in lex.select("token").collect()]
calibrate_mpb(spark, docs_path, cores, waves=2)
docs = spark.read.parquet(docs_path)
warm = docs.limit(max(cores * 200, 2000)).repartition(cores)
denoise_fused(warm, lex_tokens).write.format("noop").mode("overwrite").save()
docs.count()
open(os.path.join(barrier_dir, "ready-" + worker_id), "w").write("ok")
_deadline = time.time() + 900
while not os.path.exists(os.path.join(barrier_dir, "go")):
    if time.time() > _deadline:
        sys.exit(3)  # barrier never released -- die instead of orphaning
    time.sleep(0.05)
t0 = time.time()
denoise_fused(docs, lex_tokens).write.format("noop").mode("overwrite").save()
print("WORKER_SEC %.3f" % (time.time() - t0), flush=True)
spark.stop()
"""


def calibrate_mpb(spark, path: str, cpus: int, waves: int = 2) -> tuple[int, int]:
    """Binary-search ``spark.sql.files.maxPartitionBytes`` until the
    scan of ``path`` plans EXACTLY ``waves * cpus`` partitions, so the
    map stage runs an integer number of task waves.
    Monotone: larger split bytes → fewer partitions. Planning-only
    (getNumPartitions runs no job). Falls back to the nearest achieved
    count if file-packing granularity can't hit the target exactly."""
    target = waves * cpus
    lo, hi = 1 << 16, 1 << 31
    best_mpb, best_n = None, None
    for _ in range(26):
        mid = (lo + hi) // 2
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(mid))
        n = spark.read.parquet(path).rdd.getNumPartitions()
        if best_n is None or abs(n - target) < abs(best_n - target):
            best_mpb, best_n = mid, n
        if n == target:
            break
        if n > target:
            lo = mid + 1
        else:
            hi = mid - 1
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(best_mpb))
    return best_mpb, best_n


def quarter_corpus(bench_dir: str, n: int) -> list[str]:
    """Split the bench docs into n disjoint part dirs (cached): normal
    rows sliced contiguously, giants dealt round-robin."""
    import pyarrow.parquet as pq

    out = os.path.join(CACHE, f"bench_split{n}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return [os.path.join(out, f"q{i}") for i in range(n)]
    import pyarrow as pa

    giants = pq.read_table(os.path.join(bench_dir, "docs.parquet", "part-giants.parquet"))
    normal = pq.read_table(os.path.join(bench_dir, "docs.parquet", "part-normal.parquet"))
    per = normal.num_rows // n
    # deal EVERY giant round-robin over the quarters — with n < number
    # of giants a quarter gets several (r4 review: the earlier
    # per-quarter loop silently dropped giant k for k >= n, deflating
    # leg B's work and inflating the published efficiency)
    giants_of = {i: [] for i in range(n)}
    for k in range(giants.num_rows):
        giants_of[k % n].append(k)
    for i in range(n):
        qd = os.path.join(out, f"q{i}", "docs.parquet")
        os.makedirs(qd, exist_ok=True)
        lo = i * per
        hi = normal.num_rows if i == n - 1 else (i + 1) * per
        pq.write_table(normal.slice(lo, hi - lo), os.path.join(qd, "part-normal.parquet"),
                       row_group_size=500)
        if giants_of[i]:
            g = pa.concat_tables([giants.slice(k, 1) for k in giants_of[i]])
            pq.write_table(g, os.path.join(qd, "part-giants.parquet"), row_group_size=1)
    with open(marker, "w") as f:
        f.write("ok")
    return [os.path.join(out, f"q{i}") for i in range(n)]


def run_worker(
    docs_path: str, lex_path: str, cores: int, core_set: str,
    barrier_dir: str, worker_id: str,
) -> subprocess.Popen:
    cmd = [
        "taskset", "-c", core_set, sys.executable, "-c",
        _WORKER.format(repo=REPO), docs_path, lex_path, str(cores),
        barrier_dir, worker_id,
    ]
    return subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--execs", type=int, default=4)
    ap.add_argument("--cores", type=int, default=4, help="cores per executor")
    ap.add_argument("--reps", type=int, default=2, help="interleaved reps (best kept)")
    args = ap.parse_args()

    from hocr_de_noising_spark.fixtures.spans import SIZES, write_corpus

    bench_dir = write_corpus(CACHE, "bench")
    lex_path = os.path.join(bench_dir, "lexicon.parquet")
    full = os.path.join(bench_dir, "docs.parquet")
    quarters = quarter_corpus(bench_dir, args.execs)
    n_docs = SIZES["bench"]

    import shutil
    import tempfile

    best = {"one": None, "many": None}
    for _ in range(args.reps):
        # leg A: one executor, full corpus. The worker's own timed
        # section is used for both legs, so JVM startup/warmup cancels.
        bdir = tempfile.mkdtemp(prefix="scaleout-barrier-")
        p = run_worker(full, lex_path, args.cores, f"0-{args.cores - 1}", bdir, "a0")
        _release(bdir, 1, [p], ids=["a0"])
        out, _ = p.communicate(timeout=1800)
        assert p.returncode == 0, out[-2000:]
        t_one = float(out.strip().split()[-1])
        best["one"] = t_one if best["one"] is None else min(best["one"], t_one)
        shutil.rmtree(bdir, ignore_errors=True)

        # leg B: execs concurrent executors on disjoint cores + quarters;
        # the barrier releases every timed section simultaneously (all
        # bootstraps done); cluster wall = max of the timed sections
        bdir = tempfile.mkdtemp(prefix="scaleout-barrier-")
        procs, secs = [], []
        for i, q in enumerate(quarters):
            cs = f"{i * args.cores}-{(i + 1) * args.cores - 1}"
            procs.append(run_worker(os.path.join(q, "docs.parquet"), lex_path,
                                    args.cores, cs, bdir, f"b{i}"))
        _release(bdir, len(quarters), procs,
                 ids=[f"b{i}" for i in range(len(quarters))])
        for p in procs:
            out, _ = p.communicate(timeout=1800)
            assert p.returncode == 0 and "WORKER_SEC" in out, out[-2000:]
            secs.append(float(out.strip().split()[-1]))
        t_many = max(secs)
        best["many"] = t_many if best["many"] is None else min(best["many"], t_many)
        shutil.rmtree(bdir, ignore_errors=True)

    eff = best["one"] / (args.execs * best["many"])
    with open("/proc/loadavg") as f:
        load = f.read().split()[0]
    res = {
        "metric": "scale-out efficiency (1 vs N fixed-size executors)",
        "execs": args.execs,
        "cores_per_exec": args.cores,
        "reps": args.reps,
        "sec_one_exec_full": round(best["one"], 3),
        "sec_N_execs_max_quarter": round(best["many"], 3),
        "docs_per_sec_one": round(n_docs / best["one"], 1),
        "docs_per_sec_N": round(n_docs / best["many"], 1),
        "scaleout_efficiency": round(eff, 3),
        "loadavg_after": load,
    }
    print(json.dumps(res))
    stamp = datetime.datetime.now().strftime("%Y-%m-%d %H:%M")
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n- {stamp} scale-OUT (1 vs {args.execs} x local[{args.cores}] "
            f"pinned JVMs, disjoint corpus quarters, best of {args.reps}): "
            f"1-exec {res['sec_one_exec_full']} s vs {args.execs}-exec wall "
            f"{res['sec_N_execs_max_quarter']} s -> efficiency "
            f"**{res['scaleout_efficiency']}** "
            f"({res['docs_per_sec_one']} -> {res['docs_per_sec_N']} docs/s); "
            f"loadavg after {load}\n"
        )


if __name__ == "__main__":
    main()
