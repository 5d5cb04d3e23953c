"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced at
``--size tiny`` and checks that each prints exactly its declared
metrics with their units, that every output matched its golden
(``failed == 0``, ``ok_frac == 1``), and that every per-layer metric
names the end-to-end metric it should move (targets.py). Takes a few
minutes; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.targets import TARGETS  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit(f"smoke: {workload} trace={trace} exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = {m["name"] for m in bench["per_layer"]}
    if per_layer != set(TARGETS):
        raise SystemExit(f"smoke: targets.py and BENCHMARK.json differ: {per_layer ^ set(TARGETS)}")
    for w in bench["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res = _run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                raise SystemExit(f"smoke: {w['name']} trace={trace} metrics {got} != {want}")
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                raise SystemExit(f"smoke: {w['name']} trace={trace} output check failed: {res}")
            if trace == 0 and res["metrics"]["ok_frac"]["value"] != 1.0:
                raise SystemExit(f"smoke: {w['name']} ok_frac != 1: {res}")
            print(f"smoke: {w['name']} trace={trace} ok ({res['attempted']} docs checked)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
