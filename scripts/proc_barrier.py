"""Shared start-barrier for multi-process benchmarks (r4 review: the
ready/go protocol was duplicated in bench_scaleout and membw_probe,
and neither killed its children on barrier failure — a worker dying
pre-ready left N-1 pinned processes polling for a go-file forever).

Protocol: each worker writes ``ready-<id>`` into the barrier dir after
its bootstrap, then polls for ``go`` (with its own deadline, exiting
non-zero on timeout). The parent calls :func:`release` which waits for
all ready files then writes ``go``; on timeout it kills every child
process before raising, so no orphan can outlive the benchmark.
"""

from __future__ import annotations

import os
import time

# worker-side poll loop as a format-ready code fragment: {bdir}/{wid}
# are runtime argv values in the embedding scripts
WORKER_WAIT = r"""
open(os.path.join(barrier_dir, "ready-" + worker_id), "w").write("ok")
_deadline = time.time() + 900
while not os.path.exists(os.path.join(barrier_dir, "go")):
    if time.time() > _deadline:
        sys.exit(3)  # barrier never released — die instead of orphaning
    time.sleep(0.05)
"""


def release(
    barrier_dir: str, n: int, procs, ids, timeout_s: float = 600.0
) -> None:
    """Wait for n ready files then write the go-file. On timeout, kill
    every process in ``procs`` first so no pinned orphan survives.

    ``ids`` aligns each proc with its worker id, so a dead child is
    checked exactly for having gone ready: a death before the ready
    file fails the barrier at once, a death after it does not."""

    def _kill_all():
        for p in procs:
            try:
                p.kill()
            except Exception:
                pass

    t0 = time.time()
    while True:
        ready = [f for f in os.listdir(barrier_dir) if f.startswith("ready-")]
        if len(ready) >= n:
            break
        # fail fast on a dead child (ADVICE r4): a worker that exits
        # before writing its ready file can never satisfy the barrier,
        # so don't burn the full timeout before cleaning up. ADVICE r5
        # race: a worker may exit (or crash) just AFTER writing its
        # ready file while peers are still arriving — that death does
        # not doom the barrier, so re-list the ready files after
        # observing it and only abort on a death that is provably
        # pre-ready: a dead child whose own ready file is absent.
        dead_idx = [i for i, p in enumerate(procs) if p.poll() is not None]
        if dead_idx:
            ready = {
                f for f in os.listdir(barrier_dir) if f.startswith("ready-")
            }
            if len(ready) >= n:
                break
            doomed = [i for i in dead_idx if f"ready-{ids[i]}" not in ready]
            if doomed:
                _kill_all()
                raise RuntimeError(
                    f"barrier worker died pre-ready "
                    f"(rc={procs[doomed[0]].returncode}); "
                    f"{len(ready)}/{n} ready"
                )
        if time.time() - t0 > timeout_s:
            _kill_all()
            raise RuntimeError(f"barrier timeout: {len(ready)}/{n} ready")
        time.sleep(0.2)
    with open(os.path.join(barrier_dir, "go"), "w") as f:
        f.write("go")
