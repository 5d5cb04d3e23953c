"""Benchmark-side spans and the Spark counters behind them.

A span (id, name, parent, start, end) wraps one call into a layer's
public function. While a span is open its id is the Spark job group
(``setJobGroup``), so every job the call runs can be mapped back to it
from Spark's event log. Streaming queries run their jobs under their
own group (the query's run id); ``Tracer.alias`` maps that id to the
span that started the query.

The event log is written by Spark itself (``spark.eventLog.enabled``),
so tracing adds no listener of ours to the engine.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    """Keeps spans in memory; nothing is written until the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.aliases: dict[str, str] = {}
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"s{len(self.spans):04d}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @property
    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def alias(self, group_id: str, span: dict) -> None:
        self.aliases[group_id] = span["id"]


def read_eventlog(log_dir: str) -> dict[str, dict[str, list]]:
    """Parse the closed event log in ``log_dir`` into, per job group,
    its job ids ("jobs"), completed stage ids ("stages") and finished
    task records ("tasks")."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one closed event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    log: dict[str, dict[str, list]] = {"jobs": {}, "stages": {}, "tasks": {}}

    def add(kind: str, group: str, item) -> None:
        log[kind].setdefault(group, []).append(item)

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                add("jobs", group, ev["Job ID"])
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                add("stages", stage_group.get(sid, ""), sid)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                add(
                    "tasks",
                    stage_group.get(ev["Stage ID"], ""),
                    {
                        "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                        "wall_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "failed": bool(info.get("Failed") or info.get("Killed")),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    },
                )
    return log


def spark_counters(log: dict, tracer: Tracer, spans: list[dict], cores: int) -> dict:
    """The spark.* counters over the jobs of ``spans`` (and of their
    aliased streaming queries), plus the rows their scans read."""
    ids = {s["id"] for s in spans}
    groups = ids | {g for g, sid in tracer.aliases.items() if sid in ids}
    tasks = [t for g in groups for t in log["tasks"].get(g, [])]
    jobs = sum(len(log["jobs"].get(g, [])) for g in groups)
    stages = sum(len(log["stages"].get(g, [])) for g in groups)
    wall = sum(s["end"] - s["start"] for s in spans)
    busy = sum(t["run_s"] for t in tasks)
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["wall_s"])
    straggler = 1.0
    if by_stage:
        slowest = max(by_stage.values(), key=max)
        med = statistics.median(slowest)
        straggler = max(slowest) / med if med > 0 else 1.0
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": len(tasks),
        "spark.task_failures": sum(t["failed"] for t in tasks),
        "spark.task_busy_s": busy,
        "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.core_utilization": busy / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.shuffle_fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.straggler_ratio": straggler,
        "records_read": sum(t["records_read"] for t in tasks),
    }
