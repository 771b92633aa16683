"""Spans recorded around the benchmark's calls into the engine, and
Spark's offline event log folded into per-span engine counters.

Every span runs under ``setJobGroup("<pass>:<span>")``, so each Spark
job, task and SQL execution in the event log carries the span that
caused it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

PYTHON_IN = "data sent to Python workers"
PYTHON_OUT = "data returned from Python workers"
BROADCAST_TIMES = ("time to collect", "time to build", "time to broadcast")
MB = 1 << 20

# counters also split per named span
SPAN_COUNTERS = ("jvm_cpu_s", "non_jvm_s", "gc_s", "shuffle_mb")
# per-workload engine counters, each a per-pass median
WORKLOAD_COUNTERS = (
    "jobs", "tasks", "task_s", "jvm_cpu_s", "non_jvm_s", "gc_s",
    "shuffle_mb", "spill_mb", "broadcast_build_s", "python_in_mb",
    "python_out_mb", "driver_s", "core_util",
)


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent and
    pass id. Durations come from the monotonic clock; the epoch offset
    lines spans up with the event log's millisecond timestamps."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.pass_id = "setup"
        self._stack: list[dict] = []
        self._epoch = time.time() - time.perf_counter()

    def _now(self) -> float:
        return self._epoch + time.perf_counter()

    @staticmethod
    def group(pass_id, name: str) -> str:
        return f"{pass_id}:{name}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "parent": parent["name"] if parent else None,
            "pass": self.pass_id,
            "start": self._now(),
        }
        self._stack.append(rec)
        gid = self.group(self.pass_id, name)
        self.sc.setJobGroup(gid, gid)
        try:
            yield rec
        finally:
            rec["end"] = self._now()
            self._stack.pop()
            self.spans.append(rec)
            if parent is not None:
                pgid = self.group(parent["pass"], parent["name"])
                self.sc.setJobGroup(pgid, pgid)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def current_group(self) -> tuple[str, str]:
        """(job group, span name) of the innermost open span."""
        s = self._stack[-1]
        return self.group(s["pass"], s["name"]), s["name"]

    def passes(self, root: str = "pass") -> list[dict]:
        return [s for s in self.spans if s["name"] == root and s["parent"] is None]

    def self_times(self, pass_id) -> dict[str, float]:
        """Self time of every span of one pass: its duration minus the
        time its child spans cover (children run one after another)."""
        spans = [s for s in self.spans if s["pass"] == pass_id]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["name"]: s["end"] - s["start"] - child[s["name"]] for s in spans
        }

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def fold_event_log(path) -> tuple[dict, list]:
    """Per job group: task counters, job count and broadcast time; and
    every job's (group, submit_s, end_s) interval. Reads the plain
    (uncompressed, unrolled) JSON-lines event log."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    jobs: dict[int, list] = {}
    exec_group: dict[int, str] = {}
    bc_accums: set[int] = set()

    def plan_metrics(info):
        for m in info.get("metrics", []):
            if m["name"] in BROADCAST_TIMES:
                bc_accums.add(m["accumulatorId"])
        for ch in info.get("children", []):
            plan_metrics(ch)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
                jobs[ev["Job ID"]] = [g, ev["Submission Time"] / 1e3, None]
                groups[g]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][2] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                c = groups[stage_group.get(ev["Stage ID"])]
                tm = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                c["jvm_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                c["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                c["spill_mb"] += (
                    tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0)
                ) / MB
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == PYTHON_IN:
                        c["python_in_mb"] += float(acc["Update"]) / MB
                    elif acc.get("Name") == PYTHON_OUT:
                        c["python_out_mb"] += float(acc["Update"]) / MB
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_group[ev["executionId"]] = ev.get("jobGroupId")
                plan_metrics(ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plan_metrics(ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    if m["name"] in BROADCAST_TIMES:
                        bc_accums.add(m["accumulatorId"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                g = exec_group.get(ev["executionId"])
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_id in bc_accums:
                        groups[g]["broadcast_build_s"] += value / 1e3
    return groups, [tuple(j) for j in jobs.values() if j[2] is not None]


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def engine_counters(tracer: Tracer, groups: dict, jobs: list,
                    pass_ids: list, spans: list[str], cores: int) -> dict:
    """Per-pass medians of the workload-level ``spark.*`` counters and
    of the per-span split of SPAN_COUNTERS."""
    per_pass = defaultdict(list)
    for pid in pass_ids:
        root = next(s for s in tracer.passes() if s["pass"] == pid)
        wall = root["end"] - root["start"]
        prefix = f"{pid}:"
        tot = defaultdict(float)
        for g, c in groups.items():
            if g and g.startswith(prefix):
                for k, v in c.items():
                    tot[k] += v
        for name in spans:
            c = groups.get(prefix + name, {})
            for k in SPAN_COUNTERS:
                if k == "non_jvm_s":
                    v = c.get("task_s", 0.0) - c.get("jvm_cpu_s", 0.0)
                else:
                    v = c.get(k, 0.0)
                per_pass[f"{name}.{k}"].append(v)
        tot["non_jvm_s"] = tot["task_s"] - tot["jvm_cpu_s"]
        busy = [(a, b) for _, a, b in jobs]
        tot["driver_s"] = wall - _covered(busy, root["start"], root["end"])
        tot["core_util"] = tot["task_s"] / (wall * cores)
        for k in WORKLOAD_COUNTERS:
            per_pass[f"spark.{k}"].append(tot[k])
    return {k: statistics.median(v) for k, v in per_pass.items()}
