"""Spans around engine calls, resolved against Spark's event log.

A span marks every Spark job it starts with its own job group. After
the session stops, the event log is read back and each job, stage and
task is charged to the span whose group started it. Per span:

- ``self_s``: the span's wall time (spans here do not nest);
- ``driver_s``: wall time not covered by any of the span's jobs —
  planning, analysis and driver-side Python;
- ``jobs``, ``stages``, ``tasks``: completed counts;
- ``exec_cpu_s``, ``exec_run_s``, ``gc_s``: summed task metrics;
- ``shuffle_mb`` (bytes written), ``spill_mb`` (disk bytes spilled),
  ``python_mb`` (Arrow bytes to and from Python workers),
  ``output_mb`` (bytes written to files), ``files_read`` (from the
  scans' driver-side SQL metrics).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Per-span metrics, in report order.
SPAN_METRICS = (
    "self_s",
    "driver_s",
    "jobs",
    "stages",
    "tasks",
    "exec_cpu_s",
    "exec_run_s",
    "gc_s",
    "shuffle_mb",
    "spill_mb",
    "python_mb",
    "output_mb",
    "files_read",
)

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float
    metrics: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one
    generator frame and sets nothing on the SparkContext."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        group = f"bench-{len(self.spans)}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, group, start, end))

    def resolve(self, event_dir: str) -> None:
        """Fill every span's metrics from the event log in
        ``event_dir``. Call after the SparkContext has stopped, so the
        log is complete."""
        by_group = {s.group: s for s in self.spans}
        for s in self.spans:
            s.metrics = {m: 0.0 for m in SPAN_METRICS}
            s.metrics["self_s"] = s.end - s.start
        acc = _read_event_log(event_dir)
        intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for job, (group, t0, t1) in acc.jobs.items():
            if group in by_group and t1 is not None:
                intervals[group].append((t0, t1))
                by_group[group].metrics["jobs"] += 1
        for stage, st in acc.stages.items():
            span = by_group.get(acc.stage_group.get(stage))
            if span is None:
                continue
            m = span.metrics
            m["stages"] += 1
            for k, v in st.items():
                m[k] += v
        for group, files in acc.files_read.items():
            if group in by_group:
                by_group[group].metrics["files_read"] += files
        for s in self.spans:
            covered = _covered(intervals[s.group], s.start, s.end)
            s.metrics["driver_s"] = max(0.0, s.end - s.start - covered)

    def summary(self, names: list[str]) -> dict[str, dict[str, float]]:
        """Per span name: the median of each metric over its calls, and
        ``calls``. Names never called report zeros."""
        out = {}
        for name in names:
            calls = [s for s in self.spans if s.name == name]
            row = {
                m: statistics.median(s.metrics[m] for s in calls) if calls else 0.0
                for m in SPAN_METRICS
            }
            row["calls"] = len(calls)
            out[name] = row
        return out


def _covered(ivs: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in ivs):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class _Log:
    jobs: dict[int, tuple[str | None, float, float | None]] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stages: dict[int, dict[str, float]] = field(default_factory=dict)
    files_read: dict[str, float] = field(default_factory=lambda: defaultdict(float))


def _read_event_log(event_dir: str) -> _Log:
    log = _Log()
    exec_group: dict[int, str] = {}
    files_acc: set[int] = set()
    pending_updates: list[tuple[int, list]] = []
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = glob.glob(os.path.join(event_dir, "*", "events_*"))
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    log.jobs[e["Job ID"]] = (group, e["Submission Time"] / 1e3, None)
                    for sid in e["Stage IDs"]:
                        log.stage_group.setdefault(sid, group)
                    if group and "spark.sql.execution.id" in props:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
                elif kind == "SparkListenerJobEnd":
                    group, t0, _ = log.jobs[e["Job ID"]]
                    log.jobs[e["Job ID"]] = (group, t0, e["Completion Time"] / 1e3)
                elif kind == "SparkListenerTaskEnd":
                    _add_task(log.stages.setdefault(e["Stage ID"], defaultdict(float)), e)
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _collect_accums(e["sparkPlanInfo"], "number of files read", files_acc)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    pending_updates.append((e["executionId"], e["accumUpdates"]))
    for exec_id, updates in pending_updates:
        group = exec_group.get(exec_id)
        if group is None:
            continue
        for acc_id, value in updates:
            if acc_id in files_acc:
                log.files_read[group] += value
    return log


def _collect_accums(node: dict, metric: str, out: set[int]) -> None:
    for m in node.get("metrics", []):
        if m["name"] == metric:
            out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _collect_accums(child, metric, out)


def _add_task(stage: dict[str, float], e: dict) -> None:
    tm = e.get("Task Metrics") or {}
    stage["tasks"] += 1
    stage["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    stage["exec_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    stage["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    sw = tm.get("Shuffle Write Metrics") or {}
    stage["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    stage["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
    out = tm.get("Output Metrics") or {}
    stage["output_mb"] += out.get("Bytes Written", 0) / 1e6
    for a in e["Task Info"].get("Accumulables", []):
        if a.get("Name") in _PY_BYTES:
            stage["python_mb"] += float(a.get("Update") or 0) / 1e6
