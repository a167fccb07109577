"""Spans recorded around the benchmark's calls into the library, and the
fold of Spark's event log into per-job-group task metrics.

Spans are kept in memory and written out once, when the run ends. Each
span has a name, start, end, parent span and a trace id naming the
workload, pass and query it belongs to. Nothing here reaches into the
library: spans wrap the calls the benchmark makes, and the event log is
a startup conf the benchmark passes in from outside.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace_id": trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def _sum_metrics(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    inp = tm.get("Input Metrics", {})
    return {
        "task_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "scan_bytes": inp.get("Bytes Read", 0),
        "scan_records": inp.get("Records Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
    }


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Task and stage records of one event log, summed per job group.

    Returns ``{group: {metric: value}}`` with the task metrics of
    ``_sum_metrics`` plus ``jobs``, ``stages``, ``tasks`` and
    ``task_skew`` (max/median task run time in the group's stage with
    the most task time).
    """
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_group:
                    out[stage_group[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None or "Task Metrics" not in ev:
                    continue
                acc = out[group]
                acc["tasks"] += 1
                m = _sum_metrics(ev["Task Metrics"])
                for k, v in m.items():
                    acc[k] += v
                stage_tasks[ev["Stage ID"]].append(m["task_run_s"])
    by_group: dict[str, list[list[float]]] = defaultdict(list)
    for sid, runs in stage_tasks.items():
        by_group[stage_group[sid]].append(runs)
    for group, stages in by_group.items():
        worst = max(stages, key=sum)
        med = statistics.median(worst)
        out[group]["task_skew"] = max(worst) / med if med > 0 else 1.0
    return {g: dict(v) for g, v in out.items()}
