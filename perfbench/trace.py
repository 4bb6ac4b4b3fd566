"""Spans kept in memory, and the Spark event log folded into them.

A span is (id, name, start, end, parent, run). Spans nest through a stack,
and a span that names a ``group`` tags every Spark job started inside it
with that job group, so the event log's per-task metrics can be folded
back onto the span that caused them (``fold_event_log``).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._next = 0

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:  # PySpark has no clearJobGroup; a null property clears it
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        if group is not None:
            self._groups.append(group)
            self._set_group(group)
        self._stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id, **attrs}
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                self._set_group(self._groups[-1] if self._groups else None)
            self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        """Per-name self time: duration minus the time its children cover."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s["name"]] += 1
        return dict(out)


def _new_group_stats() -> dict:
    return {"jobs": 0, "tasks": 0, "gc_s": 0.0, "run_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "task_records": []}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, JVM GC seconds, executor run seconds,
    shuffle bytes written, bytes spilled (memory + disk), and the shuffle
    records each task read (for skew). Jobs without a group fold into
    the key ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_new_group_stats)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    g = groups[stage_group.get(e["Stage ID"], "")]
                    g["tasks"] += 1
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    read = m.get("Shuffle Read Metrics", {}).get("Total Records Read", 0)
                    if read:
                        g["task_records"].append(read)
    return dict(groups)


def sum_groups(folded: dict[str, dict], names) -> dict:
    out = _new_group_stats()
    for n in names:
        g = folded.get(n)
        if g is None:
            continue
        for k in ("jobs", "tasks", "gc_s", "run_s", "shuffle_write_bytes", "spill_bytes"):
            out[k] += g[k]
        out["task_records"] += g["task_records"]
    return out


def task_skew(records: list[int]) -> float:
    """max / mean shuffle records read per task (1.0 = perfectly even)."""
    if not records:
        return 0.0
    return max(records) / (sum(records) / len(records))
