"""Spans around the benchmark's calls into each layer, and the Spark event
log folded into per-layer task statistics.

A span labels every Spark job started during it with its name (the job
description and a local property the event log records), so each job is
charged to the span that caused it. The
event log is read after the session stops, when every event is on disk.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# Spark layers, named after the modules whose public functions the traced
# run calls; every one is reported on every workload (zero where the
# workload's program does not run it).
LAYERS = ["pipeline", "kgops.keepers", "inference", "linking", "linking.cluster",
          "lineage", "io", "streaming", "graphops"]
GRAPH_OPS = ["kg_pagerank", "kg_triangle_count", "kg_2hop_reach", "kg_neighbor_jaccard"]
# Jobs carry the open span's name in this local property. The job
# description would not do: a streaming query's micro-batch thread
# overwrites it with its batch label, while it inherits this property from
# the thread that started the query.
SPAN_PROPERTY = "perfbench.span"
# the event-log statistics reported per layer
STAT_KEYS = ["task_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "jobs",
             "max_task_s", "failed_tasks"]


def layer_of(span_name: str) -> str:
    # graphops.<op> spans roll up into the graphops layer
    return "graphops" if span_name.startswith("graphops.") else span_name


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once at the end."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setJobDescription(name)
        self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev)
            self.sc.setLocalProperty(SPAN_PROPERTY, prev)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        out = {}
        for s in self.spans:
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
            )
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in kids:
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        selfs = self.self_times()
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self_s": selfs[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def _zero_stats() -> dict:
    return {
        "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0, "jobs": 0, "max_task_s": 0.0, "failed_tasks": 0,
        "tasks": 0, "max_task_records": 0,
    }


def _job_desc(props: dict) -> str | None:
    return props.get(SPAN_PROPERTY)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per-job-description task statistics from the event log files under
    ``log_dir``: task run time, JVM CPU and GC time, shuffle bytes
    written, bytes spilled, job count, slowest task, failed tasks, and the
    largest shuffle-read record count of any one task."""
    stage_desc: dict[int, str] = {}
    stats: dict[str, dict] = {}
    files = []
    for dirpath, _, names in os.walk(log_dir):
        # Spark 4 writes an eventlog_v2_* directory of events_<n>_* files
        files += [
            (int(n.split("_")[1]) if n.startswith("events_") else 0, os.path.join(dirpath, n))
            for n in names if not n.startswith(("appstatus_", "."))
        ]
    for _, path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = _job_desc(ev.get("Properties") or {})
                    if desc:
                        stats.setdefault(desc, _zero_stats())["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerStageSubmitted":
                    desc = _job_desc(ev.get("Properties") or {})
                    if desc:
                        stage_desc[ev["Stage Info"]["Stage ID"]] = desc
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"))
                    if desc is None:
                        continue
                    st = stats.setdefault(desc, _zero_stats())
                    m = ev.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    st["tasks"] += 1
                    st["task_s"] += run_s
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    st["max_task_s"] = max(st["max_task_s"], run_s)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["max_task_records"] = max(
                        st["max_task_records"], sr.get("Total Records Read", 0))
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        st["failed_tasks"] += 1
    return stats


def layer_stats(desc_stats: dict[str, dict]) -> dict[str, dict]:
    """Roll job-description statistics up into the named layers."""
    out = {layer: _zero_stats() for layer in LAYERS}
    for desc, st in desc_stats.items():
        agg = out.get(layer_of(desc))
        if agg is None:
            continue
        for k, v in st.items():
            if k in ("max_task_s", "max_task_records"):
                agg[k] = max(agg[k], v)
            else:
                agg[k] += v
    return out
