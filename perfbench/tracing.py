"""Spans around layer calls, and Spark counters read back from the event log.

A span records name, layer, start, end, parent span and run id. While a
span is open its id is set as the Spark local property ``perfbench.span``,
so every Spark job the wrapped call fires (including broadcast and
subquery jobs Spark starts for the same SQL execution) carries it in its
``Properties``. After the session stops, ``read_event_log`` folds the
uncompressed event log into per-span counters.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from typing import Dict, Iterator, List, Optional

SPAN_PROP = "perfbench.span"
COUNTERS = [
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "peak_exec_memory_bytes",
    "failed_tasks",
]


class NullTracer:
    """Tracer for the untraced run: every span is a no-op."""

    def run(self, run_id: str):
        return nullcontext()

    def span(self, name: str, layer: str):
        return nullcontext()


class Tracer:
    """Keeps spans in memory and labels the Spark jobs fired inside each."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.run_id = "setup"
        self.spans: List[dict] = []
        self._stack: List[str] = []

    @contextmanager
    def run(self, run_id: str) -> Iterator[None]:
        prev, self.run_id = self.run_id, run_id
        try:
            yield
        finally:
            self.run_id = prev

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[dict]:
        sid = f"{self.run_id}/{len(self.spans)}"
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, self._stack[-1] if self._stack else None)

    def find(self, name: str, run: Optional[str] = None) -> List[dict]:
        return [s for s in self.spans if s["name"] == name and (run is None or s["run"] == run)]


def event_log_files(log_dir: str) -> List[str]:
    """Event-log files of every application in ``log_dir``: plain files,
    or the ``events_*`` parts of rolling ``eventlog_v2_*`` directories."""
    out = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            out += sorted(glob.glob(os.path.join(p, "events_*")), key=_part_index)
        else:
            out.append(p)
    return out


def _part_index(path: str) -> int:
    # events_<index>_<appId>
    return int(os.path.basename(path).split("_")[1])


def read_event_log(paths: List[str]) -> Dict[str, Dict[str, float]]:
    """Per-span Spark counters from ``SparkListenerJobStart``,
    ``SparkListenerStageCompleted`` and ``SparkListenerTaskEnd`` events.

    A job belongs to the span named by its ``perfbench.span`` property; a
    stage belongs to the first job that lists it; a task to its stage.
    Stages a job lists but skips (reused shuffle output) never complete and
    are not counted.
    """
    per: Dict[str, Dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_span: Dict[int, str] = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_PROP)
                    if span is None:
                        continue
                    per[span]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span.setdefault(sid, span)
                elif kind == "SparkListenerStageCompleted":
                    span = stage_span.get(ev["Stage Info"]["Stage ID"])
                    if span is not None:
                        per[span]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    span = stage_span.get(ev["Stage ID"])
                    if span is not None:
                        _add_task(per[span], ev)
    return dict(per)


def _add_task(c: Dict[str, float], ev: dict) -> None:
    c["tasks"] += 1
    info = ev.get("Task Info", {})
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        c["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    c["peak_exec_memory_bytes"] = max(c["peak_exec_memory_bytes"], m.get("Peak Execution Memory", 0))
    sw = m.get("Shuffle Write Metrics") or {}
    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)


def sum_counters(per_span: Dict[str, Dict[str, float]], span_ids: List[str]) -> Dict[str, float]:
    """Counters summed over spans (``peak_exec_memory_bytes`` takes the max)."""
    out = dict.fromkeys(COUNTERS, 0)
    for sid in span_ids:
        c = per_span.get(sid)
        if c is None:
            continue
        for k in COUNTERS:
            out[k] = max(out[k], c[k]) if k == "peak_exec_memory_bytes" else out[k] + c[k]
    return out
