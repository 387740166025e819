"""Spans recorded from the benchmark's own calls, and Spark's event log
parsed into per-span `spark.*` metrics.

A span has a name, a start, an end and a parent. Spans stay in memory until
the run ends. Spark work is attributed to the innermost span whose interval
holds the job's submission time (jobs) or the task's launch time (tasks);
every call the benchmark traces runs on the driver thread, one at a time,
so the intervals do not overlap except by nesting.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

# SQL metric names Spark gives its Python evaluation nodes
PY_TIME = ("time to run Python workers",)
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "counts": dict(counts)}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict | None,
            **counts) -> dict:
        """Record a span whose interval was measured elsewhere (a streaming
        micro-batch seen from the sink)."""
        rec = {"id": len(self.spans), "name": name,
               "parent": None if parent is None else parent["id"],
               "start": start, "end": end, "counts": dict(counts)}
        self.spans.append(rec)
        return rec

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def _depth(self, s: dict) -> int:
        d = 0
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
            d += 1
        return d

    def innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or self._depth(s) > self._depth(best):
                    best = s
        return best

    def attribute(self, events: dict) -> None:
        """Sum the event-log jobs and tasks into each span (inclusive of
        its children)."""
        for s in self.spans:
            s["spark"] = {"jobs": 0, "tasks": 0, "task_s": 0.0,
                          "shuffle_bytes": 0, "spill_bytes": 0,
                          "python_s": 0.0, "python_bytes": 0}

        def chain(s):
            while s is not None:
                yield s["spark"]
                s = None if s["parent"] is None else self.spans[s["parent"]]

        for t in events["jobs"]:
            for m in chain(self.innermost(t)):
                m["jobs"] += 1
        for task in events["tasks"]:
            for m in chain(self.innermost(task["launch"])):
                m["tasks"] += 1
                for k in ("task_s", "shuffle_bytes", "spill_bytes",
                          "python_s", "python_bytes"):
                    m[k] += task[k]


def read_event_log(log_dir: Path) -> dict:
    """Jobs (submission times) and finished tasks from every event-log file
    under log_dir. Times are seconds since the epoch."""
    jobs: list[float] = []
    tasks: list[dict] = []
    logs = [p for p in log_dir.rglob("*") if p.is_file()
            and not p.name.startswith((".", "appstatus"))]
    for f in sorted(logs):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line[:60]:
                    jobs.append(json.loads(line)["Submission Time"] / 1000.0)
                elif '"SparkListenerTaskEnd"' in line[:60]:
                    ev = json.loads(line)
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    py_ms = py_bytes = 0
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name in PY_TIME:
                            py_ms += int(acc.get("Update") or 0)
                        elif name in PY_BYTES:
                            py_bytes += int(acc.get("Update") or 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "launch": info["Launch Time"] / 1000.0,
                        "task_s": tm.get("Executor Run Time", 0) / 1000.0,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                        "python_s": py_ms / 1000.0,
                        "python_bytes": py_bytes,
                    })
    return {"jobs": jobs, "tasks": tasks}
