"""Spans recorded around the calls into each layer, and the Spark event
log read back to attribute task time, shuffle, spill and GC to them.

Spans live in memory (``Tracer.spans``) and are written once, at the
end of the benchmark.  Each layer's Spark jobs carry the layer name as
their job description, set from the benchmark thread before the layer
is materialized, so the event log's task metrics can be summed per
layer.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

DESC_PREFIX = "perfbench:"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


class Tracer:
    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[tuple[str, str]] = []  # (span, layer)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        """Time ``name``; Spark jobs started inside run under the job
        description of ``layer`` (default: the span's own name)."""
        layer = layer or name
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((name, layer))
        self._sc.setJobDescription(DESC_PREFIX + layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time(), parent, self.run_id))
            self._stack.pop()
            self._sc.setJobDescription(
                DESC_PREFIX + self._stack[-1][1] if self._stack else None)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class TaskSums:
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


class EventLog:
    """Task metrics from a finished application's Spark event log."""

    def __init__(self, path: str):
        self.tasks: list[dict] = []     # launch/finish (s) + metrics
        self.stages: list[tuple] = []   # (submit s, complete s)
        stage_desc: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if si.get("Submission Time") and si.get("Completion Time"):
                        self.stages.append((si["Submission Time"] / 1000.0,
                                            si["Completion Time"] / 1000.0))
                elif e == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    im = tm.get("Input Metrics") or {}
                    self.tasks.append(dict(
                        stage=ev["Stage ID"],
                        launch=ti["Launch Time"] / 1000.0,
                        finish=ti["Finish Time"] / 1000.0,
                        run_s=tm.get("Executor Run Time", 0) / 1000.0,
                        gc_s=tm.get("JVM GC Time", 0) / 1000.0,
                        shuffle=sw.get("Shuffle Bytes Written", 0),
                        spill=(tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0)),
                        read=im.get("Bytes Read", 0)))
        for t in self.tasks:
            t["desc"] = stage_desc.get(t["stage"], "")

    @staticmethod
    def find(evlog_dir: str) -> str:
        done = [p for p in glob.glob(os.path.join(evlog_dir, "*"))
                if not p.endswith(".inprogress")]
        if len(done) != 1:
            raise RuntimeError(f"expected one finished event log in "
                               f"{evlog_dir}, found {len(done)}")
        return done[0]

    def by_layer(self, layer: str) -> TaskSums:
        out = TaskSums()
        for t in self.tasks:
            if t["desc"] == DESC_PREFIX + layer:
                out.task_s += t["run_s"]
                out.gc_s += t["gc_s"]
                out.shuffle_bytes += t["shuffle"]
                out.spill_bytes += t["spill"]
        return out

    def traced_bytes_read(self) -> int:
        """Input bytes read by every job a span described."""
        return sum(t["read"] for t in self.tasks
                   if t["desc"].startswith(DESC_PREFIX))

    def window(self, t0: float, t1: float, cores: int) -> dict:
        """Core utilization and driver gaps inside [t0, t1]: task-seconds
        over (wall x cores), and the wall time no stage was running."""
        task_s = sum(max(0.0, min(t["finish"], t1) - max(t["launch"], t0))
                     for t in self.tasks)
        busy = _union_length((max(a, t0), min(b, t1))
                             for a, b in self.stages if b > t0 and a < t1)
        wall = t1 - t0
        return dict(core_util=task_s / (wall * cores), driver_gap_s=wall - busy)


def _union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total
