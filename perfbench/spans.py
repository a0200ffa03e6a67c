"""Spans and Spark status-store metrics for the traced run.

Spans are recorded from the benchmark's own code, around calls into the
engine's public functions; nothing inside ``uncp_spark`` is instrumented.
They stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder. ``span()`` nests through an explicit
    stack; ``open()``/``close()`` allow spans whose end is decided later
    (a pipeline stage ends where the next stage's build starts)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.monotonic())
        self.spans.append(s)
        return s

    def close(self, s: Span | None) -> None:
        if s is not None and s.end is None:
            s.end = time.monotonic()

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        if s is not None:
            self._stack.append(s.id)
        try:
            yield s
        finally:
            if s is not None:
                self._stack.pop()
                self.close(s)

    def self_seconds(self, s: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted((c.start, c.end or c.start) for c in self.spans
                      if c.parent == s.id)
        covered, cur_end = 0.0, s.start
        for a, b in kids:
            a, b = max(a, cur_end), min(b, s.end or s.start)
            if b > a:
                covered += b - a
                cur_end = b
        return s.seconds - covered

    def write(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start_s": round(s.start - t0, 6),
                    "seconds": round(s.seconds, 6),
                    "self_seconds": round(self.self_seconds(s), 6),
                }) + "\n")


class StatusStore:
    """Per-description Spark stage metrics, read from the Spark driver's
    ``AppStatusStore`` (works with ``spark.ui.enabled=false``).

    Each stage attempt carries the job description that was set when its
    job was submitted; the pipeline sets ``uncp:<stage>`` and the
    benchmark sets ``bench:<layer>`` around its own probes."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._jvm = spark._jvm
        self._seen_stage = -1
        self._seen_job = -1

    def mark(self) -> None:
        """Forget everything submitted so far."""
        self._seen_stage = max(self._seen_stage, self._max_stage())
        self._seen_job = max(self._seen_job, self._max_job())

    def _jlist(self, *items):
        out = self._jvm.java.util.ArrayList()
        for i in items:
            out.add(i)
        return out

    def _max_stage(self) -> int:
        st = self._stages()
        return max((s.stageId() for s in st), default=-1)

    def _max_job(self) -> int:
        js = self._store.jobsList(self._jlist())
        return max((js.apply(i).jobId() for i in range(js.size())), default=-1)

    def _stages(self) -> list:
        status = self._jvm.org.apache.spark.status.api.v1.StageStatus
        seq = self._store.stageList(
            self._jlist(status.COMPLETE, status.FAILED), False, False,
            self._sc._gateway.new_array(self._jvm.double, 0), self._jlist(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    @staticmethod
    def _opt(o, default=None):
        return o.get() if o.isDefined() else default

    def collect(self) -> dict[str, dict[str, float]]:
        """Metrics per description for stages and jobs submitted since
        the last ``mark()``; marks afterwards."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: {
            "jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0,
            "_busiest_ms": -1.0})
        js = self._store.jobsList(self._jlist())
        for i in range(js.size()):
            j = js.apply(i)
            if j.jobId() > self._seen_job:
                out[self._opt(j.description(), "-")]["jobs"] += 1
        mb = 1024.0 * 1024.0
        for s in self._stages():
            if s.stageId() <= self._seen_stage:
                continue
            m = out[self._opt(s.description(), "-")]
            m["tasks"] += s.numTasks()
            m["failed_tasks"] += s.numFailedTasks()
            m["shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            m["shuffle_read_mb"] += s.shuffleReadBytes() / mb
            m["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
            # skew of the busiest Spark stage: max / median task run time
            if s.executorRunTime() > m["_busiest_ms"] and s.numTasks() > 1:
                m["_busiest_ms"] = s.executorRunTime()
                m["task_skew"] = self._skew(s.stageId(), s.attemptId())
        self.mark()
        for m in out.values():
            m.pop("_busiest_ms")
        return dict(out)

    def _skew(self, stage_id: int, attempt: int) -> float:
        q = self._sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._opt(self._store.taskSummary(stage_id, attempt, q))
        if summary is None:
            return 1.0
        rt = summary.executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0

