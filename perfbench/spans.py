"""In-memory span recorder with Spark status-store counter deltas.

A span is one call from the benchmark into a layer's public function:
name, start, end, parent span and the Spark work (jobs, stages, tasks,
shuffle-write bytes, disk-spill bytes) that ran during it. Spans stay in
memory and are written out once, when the run ends. A span's self time
is its duration minus the part of its interval that its direct children
cover.

The recorder keeps one span stack for the whole process, not one per
thread: the streaming sink calls back into Python on another thread
while the benchmark's main thread waits in ``processAllAvailable``, and
those callback spans belong under the batch span that is waiting.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)
    self_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class SparkCounters:
    """Cumulative Spark work read from the JVM status store.

    Job ids are global and increase by one per job, so each snapshot
    reads only the jobs started since the previous one (``store.job``
    raises past the newest) and the stages of those jobs that it has not
    counted yet. Only completed stage attempts count; skipped stages did
    no work."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self.totals = dict.fromkeys(COUNTERS, 0)
        self._advance()  # skip the work done before the recorder existed
        self.totals = dict.fromkeys(COUNTERS, 0)

    def _advance(self) -> None:
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty(10000)
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:
                return
            self._next_job += 1
            self.totals["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() != "COMPLETE":
                    continue
                self.totals["stages"] += 1
                self.totals["tasks"] += stage.numCompleteTasks()
                self.totals["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                self.totals["spill_bytes"] += stage.diskBytesSpilled()

    def snapshot(self) -> dict[str, int]:
        self._advance()
        return dict(self.totals)


class Tracer:
    """Records spans while ``active``; a no-op otherwise, so the same
    call sites run traced and untraced."""

    def __init__(self, counters: SparkCounters | None = None):
        self.counters = counters
        self.spans: list[Span] = []
        self.active = False
        self.op = 0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        before = self.counters.snapshot() if self.counters else {}
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.op, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            if self.counters:
                after = self.counters.snapshot()
                s.counters = {k: after[k] - before[k] for k in COUNTERS}

    def finish(self) -> list[Span]:
        compute_self_times(self.spans)
        return self.spans

    def write(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.finish():
                fh.write(json.dumps({**asdict(s), "duration": s.duration}) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def compute_self_times(spans: list[Span]) -> None:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    for s in spans:
        s.self_s = s.duration - _covered(children.get(s.id, []), s.start, s.end)


def self_time_by_layer(spans: list[Span]) -> dict[int, dict[str, float]]:
    """{op: {span name: summed self time}} over the traced operations."""
    out: dict[int, dict[str, float]] = {}
    for s in spans:
        per = out.setdefault(s.op, {})
        per[s.name] = per.get(s.name, 0.0) + s.self_s
    return out
