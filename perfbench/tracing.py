"""Spans and Spark counters recorded from outside the program.

``Tracer`` keeps spans in memory: name, start, end and parent span (a
request's spans hang under its ``server.request`` span). Spans come only
from wrappers this benchmark puts around calls into the package's public
functions, so the program itself is unchanged. ``SparkCounters`` reads
Spark's own status store for stage, task and byte counts.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(name, start, end, sid, parent))

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def patch(self, module, attr: str, name: str, undo: list) -> None:
        """Replace ``module.attr`` by a traced wrapper; ``undo`` collects
        the restore actions."""
        orig = getattr(module, attr)
        setattr(module, attr, self.wrap(name, orig))
        undo.append(lambda: setattr(module, attr, orig))

    def durations_ms(self, name: str) -> list[float]:
        return [s.ms for s in self.spans if s.name == name]

    def self_ms(self, name: str, children: tuple[str, ...]) -> list[float]:
        """Per span ``name``: its duration minus its direct child spans
        named in ``children``."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s.name in children and s.parent is not None:
                kids[s.parent] = kids.get(s.parent, 0.0) + s.ms
        return [s.ms - kids.get(s.span_id, 0.0)
                for s in self.spans if s.name == name]


class SparkCounters:
    """Job, stage, task and byte counts from Spark's status store.

    Each ``delta`` covers the stages and jobs submitted since the previous
    call; it first waits for the listener bus to drain so every finished
    stage of the last operation is in the store.
    """

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "run_ms",
              "input_bytes", "shuffle_write_bytes")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._last_stage = -1
        self._last_job = -1
        self.delta()

    def delta(self) -> dict[str, int]:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = dict.fromkeys(self.FIELDS, 0)
        # 5-argument form (statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); newest stage first.
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        top = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["run_ms"] += s.executorRunTime()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        self._last_stage = top
        jobs = store.jobsList(None)
        top = self._last_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self._last_job:
                break
            top = max(top, jid)
            out["jobs"] += 1
        self._last_job = top
        return out
