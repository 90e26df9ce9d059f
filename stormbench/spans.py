"""Measurement from outside the engine: spans, Spark's status store, RSS.

``Tracer`` keeps spans in memory (name, start, end, parent, key) and
writes them out once, at the end of a run. Spans come from wrappers the
benchmark installs around the engine's public functions; nothing inside
the engine is instrumented. A tracer that is not ``active`` records
nothing, so a run can interleave traced and untraced operations and
report the difference as the tracing overhead.

``Ledger`` reads jobs, stages, shuffle bytes, input bytes and executor
time from Spark's status store, which Spark keeps up to date with the
UI off.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    key: str  # query name or micro-batch id

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, key: str = ""):
        return _SpanContext(self, name, key)

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call made while active."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def children(self, i: int) -> list[Span]:
        return [s for s in self.spans if s.parent == i]

    def self_seconds(self, root: int | None = None) -> dict[str, float]:
        """Per layer: span time not covered by the span's children, over
        every span, or over ``root`` and the spans below it."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.seconds
        out: dict[str, float] = {}
        for i, (s, c) in enumerate(zip(self.spans, covered)):
            if root is None or self._under(i, root):
                out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.seconds - c)
        return out

    def _under(self, i: int | None, root: int) -> bool:
        while i is not None and i != root:
            i = self.spans[i].parent
        return i == root

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, key: str):
        self.tracer, self.name, self.key = tracer, name, key

    def __enter__(self):
        stack = self.tracer._stack()
        parent = stack[-1] if stack else None
        # a span inherits its parent's query or micro-batch id
        key = self.key or (self.tracer.spans[parent].key if parent is not None else "")
        span = Span(self.name, time.perf_counter(), 0.0, parent, key)
        with self.tracer._lock:
            self.tracer.spans.append(span)
            self.index = len(self.tracer.spans) - 1
        stack.append(self.index)
        return span

    def __exit__(self, *exc):
        self.tracer.spans[self.index].end = time.perf_counter()
        self.tracer._stack().pop()
        return False


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0  # stages that ran; skipped (reused) stages excluded
    shuffle_bytes: int = 0  # shuffle read + write
    input_bytes: int = 0
    task_ms: int = 0  # executor run time summed over tasks


class Ledger:
    """Status-store reads for finished jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of the jobs that just ended."""
        self.jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_since(self, first_job: int) -> list[tuple[int, int]]:
        """(job id, submission time in epoch ms) of every job from
        ``first_job`` on."""
        out = []
        job = first_job
        while True:
            try:
                submitted = self.store.job(job).submissionTime()
            except Py4JJavaError:  # no such job
                return out
            if submitted.isDefined():
                out.append((job, submitted.get().getTime()))
            job += 1

    def next_job_id(self) -> int:
        ids = list(self.sc.statusTracker().getActiveJobsIds())
        try:
            last = self.store.jobsList(None).head().jobId()
        except Py4JJavaError:  # no job yet
            last = -1
        return max([last, *ids]) + 1

    def stats(self, job_ids) -> JobStats:
        out = JobStats(jobs=len(job_ids))
        seen: set[int] = set()
        for j in job_ids:
            it = self.store.job(j).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                out.input_bytes += sd.inputBytes()
                out.task_ms += sd.executorRunTime()
        return out

    def storage_bytes(self) -> int:
        """Block-manager bytes (memory + disk) held by persisted or
        checkpointed RDDs right now."""
        return sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo())


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
