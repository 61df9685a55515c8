"""Tracing for the traced run: spans around the public entry points of
each layer, Spark's in-process status store, and a
StreamingQueryListener.

Spans are recorded from these benchmark files only: `Tracer.wrap`
replaces a module attribute or class method with a timing wrapper for
the length of the traced pass and `Tracer.restore` puts the original
back, so the program under test carries no tracing code. Spans live in
memory and are summarised when the pass ends.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
import types
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    sid: int


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _ids: itertools.count = field(default_factory=itertools.count)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of `owner.attr` as span `name`."""
        original = getattr(owner, attr)
        if isinstance(owner, type):
            original = owner.__dict__[attr]
        tracer = self

        @functools.wraps(original)
        def timed(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, timed)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))


def span_cost_s(calls: int = 20_000) -> float:
    """Cost of one span: a wrapped no-op call minus a bare one, timed on a
    scratch tracer."""
    holder = types.SimpleNamespace(noop=lambda: None)
    t0 = time.perf_counter()
    for _ in range(calls):
        holder.noop()
    bare = time.perf_counter() - t0
    probe = Tracer()
    probe.wrap(holder, "noop", "probe")
    t0 = time.perf_counter()
    for _ in range(calls):
        holder.noop()
    return max(0.0, time.perf_counter() - t0 - bare) / calls


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        stack = getattr(self.tracer._local, "stack", None)
        if stack is None:
            stack = self.tracer._local.stack = []
        self.parent = stack[-1] if stack else None
        with self.tracer._lock:
            self.sid = next(self.tracer._ids)
        stack.append(self.sid)
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        end = time.time()
        self.tracer._local.stack.pop()
        with self.tracer._lock:
            self.tracer.spans.append(Span(self.name, self.start, end, self.parent, self.sid))


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's `durationMs` breakdown."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({"batch": p.batchId, "rows": p.numInputRows, **p.durationMs})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0

    def add(self, other: StageStats) -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Window:
    jobs: int = 0
    stages: int = 0
    job_wall_s: float = 0.0  # summed submission-to-completion time
    work: StageStats = field(default_factory=StageStats)


def jobs_in_windows(spark, windows: list[tuple[float, float]]) -> list[Window]:
    """Per (start, end) window: the Spark jobs submitted inside it and
    their stages' summed statistics, from the in-process status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    # Every attempt of a stage adds its tasks; skipped stages (shuffle
    # output reused) have no attempt here and add nothing.
    stages: dict[int, StageStats] = {}
    seq = store.stageList(None, False, False, no_quantiles, None)
    for i in range(seq.size()):
        s = seq.apply(i)
        st = stages.setdefault(s.stageId(), StageStats())
        st.tasks += s.numTasks()
        st.failed_tasks += s.numFailedTasks()
        st.run_s += s.executorRunTime() / 1e3
        st.cpu_s += s.executorCpuTime() / 1e9
        st.shuffle_write_mb += s.shuffleWriteBytes() / 1e6
        st.shuffle_read_mb += s.shuffleReadBytes() / 1e6
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.submissionTime().isEmpty():
            continue
        ids = j.stageIds()
        submitted = j.submissionTime().get().getTime() / 1e3
        done = j.completionTime()
        wall = 0.0 if done.isEmpty() else done.get().getTime() / 1e3 - submitted
        jobs.append((submitted, wall, [ids.apply(k) for k in range(ids.size())]))
    out = []
    for lo, hi in windows:
        w, seen = Window(), set()
        for submitted, wall, stage_ids in jobs:
            if not lo <= submitted <= hi:
                continue
            w.jobs += 1
            w.job_wall_s += wall
            for sid in stage_ids:
                if sid in stages and sid not in seen:
                    seen.add(sid)
                    w.work.add(stages[sid])
        w.stages = len(seen)
        out.append(w)
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
