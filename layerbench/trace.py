"""In-memory span tracer for the layered benchmark.

A span is a named interval with a parent. Spans nest per thread; a
span opened on a thread with no open span (the engine's split-job
pool) takes the innermost open span of the thread that created the
tracer as its parent. Each span sets its own Spark job group on the
calling thread, so after the run the jobs, stages and task metrics of
every span can be read back from Spark's status store.

Nothing here touches engine code: the benchmark wraps the engine's
public entry points from the outside (see :func:`patched`).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str | None
    thread: int
    attrs: dict = field(default_factory=dict)
    end: float | None = None
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


SPARK_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "run_ms",
                  "cpu_ms", "input_bytes", "input_records",
                  "shuffle_read_bytes", "shuffle_write_bytes")


class Tracer:
    """Collects spans when ``enabled``; a disabled tracer is a no-op, so
    the untraced run pays nothing but the ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = None
        self._local = threading.local()
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self.overhead_s = 0.0  # time spent in span bookkeeping itself

    def attach(self, sc) -> None:
        """Start setting Spark job groups (needs a live SparkContext)."""
        self._sc = sc

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _main_top(self) -> int | None:
        with self._lock:
            for i in range(len(self.spans) - 1, -1, -1):
                s = self.spans[i]
                if s.thread == self._main and s.end is None:
                    return i
        return None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._main_top()
        group = prev = None
        if self._sc is not None:
            group = f"lb-{next(self._ids)}"
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(group, name, False)
        sp = Span(name, time.perf_counter(), parent, group,
                  threading.get_ident(), dict(attrs))
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        t_body = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.overhead_s += ((t_body - t_in)
                                    + (time.perf_counter() - sp.end))

    # ------------------------------------------------------------ analysis

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the part of the span that its children cover
        (children may overlap when they ran on parallel threads)."""
        sp = self.spans[idx]
        return sp.duration - covered(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in (self.spans[i] for i in self.children(idx))
            if c.end is not None)

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children(i))
        return out

    def spark_totals(self, idx: int) -> dict:
        """Spark counters of a span including its descendants."""
        tot = dict.fromkeys(SPARK_COUNTERS, 0)
        for i in self.subtree(idx):
            for k, v in self.spans[i].spark.items():
                tot[k] += v
        return tot

    def collect_spark(self) -> None:
        """Read jobs and stage metrics of every span's job group. The
        status store is fed by an asynchronous listener, so drain the
        listener bus first."""
        if self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        for sp in self.spans:
            if sp.group is None:
                continue
            tot = dict.fromkeys(SPARK_COUNTERS, 0)
            seen = set()
            for jid in tracker.getJobIdsForGroup(sp.group):
                tot["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info is not None else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = store.lastStageAttempt(sid)
                    if str(st.status()) == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks()
                    tot["failed_tasks"] += st.numFailedTasks()
                    tot["run_ms"] += st.executorRunTime()
                    tot["cpu_ms"] += st.executorCpuTime() / 1e6
                    tot["input_bytes"] += st.inputBytes()
                    tot["input_records"] += st.inputRecords()
                    tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            sp.spark = tot

    def dump(self, path: str) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            rows.append({"id": i, "name": s.name, "parent": s.parent,
                         "start": s.start, "end": s.end,
                         "self_s": self.self_time(i), "attrs": s.attrs,
                         "spark": s.spark})
        with open(path, "w") as f:
            json.dump(rows, f, indent=1, default=str)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return tot + (cur_e - cur_s if cur_e is not None else 0.0)


@contextlib.contextmanager
def patched(tracer: Tracer, module, names: dict[str, str]):
    """Replace ``module.<attr>`` with a span-recording wrapper for the
    duration of the block. Only works for attributes the engine looks
    up at call time (module globals), which is why it is used for
    ``build.stage_corpus`` / ``build_segment`` / ``finalize_index``."""
    if not tracer.enabled:
        yield
        return
    originals = {attr: getattr(module, attr) for attr in names}

    def wrap(fn, span_name):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)
        return inner

    for attr, span_name in names.items():
        setattr(module, attr, wrap(originals[attr], span_name))
    try:
        yield
    finally:
        for attr, fn in originals.items():
            setattr(module, attr, fn)
