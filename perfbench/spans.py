"""In-memory span recorder used by the traced runs.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` (a module
function or a class method) with a wrapper that records one span per
call: name, start, end, parent span and request id. Spans nest per
thread, so a span's self time is its duration minus the time its child
spans cover. Nothing is written until ``dump`` at the end of the run.

The wrappers live only in the benchmark's own processes; the program
is patched at its module attributes and never edited.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        #: [name, t0, t1, parent index, request id, note]
        self.spans: list = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self.counts: "defaultdict[str, float]" = defaultdict(float)

    # ------------------------------------------------------------ record

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @property
    def rid(self) -> str:
        return getattr(self._tls, "rid", "")

    @rid.setter
    def rid(self, value: str) -> None:
        self._tls.rid = value

    def open(self, name: str, note: str = "") -> int:
        st = self._stack()
        rec = [name, time.perf_counter(), 0.0, st[-1] if st else -1, self.rid, note]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def note(self, idx: int, note: str) -> None:
        self.spans[idx][5] = note

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Patch ``owner.attr``. ``before(args, kwargs)`` runs inside the
        span before the call (may return a note); ``after(result, args,
        idx)`` runs after it."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.open(name)
            try:
                if before is not None:
                    note = before(args, kwargs)
                    if note:
                        tracer.note(idx, note)
                    tracer.spans[idx][4] = tracer.rid  # ``before`` may set it
                result = fn(*args, **kwargs)
                if after is not None:
                    after(result, args, idx)
                return result
            finally:
                tracer.close(idx)

        setattr(owner, attr, wrapper)
        return fn

    # ----------------------------------------------------------- analyse

    def self_times(self) -> "list[tuple[str, float, str, str]]":
        """(name, self seconds, request id, note) per closed span."""
        child = defaultdict(float)
        for name, t0, t1, parent, _rid, _note in self.spans:
            if parent >= 0 and t1:
                child[parent] += t1 - t0
        out = []
        for i, (name, t0, t1, _parent, rid, note) in enumerate(self.spans):
            if t1:
                out.append((name, max(0.0, (t1 - t0) - child[i]), rid, note))
        return out

    def dump(self, path: str, extra: "dict | None" = None) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": self.spans,
                    "self": self.self_times(),
                    "counts": dict(self.counts),
                    **(extra or {}),
                },
                fh,
            )


def spark_group_metrics(spark, prefix: str) -> "dict[str, dict]":
    """Per job group (groups starting with ``prefix``): jobs, tasks and
    the stage metrics the status store keeps — task run time, executor
    CPU and GC time (ms), shuffle read + write and spill (bytes).
    Reads ``statusStore`` through py4j; works with the UI disabled."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)  # scala Seq[JobData]
    out: "dict[str, dict]" = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if not group.isDefined():
            continue
        g = group.get()
        if not g.startswith(prefix):
            continue
        acc = out.setdefault(
            g,
            {"jobs": 0, "tasks": 0, "task_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
             "shuffle_bytes": 0, "spill_bytes": 0},
        )
        acc["jobs"] += 1
        stage_ids = job.stageIds()
        for j in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(stage_ids.apply(j))
            except Py4JJavaError:
                continue  # skipped (shuffle reused) or aged out of the store
            acc["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            acc["task_ms"] += st.executorRunTime()
            acc["cpu_ms"] += st.executorCpuTime() / 1e6
            acc["gc_ms"] += st.jvmGcTime()
            acc["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
