"""In-memory spans around calls into the program's layers, plus the Spark
counters of the jobs each span ran.

A span records name, start, end, parent and run id. Spans stay in memory
and are written out once, when the run ends. Spark counters come from
the driver's own status store (no UI, no listeners, no log parsing):
the jobs a span ran are those whose ids appeared while it was open,
which is exact because the benchmark is a closed loop with one client.
Time the tracer spends on its own bookkeeping is summed in
``overhead_s`` and, where it falls inside a span, recorded as a
``trace.overhead`` child so it never counts as a layer's self time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "jvm_gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def tree(self) -> dict[int | None, list[int]]:
        """Parent index -> indices of its child spans."""
        kids: dict[int | None, list[int]] = {}
        for i, s in enumerate(self.spans):
            kids.setdefault(s.parent, []).append(i)
        return kids

    def self_time(self, idx: int, tree: dict | None = None) -> float:
        """Duration minus the part of it that child spans cover."""
        tree = self.tree() if tree is None else tree
        sp = self.spans[idx]
        kids = [(self.spans[k].start, self.spans[k].end) for k in tree.get(idx, [])]
        return sp.duration - covered(sp.start, sp.end, kids)

    def descendants(self, idx: int, tree: dict | None = None) -> list[Span]:
        tree = self.tree() if tree is None else tree
        out, todo = [], list(tree.get(idx, []))
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(tree.get(i, []))
        return out

    @contextlib.contextmanager
    def overhead(self):
        """Time tracer bookkeeping; inside a span it becomes a child."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.overhead_s += t1 - t0
            stack = self._stack()
            if stack:
                self.spans.append(
                    Span("trace.overhead", t0, t1, stack[-1], self.run_id)
                )

    @contextlib.contextmanager
    def span(self, name: str, spark_counters: bool = False):
        stack = self._stack()
        job0 = None
        if spark_counters:
            with self.overhead():
                job0 = self._last_job_id()
        sp = Span(name, time.perf_counter(), parent=stack[-1] if stack else None,
                  run_id=self.run_id)
        self.spans.append(sp)
        stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if spark_counters:
                with self.overhead():
                    sp.attrs.update(self._counters_since(job0))

    def wrap(self, fn, name: str, spark_counters: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, spark_counters):
                return fn(*args, **kwargs)

        return traced

    # -- Spark status store --------------------------------------------------

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _jobs(self) -> list:
        """Every job the status store holds, once the listener bus has
        delivered all events posted so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._store().jobsList(None)
        return [jobs.apply(i) for i in range(jobs.length())]

    def _last_job_id(self) -> int:
        return max((job.jobId() for job in self._jobs()), default=-1)

    def _counters_since(self, job0: int) -> dict:
        gw = self.spark.sparkContext._gateway
        store = self._store()
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids: set[int] = set()
        for job in self._jobs():
            if job.jobId() <= job0:
                continue
            out["jobs"] += 1
            seq = job.stageIds()
            stage_ids.update(seq.apply(k) for k in range(seq.length()))
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            except Exception:  # a skipped stage never ran: no data kept
                continue
            for k in range(attempts.length()):
                st = attempts.apply(k)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["jvm_gc_ms"] += st.jvmGcTime()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, "overhead_s": self.overhead_s,
                 "spans": [asdict(s) for s in self.spans]},
                f,
            )
