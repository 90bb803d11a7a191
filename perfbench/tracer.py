"""Spans around calls into the engine's public functions, measured from
outside the engine.

A traced run replaces each patched function, wherever callers look it up,
with a wrapper that records one span: name, start, end, parent span and
operation id. Spans stay in memory until the run ends. The root span of
each operation is opened by the workload's client loop; a span opened on
a thread with no open span (the HTTP server's request thread) takes the
open operation's root as its parent, which is exact for one client in a
closed loop.

Spark jobs are attributed by submission time: every job submitted inside
a span belongs to it. Job data comes from the SparkContext status store,
polled after each operation; the files a span's SQL scans read come from
the SQL status store, attributed the same way.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "dsci551_edfs_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_root: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        #: wrappers record spans only while enabled
        self.enabled = True

    # ------------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else self._op_root
        with self._lock:
            idx = len(self.spans)
            op = self.spans[parent].op if parent is not None else None
            self.spans.append(Span(name, time.time(), parent=parent, op=op))
            if parent is not None:
                self.spans[parent].children.append(idx)
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    def begin_op(self, name: str, op_id: int) -> int:
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), op=op_id))
        self._stack().append(idx)
        self._op_root = idx
        return idx

    def end_op(self, idx: int) -> None:
        self.close(idx)
        self._op_root = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def inside(self, name: str) -> bool:
        """Whether a span called `name` is open on this thread."""
        return any(self.spans[i].name == name for i in self._stack())

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # ----------------------------------------------------------- patching

    def patch_function(self, module, attr: str, name: str, inner=None) -> None:
        """Replace `module.attr` and every by-name import of the same
        function object in the engine's loaded modules with a span wrapper
        around `inner` (default: the function itself)."""
        orig = getattr(module, attr)
        traced = self.wrap(name, inner or orig)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, orig))
                    setattr(mod, key, traced)

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self.wrap(name, orig))

    def unpatch(self) -> None:
        for owner, key, orig in reversed(self._patches):
            setattr(owner, key, orig)
        self._patches.clear()

    def write(self, path: str) -> None:
        """Write every closed span as one JSON line."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                if s.end:
                    rec = {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
                    fh.write(json.dumps(rec) + "\n")

    # ------------------------------------------------------------ folding

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def self_time(self, span: Span) -> float:
        return span.dur - sum(self.spans[c].dur for c in span.children)

    def ancestors(self, span: Span):
        p = span.parent
        while p is not None:
            yield self.spans[p]
            p = self.spans[p].parent


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    stages: int
    tasks: int
    failed_tasks: int


class SparkJobs:
    """Job, stage and task counts per Spark job, read from the status store
    of one SparkContext, and files read per SQL execution, read from the
    session's SQL status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.jobs: dict[int, Job] = {}
        self._floor = max(self._ids(), default=-1)

    def _ids(self) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def poll(self) -> None:
        for jid in self._ids():
            if jid <= self._floor or jid in self.jobs:
                continue
            jd = self._store.job(jid)
            status = str(jd.status())
            if status == "RUNNING" or jd.submissionTime().isEmpty():
                continue  # counted once it has finished
            self.jobs[jid] = Job(
                jid,
                jd.submissionTime().get().getTime() / 1000.0,
                jd.stageIds().size() - jd.numSkippedStages(),
                jd.numCompletedTasks(),
                jd.numFailedTasks(),
            )

    def drain(self, timeout_s: float = 5.0) -> None:
        """Poll until no job is left running, or the timeout passes."""
        deadline = time.time() + timeout_s
        while True:
            self.poll()
            running = [j for j in self._ids() if j > self._floor and j not in self.jobs]
            if not running or time.time() > deadline:
                return
            time.sleep(0.05)

    def within(self, spans: list[Span]) -> list[Job]:
        """Jobs submitted inside any of `spans`."""
        out = []
        for job in self.jobs.values():
            if any(s.start <= job.submitted <= s.end for s in spans):
                out.append(job)
        return out

    def files_read(self, spans: list[Span], timeout_s: float = 5.0) -> list[int]:
        """For each span, the files read by the SQL executions submitted
        inside it: the sum of their scans' "number of files read" metrics."""
        out = [0] * len(spans)
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            t = ex.submissionTime() / 1000.0
            hit = [k for k, s in enumerate(spans) if s.start <= t <= s.end]
            if not hit:
                continue
            deadline = time.time() + timeout_s
            while ex.completionTime().isEmpty() and time.time() < deadline:
                time.sleep(0.05)
                ex = self._sql.execution(ex.executionId()).get()
            values = self._sql.executionMetrics(ex.executionId())
            seq = ex.metrics()
            metrics = [seq.apply(j) for j in range(seq.size())]
            # an adaptive plan lists a scan's metric once per plan version
            ids = {m.accumulatorId() for m in metrics if m.name() == "number of files read"}
            n = 0
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    n += int(v.get().replace(",", ""))
            for k in hit:
                out[k] += n
        return out
