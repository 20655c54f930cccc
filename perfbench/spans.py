"""In-memory spans and Spark job attribution for the traced run.

A span records name, start, end, parent and the id of the operation (one
ingest job, one incremental batch or one search query) it belongs to.  Spans
are opened by the benchmark's own files around calls into the package's
public functions; calls that happen inside ``run_extraction`` are reached by
swapping the module attribute for a timing wrapper (:meth:`Tracer.wrap`).

Spark executes lazily, so a span around a DataFrame-returning call times plan
building only; execution lands in the span that triggers the action.  Each
span therefore tags the jobs it submits with its own Spark job group, and
:meth:`Tracer.harvest` reads jobs, stages and tasks per group from the
status store (which is live with the UI disabled).

With ``enabled=False`` every method is a no-op, which is how the untraced
runs that produce the end-to-end metrics are made.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_records: int = 0
    counts: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its child spans cover (overlapping children counted once,
    children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ())
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._spark = spark
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        sc = self._spark.sparkContext
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, op or (parent.op if parent else None),
                 parent.id if parent else None, 0.0)
        if self._spark is not None:
            self._set_group(s)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self._spark is not None:
                self._set_group(parent)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``
        around each call; ``after(span, args, kwargs, result)`` runs inside
        the span.  :meth:`unwrap` puts every original back."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(s, args, kwargs, result)
                return result

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until :meth:`unwrap`."""
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def harvest(self, spans: list[Span]) -> None:
        """Fill each span's Spark job, stage and task counts from the status
        store.  Call after the spans' jobs have finished, outside any timed
        section."""
        if not self.enabled or self._spark is None:
            return
        sc = self._spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in spans:
            for job_id in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                s.jobs += 1
                for stage_id in info.stageIds:
                    st = store.lastStageAttempt(stage_id)
                    done = st.numCompleteTasks() + st.numFailedTasks()
                    if done == 0:           # skipped: reused shuffle output
                        continue
                    s.stages += 1
                    s.tasks += done
                    s.failed_tasks += st.numFailedTasks()
                    s.executor_run_s += st.executorRunTime() / 1000.0
                    s.shuffle_write_bytes += st.shuffleWriteBytes()
                    s.input_records += st.inputRecords()

    def write(self, path: str) -> None:
        """Write every span as one JSON object per line."""
        import json

        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                row = dict(s.__dict__, self_s=selfs[s.id])
                fh.write(json.dumps(row) + "\n")
