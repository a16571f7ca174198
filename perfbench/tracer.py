"""Span recorder for traced benchmark runs.

The program under test carries no instrumentation; the tracer records
spans from the benchmark process only:

* ``span()`` times a block the benchmark itself runs (a landing, a
  publish, a forced scan);
* ``rebind()`` replaces a public function of the package with a
  wrapper that opens a span around every call — including calls the
  package makes to itself, such as ``upsert_star_batch`` calling
  ``merge_lww_bucketed`` — and ``restore()`` puts every original back.

Each span records name, start, end, parent and a trace id (workload +
batch id). At the same boundary it counts the Spark jobs the span ran
(each span adds a job tag, and the status tracker lists the jobs that
carried it) and, for spans given a ``state_dir``, the bytes and files
written into that directory. Spans stay in memory until ``dump()``.
Time spent on this bookkeeping is summed in ``overhead_s``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    bytes_written: int = 0
    files_written: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def dir_snapshot(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} under ``path`` (empty if absent)."""
    snap = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files that are new or changed in ``after``."""
    changed = [v for p, v in after.items() if before.get(p) != v]
    return sum(size for size, _ in changed), len(changed)


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.batch_id: int | str = "-"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []
        self._status = spark.sparkContext._jsc.sc().statusTracker()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, state_dir: str | None = None, batch=None, **attrs):
        """Time a block. The trace id is the workload plus ``batch``,
        else the parent's trace id, else the tracer's ``batch_id``."""
        t0 = time.perf_counter()
        stack = self._stack()
        if batch is not None:
            trace_id = f"{self.workload}/{batch}"
        else:
            trace_id = stack[-1].trace_id if stack else f"{self.workload}/{self.batch_id}"
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, trace_id, stack[-1].id if stack else None, 0.0,
                      attrs=dict(attrs))
            self.spans.append(sp)
        tag = f"perfbench-span-{sid}"
        sc = self.spark.sparkContext
        sc.addJobTag(tag)
        before = dir_snapshot(state_dir) if state_dir else None
        stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            sc.removeJobTag(tag)
            sp.jobs = len(self._status.getJobIdsForTag(tag))
            if state_dir:
                sp.bytes_written, sp.files_written = written_since(before, dir_snapshot(state_dir))
            self.overhead_s += time.perf_counter() - sp.end

    def rebind(self, module, attr: str, name, state_dir_arg: int | None = None,
               batch_arg: int | None = None, **attrs) -> None:
        """Wrap ``module.attr`` so each call runs inside a span.

        ``name`` is a span name or a function of the call's arguments;
        ``state_dir_arg`` and ``batch_arg`` name the positional arguments
        holding a directory whose writes the span should count and the
        micro-batch id for the trace id; ``attrs`` are recorded on every
        span."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            state_dir = args[state_dir_arg] if state_dir_arg is not None else None
            batch = args[batch_arg] if batch_arg is not None else None
            with self.span(span_name, state_dir=state_dir, batch=batch, **attrs):
                return original(*args, **kwargs)

        self._originals.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._originals:
            module, attr, original = self._originals.pop()
            setattr(module, attr, original)

    def __enter__(self) -> "Tracer":
        return self

    def __exit__(self, *exc) -> None:
        self.restore()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the time its direct children cover
        (children run sequentially on the span's own thread)."""
        return span.dur - sum(c.dur for c in self.children(span))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
