"""Spans around calls into the engine's layers, and the Spark counters
read for each span from the outside.

A span is opened by the benchmark's own code around one call into a
layer's public function. Each span runs its Spark jobs under its own
job group (``sparkContext.setJobGroup``); when the span closes, the
per-stage counters of that group's jobs are read from the driver's
status store (``AppStatusStore.jobsList`` / ``lastStageAttempt``), so
no listener or engine change is needed. Spans stay in memory and are
written once, at exit.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

#: stage counters summed per span, with their conversion to the
#: reported unit
STAGE_COUNTERS = {
    "tasks": ("numTasks", 1.0),
    "failed_tasks": ("numFailedTasks", 1.0),
    "executor_run_s": ("executorRunTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1.0 / (1 << 20)),
    "shuffle_read_mb": ("shuffleReadBytes", 1.0 / (1 << 20)),
    "spill_mb": ("memoryBytesSpilled", 1.0 / (1 << 20)),
}


@dataclass
class Span:
    span_id: int
    trace_id: str
    parent_id: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    #: seconds inside the Python call / forcing its output
    call_s: float = 0.0
    exec_s: float = 0.0
    counters: dict = field(default_factory=dict)
    #: job groups Spark set itself on work the span started: a
    #: streaming query runs its micro-batches under its ``runId``
    extra_groups: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"bench-span-{self.span_id}"


class Tracer:
    """Records spans for one benchmark run.

    With ``enabled=False``, :meth:`span` returns a context that records
    nothing and sets no job group, so untraced runs pay no cost.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack: list[Span] = []
        self.trace_id = ""

    def start_trace(self, trace_id: str) -> None:
        """Spans opened from now on share ``trace_id`` (one job)."""
        self.trace_id = trace_id

    def span(self, name: str, layer: str) -> "_SpanCtx":
        return _SpanCtx(self, name, layer)

    # -- internals -------------------------------------------------------
    def _open(self, name: str, layer: str) -> Span:
        with self._lock:
            parent = self._stack[-1].span_id if self._stack else None
            s = Span(next(self._ids), self.trace_id, parent, name, layer,
                     time.perf_counter())
            self._stack.append(s)
        self._set_group(s.group)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        with self._lock:
            self._stack.remove(s)
            parent = self._stack[-1] if self._stack else None
        self._set_group(parent.group if parent else None)
        self.spans.append(s)

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def collect_counters(self) -> None:
        """Fill every span's counters from the status store; call once,
        after the last span closed and before the session stops."""
        counters = read_group_counters(self.spark)
        empty = {k: 0.0 for k in (*STAGE_COUNTERS, "jobs")}
        for s in self.spans:
            s.counters = dict(empty)
            for g in (s.group, *s.extra_groups):
                for k, v in counters.get(g, empty).items():
                    s.counters[k] += v

    def nesting_ok(self) -> bool:
        """Every child span lies inside its parent, in the same job."""
        by_id = {s.span_id: s for s in self.spans}
        return all(
            (p := by_id[s.parent_id]).start <= s.start and s.end <= p.end
            and p.trace_id == s.trace_id
            for s in self.spans if s.parent_id is not None
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer
        self.span: Span | None = None

    def __enter__(self) -> "_SpanCtx":
        if self.tracer.enabled:
            self.span = self.tracer._open(self.name, self.layer)
        return self

    def mark_called(self) -> None:
        """End of the Python call; what follows is forcing its output."""
        if self.span is not None:
            self.span.call_s = time.perf_counter() - self.span.start

    def add_group(self, group: str) -> None:
        """Count the jobs of ``group`` too (see ``Span.extra_groups``)."""
        if self.span is not None:
            self.span.extra_groups.append(group)

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            s = self.span
            if s.call_s == 0.0:
                s.call_s = time.perf_counter() - s.start
            self.tracer._close(s)
            s.exec_s = s.end - s.start - s.call_s


def _jvm_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def read_group_counters(spark) -> dict[str, dict[str, float]]:
    """Per job group in the driver's status store: the number of jobs
    and the sum of each stage counter over their stages. Stages a job
    skipped (shuffle reuse) count nothing."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages: dict[str, set[int]] = {}
    out: dict[str, dict[str, float]] = {}
    for job in _jvm_seq(store.jobsList(None)):
        g = job.jobGroup()
        if not g.isDefined():
            continue
        group = g.get()
        c = out.setdefault(group, {k: 0.0 for k in (*STAGE_COUNTERS, "jobs")})
        c["jobs"] += 1
        stages.setdefault(group, set()).update(_jvm_seq(job.stageIds()))
    for group, ids in stages.items():
        for sid in ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException: never ran
                continue
            if str(st.status()) == "SKIPPED":
                continue
            for key, (getter, scale) in STAGE_COUNTERS.items():
                out[group][key] += getattr(st, getter)() * scale
    return out
