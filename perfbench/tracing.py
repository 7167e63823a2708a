"""Span recording around the package's layer boundaries, and the Spark
event-log reader that attributes task work to those spans.

Spans come from wrappers the benchmark installs on ``SamplingPipeline``
and ``StateStore`` methods at run time; the package source is not
edited. Each wrapper tags the Spark jobs its thread submits with the
span id (the job description), so task counts, bytes and GC in the event
log can be joined back to the span that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

from stats import covered

DESC_KEY = "spark.job.description"
DESC_PREFIX = "bench:"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with the event log's ms stamps
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. A span's parent is the innermost open
    span of its own thread; spans opened on a pool thread with no open
    span of their own hang off the current root (the open batch span)."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.root: int | None = None
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), parent=parent, attrs=attrs)
            self.spans.append(sp)
        stack.append(sp.id)
        prev_root = self.root
        if root:
            self.root = sp.id
        sc = self.spark.sparkContext if self.spark is not None else None
        prev_desc = sc.getLocalProperty(DESC_KEY) if sc is not None else None
        if sc is not None:
            sc.setJobDescription(f"{DESC_PREFIX}{sp.id}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            if sc is not None:
                sc.setLocalProperty(DESC_KEY, prev_desc)
            stack.pop()
            if root:
                self.root = prev_root

    @contextlib.contextmanager
    def paused(self):
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, cls, method: str, name: str) -> None:
        """Replace ``cls.method`` by a version that records a span."""
        orig = getattr(cls, method)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        traced.__wrapped_by_bench__ = orig
        setattr(cls, method, traced)

    def to_json(self) -> list[dict]:
        return [sp.__dict__ for sp in self.spans]


# layer spans installed as method wrappers; the names are the metric
# prefixes. process_batch and flush spans are opened at their call sites
# (they carry the batch index).
PIPELINE_SPANS = {"_write_routed": "pipeline.sink_write"}
STATE_SPANS = {
    "read": "state.read",
    "read_epoch_slice": "state.read",
    "read_evmeta": "state.read",
    "write": "state.write",
    "write_delta": "state.write",
    "write_epoch": "state.write",
    "write_evict": "state.write",
    "write_evmeta": "state.write",
    "compact_epochs": "state.compact",
    "commit": "state.commit",
}


def install(tracer: Tracer, pipeline_cls, store_cls) -> None:
    for m, name in PIPELINE_SPANS.items():
        tracer.wrap(pipeline_cls, m, name)
    for m, name in STATE_SPANS.items():
        tracer.wrap(store_cls, m, name)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its child
    spans cover (children on pool threads may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.id: (sp.end - sp.start) - covered(kids.get(sp.id, []), sp.start, sp.end)
        for sp in spans
    }


def descendants(spans: list[Span], root: int) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k.id)
    return out


@dataclass
class Task:
    job: int | None
    stage: int
    launch: float  # epoch seconds
    finish: float
    run_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    failed: bool


@dataclass
class Job:
    id: int
    submitted: float
    description: str | None
    stages: list[int]


def read_event_log(event_dir: str) -> tuple[dict[int, Job], list[Task]]:
    """Jobs and finished tasks from the (uncompressed) Spark event log."""
    files = glob.glob(os.path.join(event_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"],
                    ev["Submission Time"] / 1000.0,
                    props.get(DESC_KEY),
                    list(ev.get("Stage IDs", [])),
                )
                jobs[job.id] = job
                for s in job.stages:
                    stage_job.setdefault(s, job.id)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.append(
                    Task(
                        job=stage_job.get(ev["Stage ID"]),
                        stage=ev["Stage ID"],
                        launch=info["Launch Time"] / 1000.0,
                        finish=info["Finish Time"] / 1000.0,
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
                        shuffle_read=int(
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        ),
                        failed=bool(info.get("Failed")) or bool(info.get("Killed")),
                    )
                )
    return jobs, tasks


def span_of_job(job: Job) -> int | None:
    d = job.description or ""
    return int(d[len(DESC_PREFIX):]) if d.startswith(DESC_PREFIX) else None
