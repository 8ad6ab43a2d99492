"""Spans around the benchmark's calls into the engine, and the reduction
of Spark's event log to per-span counts.

A :class:`Tracer` records one :class:`Span` per call the benchmark makes
into an engine layer (name, layer, kind, parent, wall-clock start and
end). When tracing is on it also tags every Spark job the call launches
with the span's id as the job group, so the event log can be reduced
per span by :func:`reduce_event_log`. Jobs carrying a group the tracer
did not set (streaming micro-batches set their own) are attributed to
the innermost span whose interval contains their submission time; the
benchmark is a single-threaded closed loop, so spans never overlap
except by nesting.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    layer: str
    kind: str
    parent: str | None
    t0: float
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    makes no Spark calls, so untraced runs pay only a context manager."""

    def __init__(self, enabled: bool = False):
        #: the SparkContext whose job group each span sets; None until
        #: the session exists, so the ``get_spark`` span sets no group
        self.sc = None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, layer: str, kind: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        sp = Span(f"bench-span-{self._next}", name, layer, kind,
                  parent.id if parent else None, time.time())
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(sp)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.id, sp.name)


class ProgressListener:
    """Collects ``QueryProgressEvent``s per streaming run id.

    Built lazily as a ``StreamingQueryListener`` subclass so this module
    imports without pyspark (the parser tests do not need a session)."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class _Listener(StreamingQueryListener):
            def __init__(self):
                self.lock = threading.Lock()
                self.progress: dict[str, list[dict]] = {}
                self.terminated: set[str] = set()

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                row = {
                    "durationMs": dict(p.durationMs),
                    "numInputRows": int(p.numInputRows),
                    "batchId": int(p.batchId),
                }
                with self.lock:
                    self.progress.setdefault(str(p.runId), []).append(row)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with self.lock:
                    self.terminated.add(str(event.runId))

            def wait(self, run_id: str, timeout: float = 10.0) -> list[dict]:
                """Progress of ``run_id`` once its termination event has
                arrived (listener events are delivered asynchronously)."""
                deadline = time.monotonic() + timeout
                while time.monotonic() < deadline:
                    with self.lock:
                        if run_id in self.terminated:
                            break
                    time.sleep(0.01)
                with self.lock:
                    return list(self.progress.get(run_id, []))

        return _Listener()


# --------------------------------------------------------------------------
# event log reduction
# --------------------------------------------------------------------------


@dataclass
class SpanStats:
    """Counts Spark reported for the jobs attributed to one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: float = 0.0
    task_cpu_ns: float = 0.0
    task_gc_ms: float = 0.0
    task_deserialize_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_fetch_wait_ms: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0
    input_rows: float = 0.0
    scan_tasks: int = 0
    output_bytes: float = 0.0
    output_rows: float = 0.0
    files_written: float = 0.0
    python_rows: float = 0.0
    python_bytes: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    COUNTERS = (
        "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "task_gc_ms",
        "task_deserialize_ms", "shuffle_write_bytes", "shuffle_read_bytes",
        "shuffle_fetch_wait_ms", "spill_bytes", "input_bytes", "input_rows",
        "scan_tasks", "output_bytes", "output_rows", "files_written",
        "python_rows", "python_bytes",
    )

    def add(self, other: "SpanStats") -> None:
        for k in self.COUNTERS:
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals += other.job_intervals


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``; handles
    both single-file and rolling (``eventlog_v2_*/events_*``) layouts and
    skips a torn last line."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += sorted(
        f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)
    )
    events = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
    return events


def _plan_metric_ids(plan: dict, python_rows: set, python_bytes: set, files: set) -> None:
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "data sent to Python workers" in names:
        python_bytes.add(names["data sent to Python workers"])
        if "number of output rows" in names:
            python_rows.add(names["number of output rows"])
    if "number of written files" in names:
        files.add(names["number of written files"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, python_rows, python_bytes, files)


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
            best = s
    return best


def reduce_event_log(events: list[dict], spans: list[Span]) -> dict[str, SpanStats]:
    """Per-span Spark counts: jobs go to the span named by their job
    group, else to the innermost span containing their submission time;
    stages, tasks and SQL metrics follow their job."""
    by_id = {s.id: s for s in spans}
    python_rows: set = set()
    python_bytes: set = set()
    files: set = set()
    for e in events:
        if "sparkPlanInfo" in e:
            _plan_metric_ids(e["sparkPlanInfo"], python_rows, python_bytes, files)

    job_span: dict[int, str] = {}
    stage_span: dict[int, str] = {}
    exec_span: dict[str, str] = {}
    stats: dict[str, SpanStats] = {}
    submit: dict[int, float] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            t = e["Submission Time"] / 1000.0
            sp = by_id.get(props.get("spark.jobGroup.id") or "")
            if sp is None:
                sp = _innermost(spans, t)
            if sp is None:
                continue
            job_span[e["Job ID"]] = sp.id
            submit[e["Job ID"]] = t
            st = stats.setdefault(sp.id, SpanStats())
            st.jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_span.setdefault(sid, sp.id)
            if "spark.sql.execution.id" in props:
                exec_span.setdefault(str(props["spark.sql.execution.id"]), sp.id)
        elif kind == "SparkListenerJobEnd":
            sid = job_span.get(e["Job ID"])
            if sid is not None:
                stats[sid].job_intervals.append(
                    (submit[e["Job ID"]], e["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageCompleted":
            sid = stage_span.get(e["Stage Info"]["Stage ID"])
            if sid is not None:
                stats[sid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            if sid is None:
                continue
            _add_task(stats[sid], e, python_rows, python_bytes)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            sid = exec_span.get(str(e.get("executionId")))
            if sid is None:
                continue
            for acc_id, value in e.get("accumUpdates", []):
                if acc_id in files:
                    stats[sid].files_written += float(value)
    return stats


def _add_task(st: SpanStats, e: dict, python_rows: set, python_bytes: set) -> None:
    m = e.get("Task Metrics") or {}
    st.tasks += 1
    st.task_run_ms += m.get("Executor Run Time", 0)
    st.task_cpu_ns += m.get("Executor CPU Time", 0)
    st.task_gc_ms += m.get("JVM GC Time", 0)
    st.task_deserialize_ms += m.get("Executor Deserialize Time", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_fetch_wait_ms += sr.get("Fetch Wait Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    inp = m.get("Input Metrics") or {}
    st.input_bytes += inp.get("Bytes Read", 0)
    st.input_rows += inp.get("Records Read", 0)
    if inp.get("Bytes Read", 0) or inp.get("Records Read", 0):
        st.scan_tasks += 1
    out = m.get("Output Metrics") or {}
    st.output_bytes += out.get("Bytes Written", 0)
    st.output_rows += out.get("Records Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("ID") in python_rows:
            st.python_rows += float(acc.get("Update", 0))
        elif acc.get("ID") in python_bytes:
            st.python_bytes += float(acc.get("Update", 0))


def busy_seconds(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
