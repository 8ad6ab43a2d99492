"""Per-layer metrics of a traced run.

Layer names are the engine's modules: ``session``, ``sources``,
``plans``, ``functions``, ``operators.*`` and ``streaming``. Times come
from the benchmark's spans around its calls into each module; counts
come from Spark's event log reduced per span (:mod:`perfbench.trace`)
and from the streaming listener. Values are per timed operation (the
run's total divided by its operations) unless named otherwise, so runs
that fit a different number of operations into their time compare.
Metrics of a layer a workload does not call read 0.
"""

from __future__ import annotations

from perfbench.stats import median
from perfbench.trace import Span, SpanStats, busy_seconds

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER = (
    ("session.get_spark_s", "s", "lower"),
    ("session.warmup_op_s", "s", "lower"),
    ("session.jvm_heap_peak_mb", "MB", "lower"),
    ("sources.read_s", "s", "lower"),
    ("sources.write_s", "s", "lower"),
    ("sources.write_only_s", "s", "lower"),
    ("sources.bytes_read", "B", "lower"),
    ("sources.rows_read", "count", "lower"),
    ("sources.bytes_written", "B", "lower"),
    ("sources.rows_written", "count", "lower"),
    ("sources.files_written", "count", "lower"),
    ("sources.scan_tasks", "count", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.exec_s", "s", "lower"),
    ("plans.driver_idle_s", "s", "lower"),
    ("plans.jobs", "count", "lower"),
    ("plans.stages", "count", "lower"),
    ("plans.tasks", "count", "lower"),
    ("plans.task_run_s", "s", "lower"),
    ("plans.task_cpu_s", "s", "lower"),
    ("plans.task_gc_s", "s", "lower"),
    ("plans.task_deserialize_s", "s", "lower"),
    ("plans.shuffle_write_bytes", "B", "lower"),
    ("plans.shuffle_read_bytes", "B", "lower"),
    ("plans.shuffle_fetch_wait_s", "s", "lower"),
    ("plans.spill_bytes", "B", "lower"),
    ("plans.core_util", "ratio", "higher"),
    ("functions.python_rows", "count", "lower"),
    ("functions.python_bytes", "B", "lower"),
    ("operators.dedup.s", "s", "lower"),
    ("operators.similarity.s", "s", "lower"),
    ("operators.text.s", "s", "lower"),
    ("operators.traindata.s", "s", "lower"),
    ("operators.graph.s", "s", "lower"),
    ("operators.dedup.candidate_pairs", "count", "lower"),
    ("operators.dedup.verified_pairs", "count", "higher"),
    ("operators.dedup.pair_yield", "ratio", "higher"),
    ("operators.similarity.candidate_pairs", "count", "lower"),
    ("operators.similarity.pair_yield", "ratio", "higher"),
    ("operators.dedup.cc_rounds", "count", "lower"),
    ("streaming.batch_s", "s", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.query_planning_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower"),
    ("streaming.latest_offset_s", "s", "lower"),
    ("streaming.query_start_s", "s", "lower"),
    ("streaming.input_rows", "count", "lower"),
    ("streaming.snapshot_rows", "count", "lower"),
    ("streaming.snapshot_bytes_written", "B", "lower"),
    ("trace.op_s_p50", "s", "lower"),
)

#: per-layer times that read exactly 0 on every run of a workload that
#: never calls the layer (the sources reads/writes of the registry and
#: streaming workloads, the operator modules outside curation, the
#: streaming timings outside ingest, and shuffle fetch wait, which is 0
#: in local mode). They stay in the report line; the runner's last line
#: carries :data:`RESULT_METRICS`, whose times are measured on every run.
ZERO_TIMES = frozenset(
    {
        "sources.read_s", "sources.write_s", "sources.write_only_s",
        "plans.shuffle_fetch_wait_s",
        "operators.dedup.s", "operators.similarity.s", "operators.text.s",
        "operators.traindata.s", "operators.graph.s",
        "streaming.batch_s", "streaming.trigger_s", "streaming.add_batch_s",
        "streaming.query_planning_s", "streaming.wal_commit_s",
        "streaming.latest_offset_s", "streaming.query_start_s",
    }
)
RESULT_METRICS = tuple(m for m in PER_LAYER if m[0] not in ZERO_TIMES)

#: listener ``durationMs`` key of each streaming timing
STREAM_DURATIONS = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.latest_offset_s": "latestOffset",
}

#: span kinds that trigger execution (the "action span" of a plan)
ACTIONS = ("action", "write")


def layer_metrics(
    spans: list[Span],
    stats: dict[str, SpanStats],
    nproc: int,
    latencies: list[float],
    progress: list[list[dict]],
    extra: dict[str, float],
) -> dict[str, float]:
    """Every :data:`PER_LAYER` metric from one traced run.

    ``progress`` holds the listener's progress events per timed
    operation; ``extra`` carries values measured outside the timed loop
    (probes, snapshot sizes) and the id of the connected-components
    span under ``_cc_span``.
    """
    ops = [s for s in spans if s.kind == "op"]
    n = max(1, len(ops))
    kids: dict[str, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    timed: list[Span] = []
    todo = list(ops)
    while todo:
        s = todo.pop()
        timed.append(s)
        todo += kids.get(s.id, [])
    total = SpanStats()
    for s in timed:
        if s.id in stats:
            total.add(stats[s.id])

    def seconds(pred) -> float:
        return sum(s.seconds for s in timed if pred(s))

    def first(kind: str) -> float:
        return next((s.seconds for s in spans if s.kind == kind), 0.0)

    actions = [s for s in timed if s.kind in ACTIONS]
    exec_s = sum(s.seconds for s in actions)
    idle = sum(
        s.seconds - busy_seconds(stats[s.id].job_intervals if s.id in stats else [], s.t0, s.t1)
        for s in actions
    )
    m = {
        "session.get_spark_s": first("get_spark"),
        "session.warmup_op_s": first("warmup"),
        "sources.read_s": seconds(lambda s: s.kind == "read") / n,
        "sources.write_s": seconds(lambda s: s.kind == "write") / n,
        "sources.bytes_read": total.input_bytes / n,
        "sources.rows_read": total.input_rows / n,
        "sources.bytes_written": total.output_bytes / n,
        "sources.rows_written": total.output_rows / n,
        "sources.files_written": total.files_written / n,
        "sources.scan_tasks": total.scan_tasks / n,
        "plans.build_s": seconds(lambda s: s.kind == "build") / n,
        "plans.exec_s": exec_s / n,
        "plans.driver_idle_s": idle / n,
        "plans.jobs": total.jobs / n,
        "plans.stages": total.stages / n,
        "plans.tasks": total.tasks / n,
        "plans.task_run_s": total.task_run_ms / 1e3 / n,
        "plans.task_cpu_s": total.task_cpu_ns / 1e9 / n,
        "plans.task_gc_s": total.task_gc_ms / 1e3 / n,
        "plans.task_deserialize_s": total.task_deserialize_ms / 1e3 / n,
        "plans.shuffle_write_bytes": total.shuffle_write_bytes / n,
        "plans.shuffle_read_bytes": total.shuffle_read_bytes / n,
        "plans.shuffle_fetch_wait_s": total.shuffle_fetch_wait_ms / 1e3 / n,
        "plans.spill_bytes": total.spill_bytes / n,
        "plans.core_util": (total.task_run_ms / 1e3) / (exec_s * nproc) if exec_s else 0.0,
        "functions.python_rows": total.python_rows / n,
        "functions.python_bytes": total.python_bytes / n,
        "trace.op_s_p50": median(latencies) if latencies else 0.0,
    }
    for mod in ("dedup", "similarity", "text", "traindata", "graph"):
        m[f"operators.{mod}.s"] = seconds(lambda s: s.layer == f"operators.{mod}") / n
    extra = dict(extra)
    cc = extra.pop("_cc_span", None)
    m["operators.dedup.cc_rounds"] = float(stats[cc].jobs) if cc in stats else 0.0
    drains = [s.seconds for s in timed if s.layer == "streaming" and s.kind == "action"]
    for name, key in STREAM_DURATIONS.items():
        m[name] = sum(p["durationMs"].get(key, 0) for op in progress for p in op) / 1e3 / n
    m["streaming.batch_s"] = sum(drains) / n
    m["streaming.query_start_s"] = (
        (sum(drains) / n - m["streaming.trigger_s"]) if drains else 0.0
    )
    m["streaming.input_rows"] = sum(p["numInputRows"] for op in progress for p in op) / n
    for name, value in extra.items():
        m[name] = value
    return {name: float(m.get(name, 0.0)) for name, _, _ in PER_LAYER}
