"""Event-log reduction, span bookkeeping and per-layer arithmetic.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.layers import PER_LAYER, RESULT_METRICS, ZERO_TIMES, layer_metrics
from perfbench.trace import Span, SpanStats, Tracer, busy_seconds, read_event_log, reduce_event_log

ROOT = os.path.join(os.path.dirname(__file__), "..", "..")


def _job_start(job, group, submit_ms, stages, execution=None):
    props = {"spark.jobGroup.id": group} if group else {}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": submit_ms,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms=100, cpu_ns=5e7, records=0, bytes_read=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Update": str(v)} for i, v in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 10,
            "Executor Deserialize Time": 5,
            "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2, "Fetch Wait Time": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Input Metrics": {"Bytes Read": bytes_read, "Records Read": records},
            "Output Metrics": {"Bytes Written": 13, "Records Written": 4},
        },
    }


PLAN = {
    "nodeName": "Execute InsertIntoHadoopFsRelationCommand",
    "metrics": [{"name": "number of written files", "accumulatorId": 9}],
    "children": [
        {
            "nodeName": "ArrowEvalPython",
            "metrics": [
                {"name": "data sent to Python workers", "accumulatorId": 5},
                {"name": "number of output rows", "accumulatorId": 6},
            ],
            "children": [
                {"nodeName": "Scan parquet", "children": [],
                 "metrics": [{"name": "number of output rows", "accumulatorId": 8}]},
            ],
        }
    ],
}


def _spans():
    op = Span("s-op", "op0", "bench", "op", None, 100.0, 110.0)
    build = Span("s-build", "q", "plans", "build", "s-op", 100.0, 101.0)
    action = Span("s-act", "q", "plans", "action", "s-op", 101.0, 110.0)
    return [build, action, op]


def _events():
    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": PLAN},
        _job_start(0, "s-act", 101_500, [0, 1], execution=3),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        _task(0, records=50, bytes_read=500, accums=[(5, 1000), (6, 40), (8, 999)]),
        _task(0, records=50, bytes_read=500, accums=[(5, 24), (6, 2)]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        _task(1),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 104_000},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[9, 6], [8, 1]]},
        # a streaming micro-batch job: its group is the query's run id,
        # so it is attributed by time to the innermost enclosing span
        _job_start(1, "query-run-id", 106_000, [2]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        _task(2, run_ms=300),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 107_000},
        # a job outside every span (set-up) is ignored
        _job_start(2, None, 50_000, [3]),
        _task(3, run_ms=10_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 51_000},
    ]


def test_reduce_attributes_jobs_by_group_then_time():
    stats = reduce_event_log(_events(), _spans())
    assert set(stats) == {"s-act"}
    st = stats["s-act"]
    assert (st.jobs, st.stages, st.tasks) == (2, 3, 4)
    assert st.task_run_ms == 100 + 100 + 100 + 300
    assert st.input_rows == 100 and st.input_bytes == 1000 and st.scan_tasks == 2
    assert st.shuffle_read_bytes == 4 * 3 and st.shuffle_write_bytes == 4 * 11
    assert st.output_rows == 16 and st.spill_bytes == 28
    # SQL metrics: only the Python node's accumulators count
    assert st.python_bytes == 1024 and st.python_rows == 42
    assert st.files_written == 6
    assert sorted(st.job_intervals) == [(101.5, 104.0), (106.0, 107.0)]


def test_busy_seconds_unions_and_clips():
    assert busy_seconds([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4.0)
    assert busy_seconds([(1, 3), (2, 4), (6, 7)], 2.5, 6.5) == pytest.approx(2.0)
    assert busy_seconds([], 0, 10) == 0.0


def test_layer_metrics_per_operation():
    spans = _spans()
    stats = reduce_event_log(_events(), spans)
    m = layer_metrics(spans, stats, nproc=4, latencies=[10.0], progress=[], extra={})
    assert list(m) == [name for name, _, _ in PER_LAYER]
    assert m["plans.build_s"] == pytest.approx(1.0)
    assert m["plans.exec_s"] == pytest.approx(9.0)
    assert m["plans.driver_idle_s"] == pytest.approx(9.0 - 2.5 - 1.0)
    assert m["plans.task_run_s"] == pytest.approx(0.6)
    assert m["plans.core_util"] == pytest.approx(0.6 / (9.0 * 4))
    assert m["functions.python_rows"] == 42
    assert m["streaming.batch_s"] == 0.0


def test_layer_metrics_streaming_from_listener():
    op = Span("o", "op0", "bench", "op", None, 0.0, 2.0)
    drain = Span("d", "drain", "streaming", "action", "o", 0.5, 2.0)
    progress = [[{"durationMs": {"triggerExecution": 1200, "addBatch": 900}, "numInputRows": 80}]]
    m = layer_metrics([drain, op], {}, 4, [2.0], progress, {"streaming.snapshot_rows": 5.0})
    assert m["streaming.batch_s"] == pytest.approx(1.5)
    assert m["streaming.trigger_s"] == pytest.approx(1.2)
    assert m["streaming.add_batch_s"] == pytest.approx(0.9)
    assert m["streaming.query_start_s"] == pytest.approx(0.3)
    assert m["streaming.input_rows"] == 80
    assert m["streaming.snapshot_rows"] == 5.0


def test_tracer_nesting_and_disabled():
    tr = Tracer(enabled=True)
    with tr.span("op0", "bench", "op") as op:
        with tr.span("q", "plans", "build") as b:
            pass
    assert b.parent == op.id and op.parent is None
    assert [s.id for s in tr.spans] == [b.id, op.id]
    off = Tracer(enabled=False)
    with off.span("op0", "bench", "op") as sp:
        assert sp is None
    assert off.spans == []


def test_read_event_log_rolling_layout(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text(
        json.dumps({"Event": "A"}) + "\n" + json.dumps({"Event": "B"}) + "\n{torn"
    )
    assert [e["Event"] for e in read_event_log(str(tmp_path))] == ["A", "B"]


def test_benchmark_json_lists_the_metrics_the_runner_reports():
    from perfbench.run import END_TO_END
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(RESULT_METRICS)
    assert ZERO_TIMES <= {name for name, _, _ in PER_LAYER}
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_span_stats_add():
    a, b = SpanStats(jobs=1, tasks=2), SpanStats(jobs=3, tasks=4, job_intervals=[(0, 1)])
    a.add(b)
    assert (a.jobs, a.tasks, a.job_intervals) == (4, 6, [(0, 1)])


def test_runner_refuses_to_run_outside_a_checkout(tmp_path, monkeypatch):
    from perfbench.run import main

    monkeypatch.chdir(tmp_path)
    assert main(["--workload", "etl_clickstream", "--seed", "1", "--seconds", "1"]) == 2
    assert list(tmp_path.iterdir()) == []
