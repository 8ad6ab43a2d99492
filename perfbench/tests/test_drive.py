"""The closed loop: settle count, the timed loop's stopping rule, and
failure counting that keeps a failed operation's time; the memory
sampler and the input cache's part-count check."""

from __future__ import annotations

import json
import os
import time

from perfbench.run import drive
from perfbench.trace import Tracer


class FakeWorkload:
    capacity = 1 << 30
    round = 1
    settle_ops = 2
    min_ops = 1

    def __init__(self, op_s: float = 0.0, fail_at: frozenset = frozenset()):
        self.op_s = op_s
        self.fail_at = fail_at
        self.ran: list[int] = []

    def before_op(self, i: int) -> None:
        pass

    def op(self, i: int) -> None:
        self.ran.append(i)
        time.sleep(self.op_s)
        if i in self.fail_at:
            raise RuntimeError(f"op {i}")

    def after_op(self, i: int) -> None:
        pass


def test_settle_runs_a_fixed_count():
    wl = FakeWorkload()
    lat, failed, nxt = drive(wl, Tracer(), 0)
    assert (len(lat), failed, nxt, wl.ran) == (2, 0, 2, [0, 1])


def test_timed_loop_runs_min_ops_even_when_time_is_up():
    wl = FakeWorkload(op_s=0.01)
    wl.min_ops = 4
    lat, _, nxt = drive(wl, Tracer(), 2, seconds=0.0)
    assert len(lat) == 4 and nxt == 6 and wl.ran == [2, 3, 4, 5]


def test_timed_loop_ends_on_a_whole_round_and_respects_capacity():
    wl = FakeWorkload()
    wl.round = 3
    lat, _, _ = drive(wl, Tracer(), 0, seconds=0.0)
    assert len(lat) == 3
    wl.capacity = 2
    lat, _, nxt = drive(wl, Tracer(), 0, seconds=1e9)
    assert len(lat) == 2 and nxt == 2


def test_failed_operation_keeps_its_time_and_counts():
    wl = FakeWorkload(op_s=0.02, fail_at=frozenset({1}))
    wl.min_ops = 3
    lat, failed, _ = drive(wl, Tracer(), 0, seconds=0.0)
    assert failed == 1
    assert len(lat) == 3 and min(lat) >= 0.02


def test_memory_sampler_counts_python_children():
    import subprocess
    import sys

    from perfbench.run import MemorySampler

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        time.sleep(0.3)
        sampler = MemorySampler(os.getpid(), period=0.05)
        sampler.start()
        time.sleep(0.2)
        sampler.stop()
    finally:
        child.kill()
        child.wait()
    assert any(k.endswith(f"[{child.pid}]") for k in sampler.peak_by_process)
    assert sampler.peak_mb == sum(sampler.peak_by_process.values()) > 0
    assert sampler.cpu_s >= 0


def test_inputs_of_another_part_count_are_not_reused(tmp_path):
    from perfbench.run import generated_parts

    assert generated_parts(str(tmp_path)) is None
    (tmp_path / "manifest.json").write_text(json.dumps({"parts": 3, "tables": {}}))
    assert generated_parts(str(tmp_path)) == 3
