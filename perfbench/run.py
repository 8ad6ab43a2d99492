#!/usr/bin/env python3
"""Benchmark of the spark_etl_pipeline_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed`` (cached under ``.bench_build/perfbench``),
starts a session with ``session.get_spark`` on ``local[nproc]``, runs the
workload's warm-up, then drives the engine as one closed-loop client (a
single thread that sends the next operation only after the previous one
finished) for ``S`` seconds of operation time, and checks the outputs.

Every line but the last is a human/JSON report; the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (:data:`END_TO_END`);
with ``--trace 1`` the session also writes Spark's event log, every call
into an engine layer is a span tagged as a Spark job group, and the
metrics are the per-layer ones (``perfbench/layers.py``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
# the checkout root, for ``perfbench.*``, ``tools.*`` and the engine
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.workloads import WORKLOADS  # noqa: E402 - imports no pyspark
WORK = os.path.join(".bench_build", "perfbench")
#: input sets kept in the cache (each is a few MB)
KEEP_INPUTS = 8
#: driver JVM heap (the engine's ``SPARK_GRAFT_DRIVER_MEM`` knob; in
#: local mode it is also the executors' memory), committed in full at
#: start, and the cap on direct buffers. Under the engine's defaults (an
#: 8 GB heap grown on demand) the garbage collector sized the heap by
#: timing: five seeds of ``etl_clickstream`` peaked at 2.6-4.1 GB
#: resident, too wide for the 0.25 bound on ``peak_rss_mb``
DRIVER_MEM = "1g"
DIRECT_MEM = "256m"
#: (name, unit) of the end-to-end metrics on the result line of every
#: workload. Operation latency and throughput are in the report line only:
#: on a 4-vCPU guest whose hypervisor lends its CPUs to other guests they
#: moved by up to 2.5x between runs of the same code, while CPU time per
#: operation and peak memory moved by less than a fifth
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s_per_op", "s"),
    ("peak_rss_mb", "MB"),
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(root: int) -> float:
    """User plus system CPU time of ``root`` and every live process below
    it, each including the children it has reaped (the Python worker
    daemon reaps its forked workers). A difference of two readings is
    the CPU the engine spent in between, whoever it was scheduled on."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def engine_memory(root: int) -> dict[str, float]:
    """Resident memory in MB of the driver JVM (``VmRSS``) and every
    Python worker below ``root``. A worker counts its proportional set
    size (``Pss`` in ``smaps_rollup``), so the pages the worker daemon
    shares copy-on-write with the workers it forked are split among them
    rather than counted once per worker (the JVM shares nothing, and its
    ``Pss`` costs a walk over its whole heap). Other children are
    skipped: a JVM thread forking a helper command shares the JVM's pages
    until it execs."""
    out = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
            name = fields["Name"].strip()
            if name == "java":
                kb = fields["VmRSS"]
            elif name.startswith("python"):
                with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
                    kb = next(line for line in fh if line.startswith("Pss:")).split(":", 1)[1]
            else:
                continue
        except (OSError, KeyError, StopIteration):
            continue
        out[f"{name}[{pid}]"] = int(kb.split()[0]) / 1024
    return out


class MemorySampler(threading.Thread):
    """Samples :func:`engine_memory` every ``period`` seconds until
    stopped and keeps the largest total, so workers that exit during the
    loop still count. ``cpu_s`` is the CPU time the sampling itself took,
    which the runner leaves out of the engine's CPU time."""

    def __init__(self, root: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.root, self.period = root, period
        self.peak_mb = 0.0
        self.peak_by_process: dict[str, float] = {}
        self.cpu_s = 0.0
        self._done = threading.Event()

    def sample(self) -> None:
        t0 = time.thread_time()
        by_process = engine_memory(self.root)
        total = sum(by_process.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_by_process = total, by_process
        self.cpu_s += time.thread_time() - t0

    def run(self) -> None:
        self.sample()
        while not self._done.wait(self.period):
            self.sample()
        self.sample()

    def stop(self) -> None:
        self._done.set()
        self.join()


def heap_pools(spark) -> list:
    """The driver JVM's heap memory pools (young, survivor, old)."""
    factory = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in factory.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat", encoding="utf-8") as fh:
        values = [int(x) for x in fh.readline().split()[1:]]
    # guest time is already counted in user time
    return values[7], sum(values[:8])


def generated_parts(inputs: str) -> int | None:
    """Part files per table of a generated input set (None if unfinished)."""
    try:
        with open(os.path.join(inputs, "manifest.json"), encoding="utf-8") as fh:
            return json.load(fh)["parts"]
    except (OSError, ValueError, KeyError):
        return None


def ensure_inputs(workload: str, seed: int) -> str:
    """Generated inputs for (workload, seed), built once per checkout and
    keyed by the generator's content, which fixes the sizes. A set
    generated under another CPU affinity (another part count) is
    generated again."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    base = os.path.join(WORK, "inputs")
    out = os.path.join(base, f"{workload}-{seed}-{version}")
    if generated_parts(out) != nproc():
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--out", out],
            check=True,
        )
    os.utime(out)
    cached = sorted(
        (os.path.join(base, d) for d in os.listdir(base) if not d.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for old in cached[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return os.path.abspath(out)


def stop_engine(spark) -> None:
    """Stop the session, end the driver JVM and wait for every process
    it started (the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def drive(wl, tracer, first: int, seconds: float | None = None):
    """Closed loop from operation ``first``. Untimed (``seconds`` None) it
    runs the workload's ``settle_ops`` operations; timed, it runs until
    ``seconds`` of operation time have passed and at least ``min_ops``
    operations ran, and ends on a whole round (a registry workload's round
    is one pass over its queries, so every run times the same query mix).
    Returns (latencies, failed, next index)."""
    timed = seconds is not None
    latencies: list[float] = []
    failed = 0
    i = first

    def more() -> bool:
        if not timed:
            return i - first < wl.settle_ops
        n = i - first
        return sum(latencies) < seconds or n < wl.min_ops or n % wl.round != 0

    while i < wl.capacity and more():
        wl.before_op(i)
        with tracer.span(f"op{i}", "bench", "op") if timed else nullcontext():
            start = time.perf_counter()
            try:
                wl.op(i)
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                failed += 1
                traceback.print_exc()
            latencies.append(time.perf_counter() - start)
        try:
            wl.after_op(i)
        except Exception:  # noqa: BLE001 - bookkeeping failure fails the operation
            failed += 1
            traceback.print_exc()
        i += 1
    return latencies, failed, i


def run(args, inputs: str, work: str) -> dict:
    from perfbench.stats import median
    from perfbench.trace import Tracer

    trace = bool(args.trace)
    cpus = nproc()
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # the JVM spark-submit starts to build the driver's command line
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )
    conf = {
        # direct buffers are freed only when a GC collects their owners;
        # a cap makes the JVM collect them before resident memory
        # doubles. With the heap committed up front, peak memory moves
        # with what the engine holds off the heap; what it holds on the
        # heap shows in ``jvm_heap_peak_mb``
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -XX:MaxDirectMemorySize={DIRECT_MEM} -Xms{DRIVER_MEM} "
            f"-Djava.io.tmpdir={work}/tmp"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    tracer = Tracer(enabled=trace)

    t0 = time.perf_counter()
    from spark_etl_pipeline_spark.session import get_spark

    with tracer.span("get_spark", "session", "get_spark"):
        spark = get_spark("perfbench", extra_conf=conf)
    try:
        if trace:
            tracer.sc = spark.sparkContext
        wl = WORKLOADS[args.workload](spark, inputs, work, args.seed, tracer)
        if trace and hasattr(wl, "listener"):
            from perfbench.trace import ProgressListener

            wl.listener = ProgressListener()
            spark.streams.addListener(wl.listener)
        with tracer.span("warmup", "session", "warmup"):
            wl.warmup()
        setup_s = time.perf_counter() - t0
        wl.check_warmup()

        marks = {"setup": setup_s}
        settle, settle_failed, first = drive(wl, tracer, 0)
        marks["settle"] = time.perf_counter() - t0
        pools = heap_pools(spark)
        for pool in pools:
            pool.resetPeakUsage()
        memory = MemorySampler(os.getpid())
        memory.start()
        cpu0, host0 = cpu_seconds(os.getpid()), host_ticks()
        try:
            latencies, failed_ops, _ = drive(wl, tracer, first, args.seconds)
        finally:
            memory.stop()
        cpu1, host1 = cpu_seconds(os.getpid()), host_ticks()
        # the sum of each pool's peak: an upper bound of the heap's peak
        heap_peak_mb = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
        marks["timed"] = time.perf_counter() - t0
        probe = wl.probe() if trace else {}
        wl.check()
        extra = wl.extra(latencies)
        marks["checks"] = time.perf_counter() - t0
    finally:
        stop_engine(spark)
    marks["stop"] = time.perf_counter() - t0

    ok = len(latencies) - failed_ops
    attempted = len(settle) + len(latencies) + wl.checks
    failed = settle_failed + failed_ops + len(wl.check_failures)
    end_to_end = {
        "setup_s": setup_s,
        "latency_s_p50": median(latencies),
        "ops_per_s": ok / sum(latencies),
        "peak_rss_mb": memory.peak_mb,
        "cpu_s_per_op": (cpu1 - cpu0 - memory.cpu_s) / len(latencies),
        "jvm_heap_peak_mb": heap_peak_mb,
    }
    named = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (end_to_end["peak_rss_mb"], "MB"),
        "failed_ratio": (failed / attempted, "ratio"),
        **extra,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "nproc": cpus,
        "operations": len(latencies),
        "latencies_s": [round(x, 4) for x in latencies],
        "failed_operations": failed_ops,
        "checks": wl.checks,
        "check_failures": wl.check_failures,
        "inputs": {
            "rows": sum(t["rows"] for t in wl.manifest.values()),
            "bytes": sum(t["bytes"] for t in wl.manifest.values()),
            "files": sum(t["files"] for t in wl.manifest.values()),
        },
        "metrics": {
            k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
            for k, v in named.items()
        },
        "end_to_end": end_to_end,
        "peak_rss_by_process_mb": memory.peak_by_process,
        "memory_sampler_cpu_s": memory.cpu_s,
        "settle_operations": len(settle),
        # seconds since the set-up clock started at the end of each phase
        "phase_ends_s": marks,
        # share of the host's CPU time the hypervisor gave to other guests
        # during the timed loop: high values explain slow wall times
        "timed_steal_share": (host1[0] - host0[0]) / max(1, host1[1] - host0[1]),
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if trace:
        from perfbench.layers import RESULT_METRICS, layer_metrics
        from perfbench.trace import read_event_log, reduce_event_log

        stats = reduce_event_log(read_event_log(os.path.join(work, "eventlog")), tracer.spans)
        # the listener's progress per operation, without the settle ones
        progress = getattr(wl, "progress", [])[len(settle):]
        probe["session.jvm_heap_peak_mb"] = heap_peak_mb
        layers = layer_metrics(tracer.spans, stats, cpus, latencies, progress, probe)
        report["per_layer"] = layers
        report["trace_overhead"] = trace_overhead(args.workload, end_to_end)
        result["metrics"] = {
            name: {"value": layers[name], "unit": unit}
            for name, unit, _ in RESULT_METRICS
        }
    else:
        save_untraced(args.workload, end_to_end)
        result["metrics"] = {
            name: {"value": end_to_end[name], "unit": unit} for name, unit in END_TO_END
        }
    return {"report": report, "result": result}


def _results_path(workload: str) -> str:
    return os.path.join(WORK, "results", f"{workload}.json")


def save_untraced(workload: str, e2e: dict) -> None:
    """Keep the newest untraced end-to-end figures for the overhead
    comparison of a later traced run."""
    path = _results_path(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(e2e, fh)


def trace_overhead(workload: str, traced: dict) -> dict:
    """Traced minus untraced end-to-end figures, as a share of the
    untraced ones, against the newest untraced run of this workload in
    this checkout (empty when there was none)."""
    try:
        with open(_results_path(workload), encoding="utf-8") as fh:
            base = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return {}
    return {
        k: (traced[k] - base[k]) / base[k] for k in ("setup_s", "latency_s_p50") if base.get(k)
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "spark_etl_pipeline_spark", "session.py"))
        and os.path.isfile(os.path.join(root, "tools", "rehearse_gate.py"))
    ):
        print(
            "perfbench: run from the root of a checkout of the repository "
            "(spark_etl_pipeline_spark/ and tools/ are missing here)",
            file=sys.stderr,
        )
        return 2
    inputs = ensure_inputs(args.workload, args.seed)
    work = os.path.abspath(os.path.join(WORK, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = run(args, inputs, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["report"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
