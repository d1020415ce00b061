"""The measuring side of a benchmark run, in its own process: set up (session start,
input staging, an unmeasured warm-up), measure, check outputs, report.

The parent (run.py) starts this with a JSON config argument, reads
``@@ {...}`` lines from stdout, and kills the process tree once the result
line arrived. Messages:

- ``{"setup_done": t}`` — wall-clock instant set-up ended;
- ``{"result": {...}}`` — ops, counts and per-layer values of the run.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))


class Tracer:
    """In-memory spans (name, start, end, parent), written when the run
    ends. Disabled, it records nothing. The generator thread and Spark's
    foreachBatch callbacks add spans too, hence the lock."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.on:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.on:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()


class Context:
    """What every workload gets: its config, a tracer, the session, and
    the JVM probes read at layer boundaries."""

    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.trace = Tracer(cfg["trace"])
        self.tmp = Path(os.environ["TMPDIR"])
        self.spark = None
        self.layers: dict[str, float | list] = {}

    def send(self, **msg) -> None:
        sys.stdout.write("@@ " + json.dumps(msg) + "\n")
        sys.stdout.flush()

    def start_session(self, shuffle_partitions: int | None = None):
        from kafka_stream_unify_order_messages_spark import get_spark

        extra = {
            # keep the JVM's temp files inside the run directory; the heap
            # stays as the package sets it (spark.driver.memory)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        t0 = time.time()
        with self.trace.span("session.get_spark"):
            self.spark = get_spark(
                f"perfbench-{self.cfg['workload']}",
                master=f"local[{os.cpu_count()}]",
                shuffle_partitions=shuffle_partitions,
                extra_conf=extra,
            )
        self.layers["session.start_s"] = [time.time() - t0]
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def jmx(self) -> tuple[float, float]:
        """(JIT seconds, GC seconds) since JVM start."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        jit = mf.getCompilationMXBean().getTotalCompilationTime() / 1000
        gc = sum(
            b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()
        ) / 1000
        return jit, gc

    def jvm_memory(self) -> dict[str, float]:
        """JVM memory in MB, from JMX: ``heap_peak`` sums the heap pools'
        peak used size since JVM start; then, after full GCs,
        ``heap_live`` is the heap still in use and ``off_heap`` the
        non-heap pools (metaspace, code cache) plus direct and mapped
        buffers."""
        jvm = self.spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        peak = sum(
            p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
        )
        mem = mf.getMemoryMXBean()
        # a GC lets Spark's ContextCleaner drop the blocks of unreferenced
        # broadcasts and shuffles, which the next GC frees: repeat until the
        # live heap stops shrinking
        used = float("inf")
        for _ in range(5):
            mem.gc()
            before, used = used, mem.getHeapMemoryUsage().getUsed()
            if before - used < 2**20:
                break
            time.sleep(0.2)
        buffers = mf.getPlatformMXBeans(jvm.java.lang.Class.forName(
            "java.lang.management.BufferPoolMXBean"))
        off = mem.getNonHeapMemoryUsage().getUsed() + sum(
            b.getMemoryUsed() for b in buffers)
        mb = 2**20
        return {"heap_peak": peak / mb,
                "heap_live": used / mb,
                "off_heap": off / mb}

    def cpu(self, clock) -> tuple[float, float, float]:
        """(engine-tree CPU; its part outside the JVM's own threads, i.e.
        the Python workers, live and reaped; the JIT compiler threads'
        CPU), in seconds."""
        hz = os.sysconf("SC_CLK_TCK")
        total = clock.read()
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
        own = (int(parts[11]) + int(parts[12])) / hz
        jit = 0
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue  # thread ended mid-scan
            if "CompilerThre" in head:
                parts = tail.split()
                jit += int(parts[11]) + int(parts[12])
        return total, total - own, jit / hz

    def window(self):
        """Probe bracket around the measured ops: returns a closer that
        records JIT, GC, CPU and host steal deltas and gives the engine
        CPU."""
        from kafka_stream_unify_order_messages_spark.cpuclock import (
            EngineCpuClock,
        )

        clock = EngineCpuClock(self.spark)
        cpu0, py0, jc0 = self.cpu(clock)
        jit0, gc0 = self.jmx()
        steal0 = steal_s()
        self.layers["session.jit_s"] = [jit0]

        def close() -> float:
            cpu1, py1, jc1 = self.cpu(clock)
            jit1, gc1 = self.jmx()
            self.layers["host.steal_s"] = steal_s() - steal0
            self.layers["session.jit_ops_s"] = jit1 - jit0
            self.layers["session.jit_cpu_s"] = jc1 - jc0
            self.layers["session.gc_s"] = gc1 - gc0
            self.layers["fastworker.cpu_s"] = py1 - py0
            # after every timed reading: the probe runs a full GC
            self.memory = self.jvm_memory()
            self.layers["session.heap_peak_mb"] = self.memory["heap_peak"]
            return cpu1 - cpu0

        return close


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (/proc/stat): a diagnostic for co-tenant noise."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    cfg = json.loads(sys.argv[1])
    ctx = Context(cfg)
    workload = importlib.import_module(cfg["workload"])
    result = workload.run(ctx)
    result["layers"] = ctx.layers
    result["jvm_mb"] = ctx.memory
    if ctx.trace.on:
        out = Path(cfg["trace_path"])
        out.write_text(json.dumps(ctx.trace.spans))
    ctx.send(result=result)
    # the parent kills this process tree once it has the result
    sys.stdin.read()


if __name__ == "__main__":
    main()
