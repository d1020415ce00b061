"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload registry_sweep --seed 1 --seconds 20 --trace 0

Each run sets up and measures in one fresh child process (child.py) with
its own temp, Spark local, source and checkpoint directories under
``.perfbench/`` in the checkout. They are removed when the run ends, and
the run does not return until the child's whole process tree (Python, JVM,
Python workers) has exited, so no teardown overlaps the next run's set-up. The last line of stdout is the result JSON; with ``--trace 1`` it
holds the per-layer metrics and the spans go to ``.perfbench/traces/``.
README.md says what each workload is for.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

import spec  # noqa: E402

CHILD_TIMEOUT_S = 150  # the child's budget, set-up included


def session_pids(sid: int) -> list[tuple[int, str]]:
    """(pid, state) of every process in session ``sid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out.append((int(entry), fields[0]))
    return out


def tree_mem_mb(sid: int, field: str) -> dict[str, float]:
    """``field`` of /proc/<pid>/status (VmRSS, VmHWM) in MB for each of the
    session's processes, keyed by pid and command name."""
    out = {}
    for pid, _ in session_pids(sid):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if field in fields:
            name = fields["Name"].strip()
            out[f"{pid}:{name}"] = int(fields[field].split()[0]) / 1024
    return out


def python_rss_mb(sid: int) -> float:
    """Resident set of the session's Python processes: the driver, the
    worker daemon and its workers. (The JVM's short-lived forks report the
    JVM's own resident set, so counting every other process would count
    the JVM again.)"""
    return sum(mb for key, mb in tree_mem_mb(sid, "VmRSS").items()
               if key.split(":", 1)[1].startswith("python"))


def end_session(proc: subprocess.Popen) -> None:
    """Kill every process of the child's session and reap them all (this
    process is a child subreaper, so orphans come back here)."""
    for pid, _ in session_pids(proc.pid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.time() + 30
    while session_pids(proc.pid) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.02)
    if session_pids(proc.pid):
        raise RuntimeError("child processes outlived the kill")


def run_child(cfg: dict, run_dir: Path) -> dict:
    """Start the child, collect its messages, then end its process tree."""
    tmp = run_dir / "tmp"
    local = run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(local),
               PYTHONPATH=str(ROOT), PYTHONUNBUFFERED="1")
    log = open(run_dir / "child.log", "w")
    t_spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "child.py"), json.dumps(cfg)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log,
        cwd=run_dir, env=env, start_new_session=True, text=True,
    )
    lines: queue.Queue = queue.Queue()

    def pump() -> None:
        for line in proc.stdout:
            lines.put(line)
        lines.put(None)

    # Python workers come and go during a run, so a reading at the end
    # would miss some: sample their sum and keep its peak
    peak_mb = [0.0]
    done = threading.Event()

    def sample() -> None:
        while not done.wait(0.25):
            peak_mb[0] = max(peak_mb[0], python_rss_mb(proc.pid))

    threading.Thread(target=pump, daemon=True).start()
    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    got: dict = {}
    deadline = t_spawn + CHILD_TIMEOUT_S
    try:
        while "result" not in got:
            line = lines.get(timeout=max(0.1, deadline - time.time()))
            if line is None:
                break
            if line.startswith("@@ "):
                got.update(json.loads(line[3:]))
        if "result" in got:
            got["result"]["rss_mb"] = tree_mem_mb(proc.pid, "VmHWM")
    except queue.Empty:
        pass
    finally:
        done.set()
        sampler.join()
        end_session(proc)
        log.close()
    if "result" not in got or "setup_done" not in got:
        tail = (run_dir / "child.log").read_text()[-3000:]
        raise RuntimeError(f"the benchmark child failed:\n{tail}")
    res = got["result"]
    res["setup_s"] = got["setup_done"] - t_spawn
    res["python_peak_mb"] = peak_mb[0]
    return res


def memory_mb(r: dict) -> float:
    """What the run holds in memory: the peak resident set of the Python
    processes (the driver and its workers, summed per sample), plus the JVM's live heap after full GCs at the end of the
    ops, its non-heap pools and its buffers. The JVM's resident set is
    left out: under the default 8 GB heap cap, how far G1 grows the heap
    before collecting differs between identical runs (JMX heap peaks of
    1.6-3.6 GB over five registry_sweep runs)."""
    jvm = r["jvm_mb"]
    return r["python_peak_mb"] + jvm["heap_live"] + jvm["off_heap"]


def layer_values(layers: dict) -> dict[str, float]:
    """Per-layer metrics from the child's values: a list (one value per op,
    batch, order or file) reads as its median, a number as it is, and a
    layer the workload bypasses as 0."""
    out = {}
    for name in spec.PER_LAYER:
        v = layers.get(name, 0)
        out[name] = (statistics.median(v) if v else 0) if isinstance(v, list) else v
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "kafka_stream_unify_order_messages_spark").is_dir():
        print("perfbench: the package is not in this checkout",
              file=sys.stderr)
        return 2
    # orphaned JVMs and Python workers re-parent to this process, so it
    # can wait for them (PR_SET_CHILD_SUBREAPER); a SIGTERM unwinds
    # through run_child's cleanup like any other failure
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, str(ROOT))
    import bench

    calibration = bench.calibration_cpu()
    run_dir = OUT / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    traces = OUT / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    cfg = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace),
        "trace_path": str(traces / f"{args.workload}-{args.seed}.json"),
    }
    try:
        r = run_child(cfg, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    summary = spec.op_summary(r["ops"])
    e2e = {
        "setup_s": r["setup_s"],
        "op_p50_s": summary["op_p50_s"],
        "op_tail_s": summary["op_tail_s"],
        "cpu_s": r["cpu_s"],
        "throughput_per_s": r["work"] / r["work_s"],
        "memory_mb": memory_mb(r),
    }
    layers = layer_values(r["layers"])
    layers["host.calibration_cpu_s"] = calibration["cpu_bound"]
    layers["host.calibration_mem_s"] = calibration["mem_bound"]
    layers["trace.op_p50_s"] = summary["op_p50_s"]
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "calibration": calibration, "summary": summary,
        "attempted": r["attempted"], "failed": r["failed"],
        "info": r["info"], "rss_mb": r["rss_mb"],
        "jvm_mb": r["jvm_mb"], "e2e": e2e,
        "layers": layers,
    }
    (OUT / f"last-{args.workload}-{args.seed}-trace{args.trace}.json"
     ).write_text(json.dumps(record, indent=1))
    print(json.dumps({k: record[k] for k in ("calibration", "summary", "info")}),
          file=sys.stderr)

    table = spec.PER_LAYER if args.trace else spec.END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in table.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
