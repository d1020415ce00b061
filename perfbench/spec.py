"""Pure helpers shared by the benchmark's parent and child processes: the
metric table, the percentile rules and the seeded input generator. No
Spark here, so the benchmark's own tests run without a JVM."""

from __future__ import annotations

import json
import statistics
from datetime import datetime, timezone

WORKLOADS = ("registry_sweep", "unify_live")

# name -> unit. Every workload prints every end-to-end metric (--trace 0);
# the meaning of throughput_per_s per workload is in README.md.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "cpu_s": "cpu-s",
    "throughput_per_s": "1/s",
    "memory_mb": "MB",
}

# name -> unit, printed by a traced run (--trace 1). A layer that a
# workload bypasses reads 0 there.
PER_LAYER = {
    "session.start_s": "s",
    "session.jit_s": "s",
    "session.jit_ops_s": "s",
    "session.jit_cpu_s": "cpu-s",
    "session.gc_s": "s",
    "session.heap_peak_mb": "MB",
    "session.persisted_rdds": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.plan_analysis_ms": "ms",
    "registry.plan_optimization_ms": "ms",
    "registry.plan_planning_ms": "ms",
    "registry.exec_s": "s",
    "registry.exec_jobs": "count",
    "registry.stages": "count",
    "registry.tasks": "count",
    "registry.task_cpu_s": "cpu-s",
    "registry.shuffle_read_bytes": "bytes",
    "registry.shuffle_write_bytes": "bytes",
    "fastworker.cpu_s": "cpu-s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_rows_removed": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.emit_wait_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.discovery_lag_s": "s",
    "sinks.foreach_batch_s": "s",
    "app.n_records": "count",
    "app.n_corrupt": "count",
    "live.gen_late_max_s": "s",
    "live.engine_cpu_s": "cpu-s",
    "host.calibration_cpu_s": "s",
    "host.calibration_mem_s": "s",
    "host.steal_s": "s",
    "trace.op_p50_s": "s",
}

# The reference's buffer: a projection waits this long after its first event.
BUFFER_MS = 5000
# unify_live: lifecycles made visible per second, one file per second.
LIVE_RATE = 20


def op_summary(ops: list[float]) -> dict:
    """Median and tail of a list of op times. The tail is the highest
    sample with at least ten samples beyond it. Below 21 ops that sample
    is at or under the median, so the tail is the 90th percentile (nearest
    rank) instead. ``tail_quantile`` says which quantile the tail is,
    ``tail_beyond`` how many samples exceed its rank."""
    xs = sorted(ops)
    n = len(xs)
    k = n - 11 if n >= 21 else round(0.9 * (n - 1))
    return {
        "op_p50_s": statistics.median(xs),
        "op_tail_s": xs[k],
        "tail_quantile": round(k / (n - 1), 3) if n > 1 else 1.0,
        "tail_beyond": n - 1 - k,
        "n_ops": n,
    }


# ---------------------------------------------------------------------------
# Seeded order input, in the reference producer's shape
# ---------------------------------------------------------------------------

BASE_MS = 1_700_000_000_000


def _iso(ms: int) -> str:
    dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def wire_value(e: dict) -> str:
    """Kafka-wire JSON of one event; ``order_details`` stays raw and last,
    as the reference's @JsonPropertyOrder pins it."""
    head = json.dumps(
        {
            "order-id": e["order_id"],
            "type": e["type"],
            "timestamp": _iso(e["timestamp_ms"]),
        },
        separators=(",", ":"),
    )
    return head[:-1] + ',"order_details":' + e["order_details"] + "}"


def lifecycles(n: int, seed: int, start_ms: int = BASE_MS) -> list[list[dict]]:
    """``n`` order lifecycles in time order, each a list of its published
    events. Even lifecycles come from a duplicate-injection run, odd ones
    from a missing-event-injection run, offset by half a second so the two
    interleave in event time without overlapping."""
    from kafka_stream_unify_order_messages_spark.sources.generator import (
        generate_order_events,
    )

    dup = generate_order_events(
        (n + 1) // 2, seed=2 * seed, duplicate_probability=0.3,
        base_ms=start_ms,
    )
    miss = generate_order_events(
        n // 2, seed=2 * seed + 1, missing_probability=0.3,
        base_ms=start_ms + 500,
    )
    out = []
    for events in (dup, miss):
        by_id: dict[str, list[dict]] = {}
        for e in sorted(events, key=lambda e: e["arrival_seq"]):
            by_id.setdefault(e["order_id"], []).append(e)
        out.append(list(by_id.values()))
    merged = [x for pair in zip(out[0], out[1]) for x in pair]
    merged.extend(out[0][len(out[1]):])
    return merged


def is_complete(lifecycle: list[dict]) -> bool:
    return {e["type"] for e in lifecycle} >= {"created", "placed", "cancelled"}
