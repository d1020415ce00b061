"""Streaming parts of the benchmark: Kafka-wire input files, the
foreachBatch collector that stamps sink commits, and the per-layer numbers
read from streaming progress."""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from datetime import datetime, timezone
from pathlib import Path

import spec

# Spark keeps 100 progress records by default; a run needs all of them.
PROGRESS_KEPT = "10000"


def write_file(path: Path, lifecycles: list[list[dict]]) -> int:
    """One parquet file of Kafka-wire ``(value, topic)`` rows; returns the
    number of events written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = [e for lc in lifecycles for e in lc]
    pq.write_table(
        pa.table({
            "value": pa.array([spec.wire_value(e) for e in events], pa.string()),
            "topic": pa.array([e["topic"] for e in events], pa.string()),
        }),
        str(path),
    )
    return len(events)


class Collector:
    """foreachBatch sink: collects each batch's projections and stamps the
    instant the batch's sink work finished."""

    def __init__(self, trace):
        self.trace = trace
        self.rows: list[tuple[str, int, float]] = []  # (order_id, n_events, stamp)
        self.batch_s: list[tuple[int, float]] = []  # (batch_id, seconds)

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        got = batch_df.select("order_id", "n_events").collect()
        stamp = time.time()
        self.rows.extend((r.order_id, r.n_events, stamp) for r in got)
        self.batch_s.append((batch_id, stamp - t0))
        self.trace.add("sink.foreach_batch", t0, stamp, batch=batch_id,
                       rows=len(got))


def progress(q) -> list[dict]:
    return [json.loads(p.json()) for p in q._jsq.recentProgress()]


def batch_start(p: dict) -> float:
    dt = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def batch_end(p: dict) -> float:
    return batch_start(p) + p["durationMs"].get("triggerExecution", 0) / 1000


def wait_batch(q, batch_id: int, timeout: float) -> dict:
    """Block until micro-batch ``batch_id`` has completed; its progress."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception():
            raise RuntimeError(str(q.exception()))
        for p in progress(q):
            if p["batchId"] == batch_id:
                return p
        time.sleep(0.02)
    raise TimeoutError(f"micro-batch {batch_id} did not complete")


def files_of_batch(ckpt: Path, p: dict) -> list[str]:
    """Input files the micro-batch of progress ``p`` read: the file
    source's log entries between its start and end offsets, from the
    checkpoint (one JSON line per file after each entry's version line)."""
    src = p["sources"][0]
    end = (src.get("endOffset") or {}).get("logOffset", -1)
    start = (src.get("startOffset") or {}).get("logOffset", -1)
    files = []
    for entry in range(start + 1, end + 1):
        lines = (ckpt / "sources" / "0" / str(entry)).read_text().splitlines()
        files.extend(os.path.basename(json.loads(x)["path"]) for x in lines[1:])
    return files


def layers(progs: list[dict], collector: Collector, trace) -> dict:
    """Per-layer values from the measured batches' progress records."""
    d = {k: [] for k in ("triggerExecution", "queryPlanning", "addBatch",
                         "walCommit", "commitOffsets", "latestOffset",
                         "getBatch")}
    commit_ms, updated, removed, mem, total = [], 0, 0, [0], [0]
    for p in progs:
        for k in d:
            d[k].append(p["durationMs"].get(k, 0))
        for op in p.get("stateOperators", [])[:1]:
            commit_ms.append(op.get("commitTimeMs", 0))
            updated += op.get("numRowsUpdated", 0)
            removed += op.get("numRowsRemoved", 0)
            mem.append(op.get("memoryUsedBytes", 0))
            total = [op.get("numRowsTotal", 0)]
        if trace.on:
            start = batch_start(p)
            sid = trace.add("streaming.batch", start, batch_end(p),
                            batch=p["batchId"], rows=p["numInputRows"])
            for k, ms in p["durationMs"].items():
                if k != "triggerExecution":
                    # progress gives phase durations, not their offsets
                    trace.add(f"streaming.{k}", start, start + ms / 1000, sid)
    ids = {p["batchId"] for p in progs}
    return {
        "streaming.batches": len(progs),
        "streaming.trigger_ms": d["triggerExecution"],
        "streaming.query_planning_ms": d["queryPlanning"],
        "streaming.add_batch_ms": d["addBatch"],
        "streaming.wal_commit_ms": d["walCommit"],
        "streaming.commit_ms": d["commitOffsets"],
        "streaming.state_commit_ms": commit_ms,
        "streaming.state_rows_total": total,
        "streaming.state_rows_updated": updated,
        "streaming.state_rows_removed": removed,
        "streaming.state_memory_bytes": [max(mem)],
        "sources.latest_offset_ms": d["latestOffset"],
        "sources.get_batch_ms": d["getBatch"],
        "sinks.foreach_batch_s": [s for b, s in collector.batch_s if b in ids],
    }


def observed(progs: list[dict]) -> tuple[int, int]:
    """(n_records, n_corrupt) summed over the ``unify_source`` observation."""
    n = c = 0
    for p in progs:
        m = p.get("observedMetrics", {}).get("unify_source", {})
        n += int(m.get("n_records") or 0)
        c += int(m.get("n_corrupt") or 0)
    return n, c


def check_emitted(rows, complete: set[str]) -> int:
    """Wrong outcomes: each missing or extra copy of a complete order's
    projection, each projection without all three events, and each
    projection of any other order."""
    counts = Counter(order_id for order_id, _, _ in rows)
    bad = sum(abs(counts[o] - 1) for o in complete)
    bad += sum(1 for o, n, _ in rows if o in complete and n != 3)
    bad += sum(c for o, c in counts.items() if o not in complete)
    return bad
