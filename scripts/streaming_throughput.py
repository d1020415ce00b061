"""Streaming-throughput ramp for the unify topology (the reference's
headline workload): events/s in and projections/s out, measured
end-to-end through the REAL streaming path (file source ->
applyInPandasWithState -> memory sink) at 6k / 60k / 600k events.

Two arrival profiles per tier:

- **bulk** — all input visible at start, one micro-batch: the replay /
  backfill profile; measures raw pipeline throughput (stateful shuffle +
  Arrow + per-key merge) with one state-store commit.
- **sustained** — `maxFilesPerTrigger` slices the same input into ~10
  micro-batches: the steady-state profile; includes per-batch state
  commits and scheduling, the realistic cost of continuous ingestion.

Two harness choices below fall straight out of the reference's
semantics (faithfully kept by `make_unify_fn`): an order's projection
is emitted AT BUFFER EXPIRY — the punctuator path — and the
completeness gate silently DROPS buffers still incomplete at that
moment. So (a) the buffer is pure added wall-clock in this harness
(every projection waits buffer_ms after its first event): it is set to
1 s, which preserves the reference's design rule (buffer >> one
order's arrival spread) because input files are LIFECYCLE-ALIGNED time
slices — all 3 events of an order always arrive in the same
micro-batch, spread ~0. And (b) that alignment is load-bearing:
randomly-ordered files scatter an order's events across ~20 s of
micro-batches, the 1 s buffer expires in between, and the gate
(correctly) drops nearly every order — measured before this harness
aligned its input. Real deployments size the buffer to arrival spread
(the reference: 5 s vs <= 200 ms); the harness does the same.

Context (BASELINE.md): the reference's demo generator drives ~3
events/s in / ~1 projection/s out with a 1-thread Kafka Streams
topology; it publishes no engine-limit numbers. These measurements back
the throughput-parity claim with the repo's own scaling evidence: the
per-event cost must stay flat as N grows 100x (state keys grow with
concurrent lifecycles, but each key holds <= 3 events).

Usage (options in stream_harness.py):
    python scripts/streaming_throughput.py        # writes STREAMING.md/json
    python scripts/streaming_throughput.py --only lifecycles=2000,semantics=tws-event

Keep the machine otherwise idle; each tier runs once (streaming wall
clock is already an average over thousands of per-event costs, so
best-of-N adds little here).
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F

from stream_harness import (
    ROOT,
    append_kicker,
    drain,
    main,
    read,
    run_grouped,
    running,
    session,
    set_state_store,
    stage,
)

from kafka_stream_unify_order_messages_spark.sources.generator import (
    generate_order_events_distributed,
)
from kafka_stream_unify_order_messages_spark.streaming import (
    unify_stream,
    unify_stream_event_time,
)
from kafka_stream_unify_order_messages_spark.streaming.unify_tws import (
    unify_stream_tws,
    unify_stream_tws_event_time,
)

TIERS = [2_000, 20_000, 200_000]  # lifecycles; x3 = events in
N_FILES = 30  # input parquet files per tier; sustained = 3 per trigger
COLS = ("order_id", "type", "timestamp", "order_details")
SCHEMA = ", ".join(f"{c} string" for c in COLS)
# v1 and v2 (transformWithState, RocksDB only) topologies, processing-
# and event-time, each with the state stores it is measured under
FAMILIES = {
    "event": ("hdfs",),
    "processing": ("hdfs", "rocksdb"),
    "tws": ("rocksdb",),
    "tws-event": ("rocksdb",),
}
FIELDS = dict.fromkeys(("lifecycles", "mode", "store", "semantics"))
GRID = [
    {"lifecycles": n, "mode": mode, "store": store, "semantics": sem}
    for n in TIERS
    for sem, stores in FAMILIES.items()
    for mode in ("bulk", "sustained")
    for store in stores
]
# one lonely far-future event: the event-time topologies close buffers
# by watermark, so it flushes the final windows; its own incomplete
# order is dropped by the completeness gate
KICKER = {
    "order_id": ["kicker"],
    "type": ["created"],
    "timestamp": ["2099-01-01T00:00:00.000Z"],
    "order_details": ["{}"],
}


def stage_orders(spark, n_lifecycles: int, path: str) -> str:
    """Lifecycle-aligned time slices in arrival order. The generator
    spaces lifecycles 1 s apart and keeps intra-order gaps <= 200 ms, so
    the event-time SECOND identifies the lifecycle: range-partitioning on
    it means no order spans two files. Arrival order is pinned because
    sustained batches would otherwise arrive in arbitrary listing order,
    fatal for the event-time topologies (round-11 finding: tws-event
    sustained froze at 467/2000 until pinned)."""
    slices = (
        generate_order_events_distributed(spark, n_lifecycles)
        .select(*COLS)
        .withColumn(
            "slice",
            (F.unix_millis(F.to_timestamp("timestamp")) / 1000).cast("long"),
        )
        .repartitionByRange(N_FILES, "slice")
        .drop("slice")
    )
    return stage(slices, path)


def _topology(stream, semantics: str):
    # 1 s buffer: emission happens AT expiry (reference punctuator
    # semantics), so buffer_ms is a per-order latency floor, not a
    # throughput knob; lifecycle-aligned input files keep every order's
    # arrival spread at ~0, satisfying the buffer >> spread rule.
    if semantics == "event":
        return unify_stream_event_time(
            stream, buffer_ms=1000, watermark_delay="2 seconds"
        )
    if semantics == "tws":
        return unify_stream_tws(stream, buffer_ms=1000)
    if semantics == "tws-event":
        return unify_stream_tws_event_time(
            stream, buffer_ms=1000, watermark_delay="2 seconds"
        )
    return unify_stream(stream, buffer_ms=1000)


def run_cell(spark, cell: dict, src: str) -> dict:
    """One measured streaming run; returns the record. The event-time
    semantics get the kicker once all real input is ingested."""
    n = cell["lifecycles"]
    semantics = cell["semantics"]
    # view names reject '-' (tws-event)
    name = "tp_" + "_".join(str(v) for v in cell.values()).replace("-", "_")
    set_state_store(spark, cell["store"])
    stream = read(
        spark, src, SCHEMA,
        N_FILES // 10 if cell["mode"] == "sustained" else None,
    )
    n_events = n * 3
    t_ingested = None  # end of the last real-input micro-batch
    t0 = time.time()

    def watch_ingest() -> None:
        nonlocal t_ingested
        if t_ingested is None and sum(
            p.numInputRows for p in q.recentProgress
        ) >= n_events:
            # all real input admitted AND processed (progress is
            # reported at batch completion): steady state ends here;
            # what remains is the drain — the buffer/watermark-driven
            # flush of the final windows (plus the kicker batch)
            t_ingested = time.time()
            if semantics in ("event", "tws-event"):
                append_kicker(src, KICKER)

    with running(_topology(stream, semantics), name, src=src) as q:
        done = drain(
            q, lambda: spark.table(name).count() >= n,
            timeout_s=900, between=watch_ingest,
        )
        elapsed = time.time() - t0
        if not done:
            raise SystemExit(
                f"{name}: only {spark.table(name).count()}/{n} projections "
                f"after {elapsed:.0f}s"
            )
    rec = {
        **cell,
        "events_in": n_events,
        "elapsed_sec": round(elapsed, 2),
        "events_per_sec": round(n_events / elapsed),
        "projections_per_sec": round(n / elapsed),
    }
    if t_ingested is not None:
        # split the fixed drain tail out of the rate: at small tiers the
        # tail (a buffer/kicker flush, independent of N) dominates the
        # whole-elapsed rate and distorts tier-to-tier comparisons —
        # steady_events_per_sec is the per-event cost the tail-free
        # steady state actually pays (it still includes one-off stream
        # startup, so the smallest tier remains conservative)
        ingest = max(t_ingested - t0, 1e-9)
        rec["ingest_sec"] = round(ingest, 2)
        rec["drain_sec"] = round(elapsed - ingest, 2)
        rec["steady_events_per_sec"] = round(n_events / ingest)
    return rec


def run_cells(spark, cells: list[dict]) -> list[dict]:
    """Each tier staged once; the warm-up is a bulk run of the first
    cell's processing-time twin (no kicker residue), same store."""
    first = cells[0]
    warm = {
        **first,
        "mode": "bulk",
        "semantics": "tws" if first["semantics"].startswith("tws")
        else "processing",
    }
    return run_grouped(
        spark, cells, lambda c: c["lifecycles"], stage_orders, run_cell,
        warm=warm,
    )


def measure(cells: list[dict]) -> list[dict]:
    with session("streaming-throughput") as spark:
        return run_cells(spark, cells)


def render(records: list[dict], fresh: list[dict]) -> str:
    lines = [
        "# STREAMING — measured unify-topology throughput",
        "",
        "End-to-end through the real streaming path (file source ->",
        "`unify_stream` applyInPandasWithState -> memory sink), local[32],",
        "1 s buffer, lifecycle-aligned time-sliced input files (in-order",
        "arrival, no order spans two micro-batches), every lifecycle",
        "complete. Projections emit AT buffer expiry (reference punctuator",
        "semantics), so buffer_ms is a fixed per-order latency, not part of",
        "the throughput story. **bulk** = whole input in one micro-batch (the",
        "replay/backfill profile, one state commit); **sustained** = the same",
        "input in ~10 micro-batches via maxFilesPerTrigger (steady-state",
        "profile, includes per-batch state commits). Reference context",
        "(BASELINE.md): the demo harness drives ~3 events/s; the reference",
        "publishes no engine-limit numbers, so the claim these numbers back",
        "is throughput headroom + flat per-event cost as N grows 100x.",
        "",
        "Every (mode x tier) cell runs under BOTH state-store providers:",
        "the HDFS-backed default and **RocksDB** — the reference's own",
        "store (OrderProjectionTopology.java:48-52) and the provider that",
        "survives 100 TB state (incremental changelog checkpointing, state",
        "off-heap). The **event-time variant** (`unify_stream_event_time`,",
        "watermark-closed buffers, replay-deterministic) measures per tier",
        "in bulk AND sustained modes (sustained requires in-order file",
        "arrival — see pin_file_arrival_order); its drain is driven by a",
        "far-future watermark-kicker event appended after all real input",
        "is ingested. The **tws**",
        "semantics rows are the v2 `transformWithStateInPandas` topology",
        "(`unify_stream_tws`, explicit per-key timers; RocksDB required;",
        "runtime-unblocked in round 10 by the pure-stdlib proto shim) —",
        "same lifecycle-aligned input, measured bulk + sustained.",
        "",
        "The last two columns split the FIXED final-window drain out of",
        "the rate: **steady ev/s in** = events / time-to-ingest-all-input",
        "(per-batch state commits included, drain excluded); **drain",
        "tail** = the remainder of elapsed — the buffer/watermark flush of",
        "the final windows (plus the kicker batch for event-time",
        "semantics), independent of N. At small tiers the tail dominates",
        "whole-elapsed rates (a ~10 s tail IS the 6k-event row), so",
        "tier-to-tier scaling reads off the steady column. '—' = row",
        "measured before the split existed.",
        "",
        "| lifecycles | events in | mode | state store | semantics | elapsed | events/s in | projections/s out | steady ev/s in | drain tail |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in records:
        steady = (
            f"{r['steady_events_per_sec']:,}"
            if "steady_events_per_sec" in r
            else "—"
        )
        drain = (
            f"{r['drain_sec']:.2f} s" if "drain_sec" in r else "—"
        )
        lines.append(
            f"| {r['lifecycles']:,} | {r['events_in']:,} | {r['mode']} "
            f"| {r['store']} | {r['semantics']} "
            f"| {r['elapsed_sec']:.2f} s | {r['events_per_sec']:,} "
            f"| {r['projections_per_sec']:,} | {steady} | {drain} |"
        )
    bulk = [
        r
        for r in records
        if r["mode"] == "bulk"
        and r["store"] == "hdfs"
        and r["semantics"] == "processing"
    ]
    if len(bulk) >= 2:
        lo, hi = bulk[0], bulk[-1]
        ratio = (hi["events_in"] / hi["elapsed_sec"]) / (
            lo["events_in"] / lo["elapsed_sec"]
        )
        lines += [
            "",
            f"Bulk throughput at {hi['events_in']:,} events is "
            f"{ratio:.1f}x the {lo['events_in']:,}-event rate — per-event "
            "cost falls as fixed micro-batch overhead amortizes; no "
            "super-linear state-store term (state per key is <= 3 events "
            "regardless of N).",
        ]
    # Preserve the hand-written analysis across regenerations: everything
    # from "## Narrative" onward in the committed STREAMING.md is carried
    # over verbatim, so a partial re-measure never ships a doc whose
    # analysis section points at itself.
    narrative = [
        "",
        "## Narrative",
        "",
        "(Analysis for the current grid goes here — written by the",
        "builder after reading the table; preserved verbatim by the",
        "next regeneration.)",
    ]
    md_path = ROOT / "STREAMING.md"
    if md_path.exists():
        old = md_path.read_text().splitlines()
        # match by prefix: the carried-over heading gains a staleness
        # stamp below, so exact-equality matching would find it once and
        # then never again
        idx = next(
            (i for i, ln in enumerate(old) if ln.startswith("## Narrative")),
            None,
        )
        if idx is not None:
            kept = old[idx:]
            # stop before the generated sibling-measurements footer so it
            # isn't duplicated on the next regeneration
            for i, ln in enumerate(kept):
                if ln.startswith("Sibling measurements:"):
                    kept = kept[:i]
                    break
            while kept and kept[-1] == "":
                kept.pop()
            # stamp the carried-over analysis when fresh numbers arrive,
            # so last round's prose can't ship as if it were written
            # against the new table; the stamp is removed (the bare
            # heading restored) after re-verifying
            if fresh:
                kept[0] = (
                    "## Narrative (carried over from a previous generation"
                    " — re-verify against the regenerated table above)"
                )
            narrative = [""] + kept
    lines += narrative
    lines += [
        "",
        "Sibling measurements: STREAMING_DEDUP.md (stateful near-dup",
        "dedup stream, TTL retention study) and STREAMING_WINDOWED.md",
        "(windowed-histogram sketch stream, row-for-row batch-twin",
        "parity).",
    ]
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    main("STREAMING", GRID, FIELDS, measure, render)
