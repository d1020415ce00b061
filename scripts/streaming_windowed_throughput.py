"""Streaming windowed-histogram throughput (streaming/windowed.py:
windowed_value_histogram): events/s through the event-time tumbling
histogram sketch, measured end-to-end (file source -> watermarked
window aggregation -> memory sink), with the emitted rows checked
row-for-row against the batch twin on the same input — the same
evidentiary standard as STREAMING_DEDUP.md gives the dedup stream
(the batch twin `windowed_histogram` is strict-oracled; this measures
the STREAMING leg and pins stream==batch on the measured corpus).

Harness shape: synthetic (event_id, ts, value) rows with monotone
event-time spanning ~2 hours, 1-minute windows, 30 s watermark. Files
are range-partitioned by id so arrival order tracks event time (no
late drops — parity with the batch twin stays exact). Append mode only
emits a window once the watermark passes its end, so after the real
input drains a far-future KICKER event closes the remaining windows
(the streaming_throughput.py event-time pattern); the kicker's own
1-row window is excluded from the parity compare on both sides.

**bulk** = all input in one micro-batch; **sustained** = ~10
micro-batches via maxFilesPerTrigger (per-batch state commits against
live window state — the steady-state profile). State is O(active
windows x bins), watermark-dropped, independent of event count — the
property that makes this sketch the 100 TB streaming-quantile answer.

Usage (options in stream_harness.py):
    python scripts/streaming_windowed_throughput.py  # writes STREAMING_WINDOWED.md/json
    python scripts/streaming_windowed_throughput.py --only events_in=50000
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

import pyspark.sql.functions as F

from stream_harness import (
    append_kicker,
    main,
    read,
    run_grouped,
    running,
    session,
    stage,
    state_rows,
)

from kafka_stream_unify_order_messages_spark.streaming.windowed import (
    windowed_value_histogram,
)

TIERS = [50_000, 100_000, 1_000_000]
N_FILES = 20
SPAN_SEC = 7200  # event time spans 2 hours -> 120 one-minute windows
SCHEMA = "event_id long, ts timestamp, value double"
BASE_TS = "2026-01-01 00:00:00"
KICKER_TS = datetime(2026, 6, 1, tzinfo=timezone.utc)  # closes every real window
KICKER = {"event_id": [-1], "ts": [KICKER_TS], "value": [0.5]}
FIELDS = {"events_in": None, "mode": None}
GRID = [
    {"events_in": n, "mode": mode}
    for n in TIERS
    for mode in ("bulk", "sustained")
]


def synth_events(spark, n: int):
    """Monotone event-time rows: ts = base + id * (span / n), value
    deterministic in [0, 1000) so every bin is populated."""
    step = SPAN_SEC / n
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit(BASE_TS))
            + F.make_dt_interval(
                F.lit(0), F.lit(0), F.lit(0), F.col("id") * F.lit(step)
            )
        ).alias("ts"),
        ((F.col("id") * 37 % 1000) + 0.5).cast("double").alias("value"),
    )


def _histogram(frame, **watermark):
    return windowed_value_histogram(
        frame, ts_col="ts", value_col="value",
        lo=0.0, hi=1000.0, n_bins=16, window="1 minute", **watermark,
    )


def _stage_events(spark, n: int, path: str) -> str:
    # range-partitioned by id, arriving in path order: file content
    # tracks event time, so the watermark never sees out-of-order
    # arrival and never drops a row — stream==batch stays exact
    return stage(synth_events(spark, n).repartitionByRange(N_FILES, "event_id"), path)


def run_cell(spark, cell: dict, src: str) -> dict:
    """One measured run; asserts the emitted sketch rows match the batch
    twin row for row (the kicker's own window excluded)."""
    n, mode = cell["events_in"], cell["mode"]
    name = f"wtp_{mode}_{n}"
    stream = read(spark, src, SCHEMA, N_FILES // 10 if mode == "sustained" else None)
    with running(_histogram(stream, watermark_delay="30 seconds"), name, src=src) as q:
        t0 = time.time()
        q.processAllAvailable()  # drain the real input
        # close remaining windows: the kicker advances the watermark
        # past every real window end
        append_kicker(src, KICKER)
        q.processAllAvailable()
        elapsed = time.time() - t0
        got = (
            spark.table(name)
            .filter(F.col("window_start") < F.lit(KICKER_TS))
            .select("window_start", "window_end", "bin", "cnt")
        )
        want = _histogram(synth_events(spark, n))
        n_rows = got.count()
        n_want = want.count()
        n_match = got.join(
            want, ["window_start", "window_end", "bin", "cnt"]
        ).count()
        assert n_rows == n_want == n_match, (n_rows, n_want, n_match)
        final = state_rows(q.lastProgress)
    return {
        **cell,
        "elapsed_sec": round(elapsed, 2),
        "events_per_sec": round(n / elapsed),
        "sketch_rows_out": n_rows,
        "batch_twin_match": True,
        "state_rows_final": final,
    }


def run_cells(spark, cells: list[dict]) -> list[dict]:
    return run_grouped(spark, cells, lambda c: c["events_in"], _stage_events, run_cell)


def measure(cells: list[dict]) -> list[dict]:
    with session("streaming-windowed-throughput") as spark:
        return run_cells(spark, cells)


def render(records: list[dict], fresh: list[dict]) -> str:
    lines = [
        "# STREAMING_WINDOWED — measured windowed-histogram stream throughput",
        "",
        "The STREAMING leg of the mergeable histogram quantile sketch",
        "(streaming/windowed.py:windowed_value_histogram; batch twin",
        "`windowed_histogram` is strict-oracled): event-time 1-minute",
        "tumbling windows, 16 fixed-bounds bins, 30 s watermark, measured",
        "end-to-end (file source -> watermarked window agg -> memory",
        "sink) on local[32]. Every run's emitted sketch rows are checked",
        "ROW-FOR-ROW against the batch twin on the same input (the",
        "`batch_twin_match` column is an assertion, not a claim).",
        "**bulk** = one micro-batch; **sustained** = ~10 micro-batches",
        "(per-batch commits against live window state). State is",
        "O(active windows x bins) — watermark-dropped, independent of",
        "event count.",
        "",
        "| events | mode | elapsed | events/s | sketch rows out "
        "| == batch twin | state rows final |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in records:
        lines.append(
            f"| {r['events_in']:,} | {r['mode']} | {r['elapsed_sec']} s "
            f"| {r['events_per_sec']:,} | {r['sketch_rows_out']:,} "
            f"| {'yes' if r['batch_twin_match'] else 'NO'} "
            f"| {r['state_rows_final']} |"
        )
    bulk = {
        r["events_in"]: r["events_per_sec"]
        for r in records
        if r["mode"] == "bulk"
    }
    tiers = sorted(bulk)
    if len(tiers) >= 2:
        lo, hi = tiers[0], tiers[-1]
        lines += [
            "",
            f"Bulk throughput at {hi:,} events is "
            f"{bulk[hi] / bulk[lo]:.1f}x the {lo:,}-event rate across a "
            f"{hi // lo}x ramp — per-event cost falls as micro-batch "
            "overhead amortizes; the aggregation state term is constant "
            "(bins x active windows, both fixed here).",
        ]
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main("STREAMING_WINDOWED", GRID, FIELDS, measure, render)
