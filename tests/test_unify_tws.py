"""transformWithStateInPandas unification (streaming/unify_tws.py): same
two-layer strategy as test_unify_stream.py —

1. Processor-level tests with fake handle/state/timer objects: fully
   deterministic, covering the wall-clock-racy paths (stale-flush +
   timer cancellation) that can't be pinned end-to-end. The semantics
   all four topologies share are checked once, for every adapter, by the
   shared spec in test_properties.py; the tests here pin the TWS side
   (timers, the stale-timer guard, event-time deadlines).
2. One end-to-end run (file source -> TWS -> memory sink) under the
   RocksDB state store provider TWS requires, polling the sink with a
   deadline (processing-time mode never quiesces).
"""

from __future__ import annotations

import importlib.util
import json
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafka_stream_unify_order_messages_spark.streaming.proto_shim import (
    tws_available,
)
from kafka_stream_unify_order_messages_spark.streaming.unify_tws import (
    OrderUnifyEventProcessor,
    OrderUnifyProcessor,
    unify_stream_tws,
    unify_stream_tws_event_time,
)

COLS = ["order_id", "type", "timestamp", "order_details"]
SCHEMA = "order_id string, type string, timestamp string, order_details string"
BUFFER_MS = 1500


def ev(order_id, etype, seq=0, details=None):
    return (
        order_id,
        etype,
        f"2026-01-01T00:00:{seq:02d}.000Z",
        details or json.dumps({"seq": seq}),
    )


# ---------------------------------------------------------------------------
# Layer 1: deterministic processor-level tests
# ---------------------------------------------------------------------------


class FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class FakeHandle:
    def __init__(self):
        self.state = FakeValueState()
        self.timers: list[int] = []
        self.deleted: list[int] = []

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.state

    def registerTimer(self, ms):
        self.timers.append(ms)

    def deleteTimer(self, ms):
        self.deleted.append(ms)
        if ms in self.timers:
            self.timers.remove(ms)


class FakeTimerValues:
    def __init__(self, now_ms):
        self.now_ms = now_ms

    def getCurrentProcessingTimeInMs(self):
        return self.now_ms

    def getCurrentWatermarkInMs(self):
        return -1


class FakeExpiredTimer:
    def __init__(self, expiry_ms):
        self.expiry_ms = expiry_ms

    def getExpiryTimeInMs(self):
        return self.expiry_ms


def make_proc(buffer_ms=5000):
    proc = OrderUnifyProcessor(buffer_ms=buffer_ms)
    handle = FakeHandle()
    proc.init(handle)
    return proc, handle


def feed(proc, order_id, rows, now_ms):
    pdfs = iter([pd.DataFrame(rows, columns=COLS)]) if rows else iter([])
    out = list(proc.handleInputRows((order_id,), pdfs, FakeTimerValues(now_ms)))
    return (
        pd.concat(out)
        if out
        else pd.DataFrame(columns=["order_id", "n_events", "payload"])
    )


def expire(proc, order_id, expiry_ms, now_ms=None):
    out = list(
        proc.handleExpiredTimer(
            (order_id,),
            FakeTimerValues(now_ms if now_ms is not None else expiry_ms),
            FakeExpiredTimer(expiry_ms),
        )
    )
    return (
        pd.concat(out)
        if out
        else pd.DataFrame(columns=["order_id", "n_events", "payload"])
    )


def payloads(df):
    return {r.order_id: json.loads(r.payload) for r in df.itertuples()}


def test_proc_first_event_registers_timer_at_deadline():
    proc, handle = make_proc(buffer_ms=5000)
    out = feed(proc, "o1", [ev("o1", "created", 0)], now_ms=10_000)
    assert out.empty  # data arrival never emits
    assert handle.state.exists()
    assert handle.state.get()[0] == 15_000
    assert handle.timers == [15_000]


def test_proc_later_events_do_not_extend_deadline_or_add_timers():
    proc, handle = make_proc(buffer_ms=5000)
    feed(proc, "o1", [ev("o1", "created", 0)], now_ms=10_000)
    feed(proc, "o1", [ev("o1", "placed", 1)], now_ms=13_000)
    assert handle.state.get()[0] == 15_000  # unchanged
    assert handle.timers == [15_000]  # exactly one timer for the buffer


def test_proc_stale_flush_emits_old_buffer_and_cancels_its_timer():
    # the TWS-native edge: the superseded buffer's timer must be DELETED,
    # or it fires at 15 000 and expires the fresh buffer 5 s early
    proc, handle = make_proc(buffer_ms=5000)
    feed(
        proc,
        "o4",
        [
            ev("o4", "created", 0),
            ev("o4", "placed", 1),
            ev("o4", "cancelled", 2),
        ],
        now_ms=10_000,
    )
    out = feed(
        proc,
        "o4",
        [ev("o4", "created", 9, json.dumps({"late": True}))],
        now_ms=16_000,  # past the 15 000 deadline, timer not yet fired
    )
    p = payloads(out)["o4"]
    assert p["events"][0]["order_details"] == {"seq": 0}  # ORIGINAL buffer
    assert handle.deleted == [15_000]
    assert handle.timers == [21_000]  # only the fresh buffer's timer
    assert handle.state.get()[0] == 21_000
    assert json.loads(handle.state.get()[1][3]) == {"late": True}


def test_proc_stale_timer_guard_keeps_fresh_buffer():
    # defensive: an expiry older than the live buffer's deadline is a
    # superseded timer — it must not emit or clear the fresh buffer
    proc, handle = make_proc(buffer_ms=5000)
    feed(proc, "o6", [ev("o6", "created", 0)], now_ms=20_000)  # deadline 25s
    out = expire(proc, "o6", 15_000, now_ms=20_500)
    assert out.empty
    assert handle.state.exists()
    assert handle.state.get()[0] == 25_000


# ---------------------------------------------------------------------------
# Layer 1b: event-time processor (watermark-driven deadlines)
# ---------------------------------------------------------------------------

ECOLS = COLS + ["event_ms", "_event_time"]


class FakeWatermarkTimerValues:
    def __init__(self, wm_ms):
        self.wm_ms = wm_ms

    def getCurrentWatermarkInMs(self):
        return self.wm_ms

    def getCurrentProcessingTimeInMs(self):  # event mode never reads it
        return -1


def ev_et(order_id, etype, sec, details=None):
    ms = sec * 1000
    return ev(order_id, etype, sec, details) + (ms, ms)


def make_event_proc(buffer_ms=5000):
    proc = OrderUnifyEventProcessor(buffer_ms=buffer_ms)
    handle = FakeHandle()
    proc.init(handle)
    return proc, handle


def feed_et(proc, order_id, rows, wm_ms):
    pdfs = iter([pd.DataFrame(rows, columns=ECOLS)]) if rows else iter([])
    out = list(
        proc.handleInputRows(
            (order_id,), pdfs, FakeWatermarkTimerValues(wm_ms)
        )
    )
    return (
        pd.concat(out)
        if out
        else pd.DataFrame(columns=["order_id", "n_events", "payload"])
    )


def test_event_proc_deadline_is_event_time_not_watermark():
    proc, handle = make_event_proc(buffer_ms=5000)
    feed_et(proc, "e1", [ev_et("e1", "created", 10)], wm_ms=3_000)
    # deadline = first event's EVENT time + window, regardless of wm
    assert handle.timers == [15_000]
    # later events never extend the deadline or add timers
    feed_et(proc, "e1", [ev_et("e1", "placed", 14)], wm_ms=9_000)
    assert handle.timers == [15_000]


def test_event_proc_stale_flush_on_watermark_cancels_timer():
    proc, handle = make_event_proc(buffer_ms=5000)
    feed_et(
        proc,
        "e2",
        [
            ev_et("e2", "created", 0),
            ev_et("e2", "placed", 1),
            ev_et("e2", "cancelled", 2),
        ],
        wm_ms=0,
    )
    assert handle.timers == [5_000]
    # watermark has passed the 5 s deadline when a NEW lifecycle event
    # arrives: old complete buffer emits on arrival, its timer is
    # cancelled, fresh buffer seeded at the new event's deadline
    out = feed_et(proc, "e2", [ev_et("e2", "created", 9)], wm_ms=8_000)
    got = payloads(out)
    assert [e["type"] for e in got["e2"]["events"]] == [
        "created",
        "placed",
        "cancelled",
    ]
    assert handle.deleted == [5_000]
    assert handle.timers == [14_000]


def test_event_proc_expiry_and_incomplete_drop_inherited():
    proc, handle = make_event_proc(buffer_ms=5000)
    feed_et(
        proc,
        "e3",
        [ev_et("e3", "cancelled", 1), ev_et("e3", "created", 0),
         ev_et("e3", "placed", 2)],
        wm_ms=0,
    )
    # deadline = FIRST-ARRIVED event's time + window = 1s + 5s
    out = expire(proc, "e3", 6_000)
    got = payloads(out)
    assert [e["type"] for e in got["e3"]["events"]] == [
        "created",
        "placed",
        "cancelled",
    ]
    assert not handle.state.exists()
    # incomplete buffer: dropped silently at watermark expiry
    feed_et(proc, "e4", [ev_et("e4", "created", 0)], wm_ms=0)
    assert expire(proc, "e4", 5_000).empty
    assert not handle.state.exists()


def test_event_proc_late_first_event_seeds_past_deadline():
    # a late first event (wm already beyond its deadline) still seeds a
    # buffer; the past-time timer fires on the next batch — arrival
    # itself never emits a FRESH buffer. DEFENSIVE coverage: end-to-end
    # the engine drops sub-watermark rows before the processor (pinned
    # in the e2e test below), so this path is only reachable for rows
    # inside the watermark delay allowance whose buffer deadline is
    # nonetheless already behind the watermark (delay > buffer_ms)
    proc, handle = make_event_proc(buffer_ms=5000)
    out = feed_et(proc, "e5", [ev_et("e5", "created", 1)], wm_ms=60_000)
    assert out.empty
    assert handle.timers == [6_000]
    assert handle.state.exists()


# ---------------------------------------------------------------------------
# Layer 2: end-to-end under the RocksDB provider TWS requires
# ---------------------------------------------------------------------------


def write_batch(src_dir, rows, batch_no):
    table = pa.table({k: [r[i] for r in rows] for i, k in enumerate(COLS)})
    pq.write_table(table, f"{src_dir}/batch-{batch_no:04d}.parquet")


@pytest.mark.skipif(
    not tws_available(),
    reason="TWS state-server protocol needs the protobuf runtime or the "
    "proto_shim; processor semantics are covered by the deterministic "
    "layer-1 tests above",
)
def test_e2e_tws_complete_emits_incomplete_drops(spark, tmp_path, state_store):
    state_store("rocksdb")
    src = tmp_path / "in"
    src.mkdir()
    name = f"tws_{uuid.uuid4().hex[:8]}"
    events = spark.readStream.schema(SCHEMA).parquet(str(src))
    query = (
        unify_stream_tws(events, buffer_ms=BUFFER_MS)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        first = json.dumps({"which": "first"})
        late = json.dumps({"which": "late"})
        write_batch(
            src,
            [
                # w1: complete, shuffled, with duplicate created
                ev("w1", "cancelled", 2),
                ev("w1", "created", 0, first),
                ev("w1", "created", 1, late),
                ev("w1", "placed", 1),
                # w2: incomplete — must never emit
                ev("w2", "created", 0),
            ],
            0,
        )
        deadline = time.time() + 90
        while time.time() < deadline:
            if query.exception():
                raise query.exception()
            if spark.table(name).count() >= 1:
                break
            time.sleep(0.3)
        out = {
            r.order_id: json.loads(r.payload)
            for r in spark.table(name).collect()
        }
        assert "w1" in out
        assert [e["type"] for e in out["w1"]["events"]] == [
            "created",
            "placed",
            "cancelled",
        ]
        assert out["w1"]["events"][0]["order_details"] == {
            "which": "first"
        }
        # settle two more buffer windows: w2 stays dropped
        time.sleep(2 * BUFFER_MS / 1000)
        assert "w2" not in {
            r.order_id for r in spark.table(name).collect()
        }
    finally:
        query.stop()


@pytest.mark.skipif(
    not tws_available(),
    reason="TWS state-server protocol needs the protobuf runtime or the "
    "proto_shim; processor semantics are covered by the deterministic "
    "layer-1 tests above",
)
def test_e2e_tws_event_time_emits_on_watermark(spark, tmp_path, state_store):
    """Event-time TWS twin end-to-end: windows close when the WATERMARK
    passes deadline (a far-future heartbeat advances it), complete
    orders emit in priority order, incomplete ones drop — replay-
    deterministic by construction (no wall clock anywhere). Rows older
    than the watermark are dropped by the ENGINE before the processor
    (numRowsDroppedByWatermark) — measured identical in the v1 twin, so
    the two event-time implementations agree on late data end-to-end."""
    state_store("rocksdb")
    src = tmp_path / "in"
    src.mkdir()
    name = f"twset_{uuid.uuid4().hex[:8]}"
    events = spark.readStream.schema(SCHEMA).parquet(str(src))
    query = (
        unify_stream_tws_event_time(events, buffer_ms=5000)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # w1 completes within its 5 s event-time window (duplicate
        # created is first-wins-suppressed); w2 stays incomplete
        write_batch(
            src,
            [
                ev("w1", "cancelled", 4),
                ev("w1", "created", 0, json.dumps({"which": "first"})),
                ev("w1", "created", 2, json.dumps({"which": "late"})),
                ev("w1", "placed", 2),
                ev("w2", "created", 1),
            ],
            0,
        )
        # heartbeat at event-time 59 s pushes the watermark past both
        # deadlines (delay 2 s -> wm 57 s)
        write_batch(src, [ev("hb", "created", 59)], 1)
        deadline = time.time() + 120
        while time.time() < deadline:
            if query.exception():
                raise query.exception()
            if any(
                r.order_id == "w1" for r in spark.table(name).collect()
            ):
                break
            time.sleep(0.3)
        out = {
            r.order_id: json.loads(r.payload)
            for r in spark.table(name).collect()
        }
        assert "w1" in out
        assert [e["type"] for e in out["w1"]["events"]] == [
            "created",
            "placed",
            "cancelled",
        ]
        assert out["w1"]["events"][0]["order_details"] == {
            "which": "first"
        }
        assert "w2" not in out  # incomplete: dropped at expiry

        # sub-watermark lifecycle (complete, but far behind the 57 s
        # watermark): engine-dropped before the processor, exactly
        # like the v1 twin — never emits
        write_batch(
            src,
            [
                ev("late1", "created", 0),
                ev("late1", "placed", 2),
                ev("late1", "cancelled", 4),
            ],
            2,
        )
        deadline = time.time() + 30
        dropped = 0
        while time.time() < deadline:
            if query.exception():
                raise query.exception()
            dropped = sum(
                (p.get("stateOperators") or [{}])[0].get(
                    "numRowsDroppedByWatermark", 0
                )
                for p in query.recentProgress
            )
            if dropped >= 3:
                break
            time.sleep(0.3)
        assert dropped >= 3
        assert "late1" not in {
            r.order_id for r in spark.table(name).collect()
        }
    finally:
        query.stop()


@pytest.mark.skipif(
    not tws_available(),
    reason="TWS state-server protocol needs the protobuf runtime or the "
    "proto_shim; processor semantics are covered by the deterministic "
    "layer-1 tests above",
)
def test_e2e_tws_event_time_recovers_open_buffer_across_restart(
    spark, tmp_path, state_store
):
    """Event-time TWS recovery, mirroring the v1 twin's test: an OPEN
    buffer (2 of 3 events, watermark still low) survives a checkpoint
    restart; the completing event plus a watermark kicker arrive only
    AFTER the restart, so the emission requires the recovered ValueState
    row and the recovered event-time timer."""
    state_store("rocksdb")
    src = tmp_path / "in"
    src.mkdir()
    out = tmp_path / "out"
    out.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_schema = "order_id string, n_events int, payload string"

    def sink_df():
        return spark.read.schema(out_schema).parquet(str(out))

    def start():
        events = spark.readStream.schema(SCHEMA).parquet(str(src))
        return (
            unify_stream_tws_event_time(events, buffer_ms=5000)
            .writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_batch(
        src, [ev("o9", "created", 0), ev("o9", "placed", 1)], 0
    )
    query = start()
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if query.exception():
                raise query.exception()
            if sum(
                p["numInputRows"] for p in query.recentProgress
            ) >= 2:
                break
            time.sleep(0.3)
        else:
            raise AssertionError("first query never ingested batch 0")
        assert sink_df().count() == 0  # buffer open, watermark low
    finally:
        query.stop()

    query = start()
    try:
        write_batch(src, [ev("o9", "cancelled", 2)], 1)
        write_batch(src, [ev("hb", "created", 59)], 2)  # wm kicker
        deadline = time.time() + 120
        while time.time() < deadline:
            if query.exception():
                raise query.exception()
            if any(r.order_id == "o9" for r in sink_df().collect()):
                break
            time.sleep(0.3)
        got = {
            r.order_id: json.loads(r.payload)
            for r in sink_df().collect()
        }
        assert "o9" in got, "open event-time buffer lost across restart"
        assert [e["type"] for e in got["o9"]["events"]] == [
            "created",
            "placed",
            "cancelled",
        ]
        assert "hb" not in got  # kicker's own order: incomplete, drops
    finally:
        query.stop()


@pytest.mark.skipif(
    not tws_available(),
    reason="TWS state-server protocol needs the protobuf runtime or the "
    "proto_shim; processor semantics are covered by the deterministic "
    "layer-1 tests above",
)
def test_e2e_tws_recovers_state_and_timer_across_restart(
    spark, tmp_path, state_store
):
    """Kill-and-restart durability, the reference's crash-recovery
    contract (persistent KV state store, SURVEY §2 S5) on the TWS
    runtime: a buffered-but-unexpired order written before the stop must
    emit AFTER the restart — proving both the ValueState row and the
    registered timer live in the checkpointed store, not in the python
    worker. The incomplete sibling order must stay silently dropped
    through the same restart. Sink is a parquet FileStreamSink (the
    memory sink refuses checkpoint recovery); polling reads go through
    its _spark_metadata log, so only committed files are visible.

    A DIFFERENT-key nudge event is written after the restart because a
    query restarted from a fully-committed checkpoint with no new input
    runs no micro-batch at all (MicroBatchExecution only consults
    shouldRunAnotherBatch on an in-memory lastExecution, which a fresh
    restart lacks) — so pending timers wait for the first post-restart
    data batch; see the unify_tws module docstring. The nudge is a
    foreign key, so r1's emission can still only come from recovered
    state + a recovered timer."""
    buffer_ms = 30_000  # wide enough that batch 0 commits before expiry
    state_store("rocksdb")
    src = tmp_path / "in"
    src.mkdir()
    out = tmp_path / "out"
    out.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_schema = "order_id string, n_events int, payload string"

    def sink_df():
        return spark.read.schema(out_schema).parquet(str(out))

    events = spark.readStream.schema(SCHEMA).parquet(str(src))
    write_batch(
        src,
        [
            # r1: complete before the stop; must emit after restart
            ev("r1", "created", 0),
            ev("r1", "placed", 1),
            ev("r1", "cancelled", 2),
            # r2: incomplete; must never emit, restart or not
            ev("r2", "created", 0),
        ],
        0,
    )

    def start():
        return (
            unify_stream_tws(events, buffer_ms=buffer_ms)
            .writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    query = start()
    try:
        # wait for batch 0 (all 4 rows) to COMMIT, then stop while the
        # 30 s timers are still pending
        deadline = time.time() + 90
        seen = 0
        while time.time() < deadline:
            if query.exception():
                raise query.exception()
            seen = sum(
                p["numInputRows"] for p in query.recentProgress
            )
            if seen >= 4:
                break
            time.sleep(0.3)
        assert seen >= 4, "batch 0 never committed"
        assert sink_df().count() == 0  # nothing expired yet
    finally:
        query.stop()

    query = start()
    try:
        # one foreign-key event seeds the restarted engine's first
        # batch (see docstring); r1's own emission can only come
        # from the recovered ValueState + recovered timer
        write_batch(src, [ev("nudge", "created", 0)], 1)
        deadline = time.time() + 240
        while time.time() < deadline:
            if query.exception():
                raise query.exception()
            if sink_df().count() >= 1:
                break
            time.sleep(0.5)
        got = {
            r.order_id: json.loads(r.payload)
            for r in sink_df().collect()
        }
        assert "r1" in got, "buffered order lost across restart"
        assert [e["type"] for e in got["r1"]["events"]] == [
            "created",
            "placed",
            "cancelled",
        ]
        assert "r2" not in got  # incomplete: dropped at expiry
    finally:
        query.stop()


def test_topology_builds_with_tws_mode(spark):
    # plan construction (analysis) only — starting the query needs the
    # protobuf runtime; schema and streaming-ness must match the v1 mode
    from kafka_stream_unify_order_messages_spark.app import (
        UnifyConfig,
        unify_topology,
    )

    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .select(
            F_value(),
            F_topic(),
        )
    )
    out = unify_topology(raw, UnifyConfig(use_tws=True))
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "order_id",
        "n_events",
        "payload",
    ]


def F_value():
    import pyspark.sql.functions as F

    return F.to_json(
        F.struct(
            F.expr("uuid()").alias("order-id"),
            F.lit("created").alias("type"),
            F.date_format(
                F.col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
            ).alias("timestamp"),
            F.lit("{}").alias("order_details"),
        )
    ).cast("binary").alias("value")


def F_topic():
    import pyspark.sql.functions as F

    return F.lit("order-created").alias("topic")
