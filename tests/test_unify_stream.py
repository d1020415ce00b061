"""Streaming unification semantics: processing-time buffer, timeout emission,
stale-flush-on-arrival, first-wins, completeness gate.

Two layers:

1. Function-level tests drive ``make_unify_fn`` directly with a fake
   ``GroupState`` and an injected clock — fully deterministic, covering the
   tricky wall-clock paths (stale-flush-on-arrival,
   OrderProjectionTransformer.java:45-58) that are racy end-to-end. The
   shared spec in test_properties.py runs the same semantics through all
   four streaming adapters.
2. End-to-end tests run file source -> applyInPandasWithState -> memory sink.
   With ProcessingTimeTimeout, Spark schedules micro-batches continuously
   (shouldRunAnotherBatch is always true), so ``processAllAvailable`` never
   settles — assertions poll the sink with a deadline instead
   (SURVEY.md §7.3.2: set-equality after quiescence, never per-batch timing).
"""

from __future__ import annotations

import json
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import Row
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_stream_unify_order_messages_spark.schemas import (
    PENDING_ORDER_STATE_SCHEMA,
)
from kafka_stream_unify_order_messages_spark.streaming import (
    make_unify_fn,
    make_unify_fn_event_time,
    unify_stream,
)

SCHEMA = "order_id string, type string, timestamp string, order_details string"

BUFFER_MS = 1500

COLS = ["order_id", "type", "timestamp", "order_details"]
ECOLS = COLS + ["event_ms"]


def ev(order_id, etype, seq=0, details=None):
    return (
        order_id,
        etype,
        f"2026-01-01T00:00:{seq:02d}.000Z",
        details or json.dumps({"seq": seq}),
    )


# ---------------------------------------------------------------------------
# Layer 1: deterministic function-level tests (fake state + injected clock)
# ---------------------------------------------------------------------------


class FakeState:
    """Minimal stand-in for pyspark GroupState (tuple-shaped like the real
    one: ``state.get`` returns the state row as a tuple)."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.timeout_ms = None
        self.removed = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        if self._value is None:
            raise ValueError("state does not exist")
        return self._value

    def update(self, v):
        self._value = tuple(v)
        self.removed = False

    def remove(self):
        self._value = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


class Clock:
    def __init__(self, ms=1_000_000):
        self.ms = ms

    def __call__(self):
        return self.ms


def group_state(
    value=None,
    now_ms=0,
    timed_out=False,
    event_time=True,
    value_schema=PENDING_ORDER_STATE_SCHEMA,
):
    """A real pyspark ``GroupState`` as the engine hands it to one call:
    state row ``value`` (or none) of ``value_schema`` (the operator's
    stateStructType; GroupState only carries it, so a DDL string will
    do), and ``now_ms`` as the watermark (EventTimeTimeout) or the batch
    time (ProcessingTimeTimeout). The timeout the call armed is
    ``armed_timeout(state)``."""
    return GroupState(
        optionalValue=Row(*value) if value is not None else None,
        batchProcessingTimeMs=now_ms,
        eventTimeWatermarkMs=now_ms if event_time else GroupState.NO_TIMESTAMP,
        timeoutConf=GroupStateTimeout.EventTimeTimeout
        if event_time
        else GroupStateTimeout.ProcessingTimeTimeout,
        hasTimedOut=timed_out,
        watermarkPresent=event_time,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=value_schema,
    )


def armed_timeout(state):
    # what the executor reads back from the Python worker
    return json.loads(state.json())["timeoutTimestamp"]


def run_fn(fn, order_id, rows, state, cols=COLS):
    pdfs = iter([pd.DataFrame(rows, columns=cols)]) if rows else iter([])
    out = list(fn((order_id,), pdfs, state))
    return pd.concat(out) if out else pd.DataFrame(columns=["order_id", "n_events", "payload"])


def payloads(df):
    return {r.order_id: json.loads(r.payload) for r in df.itertuples()}


def test_fn_buffers_first_event_sets_deadline():
    clock = Clock(10_000)
    fn = make_unify_fn(buffer_ms=5000, clock=clock)
    state = FakeState()
    out = run_fn(fn, "o1", [ev("o1", "created", 0)], state)
    assert out.empty  # data arrival never emits (emission only via punctuator)
    assert state.exists
    assert state.get[0] == 15_000  # deadline = now + buffer
    assert state.timeout_ms == 5000


def test_fn_timeout_complete_emits_ordered_and_clears():
    clock = Clock(10_000)
    fn = make_unify_fn(buffer_ms=5000, clock=clock)
    state = FakeState()
    run_fn(fn, "o1", [ev("o1", "cancelled", 2), ev("o1", "created", 0)], state)
    run_fn(fn, "o1", [ev("o1", "placed", 1)], state)
    state.hasTimedOut = True
    out = run_fn(fn, "o1", [], state)
    assert state.removed
    p = payloads(out)["o1"]
    assert [e["type"] for e in p["events"]] == ["created", "placed", "cancelled"]
    assert p["events"][0]["order-id"] == "o1"
    assert p["events"][0]["order_details"] == {"seq": 0}


def test_fn_timeout_incomplete_drops_silently():
    clock = Clock(10_000)
    fn = make_unify_fn(buffer_ms=5000, clock=clock)
    state = FakeState()
    run_fn(fn, "o2", [ev("o2", "created", 0), ev("o2", "placed", 1)], state)
    state.hasTimedOut = True
    out = run_fn(fn, "o2", [], state)
    assert out.empty
    assert state.removed


def test_fn_first_wins_duplicates():
    clock = Clock(10_000)
    fn = make_unify_fn(buffer_ms=5000, clock=clock)
    state = FakeState()
    first = json.dumps({"which": "first"})
    late = json.dumps({"which": "late"})
    run_fn(fn, "o3", [ev("o3", "created", 0, first), ev("o3", "created", 1, late)], state)
    run_fn(fn, "o3", [ev("o3", "created", 2, late)], state)  # cross-batch dup
    run_fn(fn, "o3", [ev("o3", "placed", 3), ev("o3", "cancelled", 4)], state)
    state.hasTimedOut = True
    p = payloads(run_fn(fn, "o3", [], state))["o3"]
    assert p["events"][0]["order_details"] == {"which": "first"}


def test_fn_duplicates_do_not_extend_deadline():
    # the deadline is set once, on buffer creation — later events never
    # refresh it (OrderProjectionTransformer.java:60-68 vs 69-81)
    clock = Clock(10_000)
    fn = make_unify_fn(buffer_ms=5000, clock=clock)
    state = FakeState()
    run_fn(fn, "o1", [ev("o1", "created", 0)], state)
    clock.ms = 13_000
    run_fn(fn, "o1", [ev("o1", "placed", 1)], state)
    assert state.get[0] == 15_000  # unchanged
    assert state.timeout_ms == 2000  # re-registered for the remaining window


def test_fn_stale_flush_on_arrival_complete_old_buffer():
    # event hits an expired-but-unfired COMPLETE buffer: old buffer emits,
    # new event seeds a fresh buffer (OrderProjectionTransformer.java:45-68)
    clock = Clock(10_000)
    fn = make_unify_fn(buffer_ms=5000, clock=clock)
    state = FakeState()
    run_fn(
        fn,
        "o4",
        [ev("o4", "created", 0), ev("o4", "placed", 1), ev("o4", "cancelled", 2)],
        state,
    )
    clock.ms = 16_000  # past the 15 000 deadline, timeout not yet fired
    out = run_fn(fn, "o4", [ev("o4", "created", 9, json.dumps({"late": True}))], state)
    p = payloads(out)["o4"]
    assert p["events"][0]["order_details"] == {"seq": 0}  # the ORIGINAL buffer
    # the late event seeded a fresh buffer with a fresh deadline
    assert state.exists
    assert state.get[0] == 21_000
    created = state.get[1]
    assert json.loads(created[3]) == {"late": True}


def test_fn_stale_flush_on_arrival_incomplete_old_buffer_drops():
    clock = Clock(10_000)
    fn = make_unify_fn(buffer_ms=5000, clock=clock)
    state = FakeState()
    run_fn(fn, "o5", [ev("o5", "created", 0)], state)
    clock.ms = 20_000
    out = run_fn(fn, "o5", [ev("o5", "placed", 1)], state)
    assert out.empty  # incomplete old buffer dropped silently
    # fresh buffer holds ONLY the new event
    assert state.get[0] == 25_000
    assert state.get[1] is None or state.get[1][1] is None  # no created
    assert state.get[2][1] == "placed"


def test_fn_unknown_types_ignored():
    clock = Clock(10_000)
    fn = make_unify_fn(buffer_ms=5000, clock=clock)
    state = FakeState()
    run_fn(fn, "o6", [ev("o6", "bogus", 0)], state)
    assert not state.exists  # unknown type alone never creates a buffer
    run_fn(fn, "o6", [ev("o6", "created", 1), ev("o6", "weird", 2)], state)
    assert state.exists
    assert state.get[2] is None or state.get[2][1] is None


def test_fn_empty_buffer_never_stored():
    clock = Clock(10_000)
    fn = make_unify_fn(buffer_ms=5000, clock=clock)
    state = FakeState()
    out = run_fn(fn, "o7", [], state)
    assert out.empty
    assert not state.exists


def test_fn_event_time_late_first_event_arms_timeout_at_watermark():
    # a first event 10 s behind the watermark seeds a deadline (95 000)
    # the watermark already passed; GroupState refuses a timeout behind
    # the watermark, so it is armed AT the watermark and the buffer
    # expires on the next watermark advance
    fn = make_unify_fn_event_time(buffer_ms=5000)
    state = group_state(now_ms=100_000)
    out = run_fn(fn, "o1", [ev("o1", "created", 0) + (90_000,)], state, ECOLS)
    assert out.empty
    assert state.get[0] == 95_000
    assert armed_timeout(state) == 100_000


def test_fn_event_time_skips_null_event_time():
    # a row whose timestamp failed to parse carries a null event_ms:
    # skipped, never a crash — alone (None) or beside valid rows (NaN)
    fn = make_unify_fn_event_time(buffer_ms=5000)
    state = group_state(now_ms=100_000)
    assert run_fn(fn, "o1", [ev("o1", "created", 0) + (None,)], state, ECOLS).empty
    assert not state.exists
    rows = [ev("o1", "created", 0) + (None,), ev("o1", "placed", 1) + (101_000,)]
    state = group_state(now_ms=100_000)
    assert run_fn(fn, "o1", rows, state, ECOLS).empty
    assert state.get[0] == 106_000
    assert state.get[1] is None  # the null-time created was skipped
    assert state.get[2][1] == "placed"


# ---------------------------------------------------------------------------
# Layer 2: end-to-end through Structured Streaming
# ---------------------------------------------------------------------------


def write_batch(src_dir, rows, batch_no):
    table = pa.table(
        {k: [r[i] for r in rows] for i, k in enumerate(COLS)}
    )
    pq.write_table(table, f"{src_dir}/batch-{batch_no:04d}.parquet")


@pytest.fixture()
def stream(spark, tmp_path):
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    name = f"unify_out_{uuid.uuid4().hex[:8]}"
    events = spark.readStream.schema(SCHEMA).parquet(str(src_dir))
    query = (
        unify_stream(events, buffer_ms=BUFFER_MS)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    yield spark, src_dir, name, query
    query.stop()


def emitted(spark, name):
    rows = spark.table(name).collect()
    return {r["order_id"]: json.loads(r["payload"]) for r in rows}


def wait_for(query, predicate, timeout_s=60):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if query.exception():
            raise query.exception()
        if predicate():
            return True
        time.sleep(0.3)
    return False


def test_e2e_complete_lifecycle_emits_ordered_projection(stream):
    spark, src_dir, name, query = stream
    write_batch(
        src_dir,
        [ev("o1", "cancelled", 2), ev("o1", "created", 0), ev("o1", "placed", 1)],
        0,
    )
    assert wait_for(query, lambda: "o1" in emitted(spark, name))
    payload = emitted(spark, name)["o1"]
    assert payload["orderId"] == "o1"
    assert [e["type"] for e in payload["events"]] == ["created", "placed", "cancelled"]
    assert payload["events"][0]["order-id"] == "o1"
    assert payload["events"][0]["order_details"] == {"seq": 0}


def test_e2e_incomplete_dropped_duplicate_first_wins(stream):
    spark, src_dir, name, query = stream
    first = json.dumps({"which": "first"})
    late = json.dumps({"which": "late"})
    write_batch(
        src_dir,
        [
            # o2: incomplete — must never emit
            ev("o2", "created", 0),
            ev("o2", "placed", 1),
            # o3: complete with a duplicated created — first wins
            ev("o3", "created", 0, first),
            ev("o3", "created", 1, late),
            ev("o3", "placed", 2),
            ev("o3", "cancelled", 3),
            # o6: complete plus an unknown type — unknown ignored
            ev("o6", "created", 0),
            ev("o6", "bogus", 1),
            ev("o6", "placed", 2),
            ev("o6", "cancelled", 3),
        ],
        0,
    )
    assert wait_for(
        query, lambda: {"o3", "o6"} <= set(emitted(spark, name))
    )
    # settle past o2's deadline with margin: two more timeout sweeps
    time.sleep(2 * BUFFER_MS / 1000)
    out = emitted(spark, name)
    assert "o2" not in out
    assert out["o3"]["events"][0]["order_details"] == {"which": "first"}
    assert [e["type"] for e in out["o6"]["events"]] == [
        "created",
        "placed",
        "cancelled",
    ]
