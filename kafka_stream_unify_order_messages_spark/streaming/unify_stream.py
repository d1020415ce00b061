"""Streaming order-event unification: the reference's stateful core as a
Structured Streaming ``applyInPandasWithState`` operator.

The buffer state machine lives once, in ``step`` (data arrival) and
``close`` (expiry). All four streaming topologies run it: this module's
processing- and event-time state functions and unify_tws.py's two
processors, which only load and store state and arm their engine's timeout
or timer. Parity targets (file:line into the reference app):
- 5 s processing-time buffer per order, started on first event
  (OrderProjectionTopology.java:29, OrderProjectionTransformer.java:60-68)
- stale-flush-on-arrival: an event hitting an already-expired buffer flushes
  the old buffer FIRST, then seeds a fresh one with itself
  (OrderProjectionTransformer.java:45-58)
- first-wins per event type (OrderProjection.java:55-58)
- emission ONLY at expiry — complete buffers still wait out their deadline
  (the punctuator is the only emit path, OrderProjectionTransformer.java:90-104)
- completeness gate: incomplete buffers are dropped silently at expiry
  (OrderProjectionTransformer.java:110-116)
- output events ordered created -> placed -> cancelled
  (OrderProjection.java:74-84)

Scale notes: Spark fires ProcessingTimeTimeout per expired key at micro-batch
boundaries — there is NO O(all keys) store sweep like the reference's 1 s
punctuator (its known scale flaw, SURVEY.md §4.2). State per key is O(1)
(three nullable event structs + a deadline). Run with
``trigger(processingTime='1 second')`` to match the reference's punctuation
cadence; at-least-once sink semantics match the reference default.

Restart caveat (shared by every micro-batch stateful operator here; found
and pinned on the TWS twin — see unify_tws.py's module docstring): a query
restarted from a fully-committed checkpoint with no new input runs no
micro-batch, so recovered timeouts/timers wait for the first post-restart
data batch. Continuous sources never notice; a drained-topic replay should
append one sentinel record to flush pending buffers.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from kafka_stream_unify_order_messages_spark.schemas import (
    PENDING_ORDER_STATE_SCHEMA,
)

REQUIRED = ("created", "placed", "cancelled")

UNIFY_OUTPUT_SCHEMA = StructType(
    [
        StructField("order_id", StringType(), False),
        StructField("n_events", IntegerType(), False),
        StructField("payload", StringType(), False),
    ]
)


def _payload_json(order_id: str, events: dict[str, dict[str, Any]]) -> str:
    """Reference OrderProjectionPayload JSON: {"orderId", "events": [...]},
    events priority-ordered, each {"order-id","type","timestamp",
    "order_details"} with order_details passed through as parsed JSON
    (Jackson serializes the JsonNode inline, not as a string).
    """
    out_events = []
    for t in REQUIRED:
        ev = events[t]
        details = ev.get("order_details")
        try:
            details_val = json.loads(details) if details is not None else None
        except (TypeError, ValueError):
            details_val = details  # not JSON: pass the raw string through
        out_events.append(
            {
                "order-id": ev.get("order_id"),
                "type": ev.get("type"),
                "timestamp": ev.get("timestamp"),
                "order_details": details_val,
            }
        )
    return json.dumps(
        {"orderId": order_id, "events": out_events}, separators=(",", ":")
    )


def _state_tuple(deadline_ms: int, events: dict[str, dict[str, Any]]):
    def ev_tuple(t: str):
        ev = events.get(t)
        if ev is None:
            return None
        return (
            ev.get("order_id"),
            ev.get("type"),
            ev.get("timestamp"),
            ev.get("order_details"),
        )

    return (deadline_ms, ev_tuple("created"), ev_tuple("placed"), ev_tuple("cancelled"))


def _decode_state(value: tuple) -> tuple[int, dict[str, dict[str, Any]]]:
    """Inverse of ``_state_tuple``: state row -> (deadline_ms, events)."""
    deadline_ms, *evs = value
    events: dict[str, dict[str, Any]] = {}
    for t, ev in zip(REQUIRED, evs):
        if ev is not None and ev[1] is not None:
            events[t] = {
                "order_id": ev[0],
                "type": ev[1],
                "timestamp": ev[2],
                "order_details": ev[3],
            }
    return int(deadline_ms or 0), events


def _load_state(state: GroupState) -> tuple[int, dict[str, dict[str, Any]]]:
    return _decode_state(state.get) if state.exists else (0, {})


def close(order_id: str, events: dict[str, dict[str, Any]]) -> list[tuple]:
    """Close a buffer through the completeness gate: a buffer holding every
    required type becomes one (order_id, n_events, payload) emission, an
    incomplete one is dropped silently
    (OrderProjectionTransformer.java:110-116).
    """
    if all(t in events for t in REQUIRED):
        return [(order_id, len(events), _payload_json(order_id, events))]
    return []


def step(
    order_id: str,
    deadline: int,
    events: dict[str, dict[str, Any]],
    pdfs: Iterator[pd.DataFrame],
    now: int,
    buffer_ms: int,
    event_time: bool = False,
) -> tuple[int, dict[str, dict[str, Any]], list[tuple]]:
    """The buffer state machine every streaming topology runs: one data
    arrival for one order. ``now`` is the wall clock (processing time) or
    the watermark (event time). Returns ``(deadline, events, emissions)``;
    empty ``events`` means no buffer is open. The callers only load and
    store state and arm their engine's timeout or timer at ``deadline``.
    """
    emissions: list[tuple] = []
    # stale-flush-on-arrival: an expired-or-corrupt buffer is flushed
    # BEFORE the new events are considered
    if not events or deadline <= 0 or now >= deadline:
        emissions = close(order_id, events)
        deadline, events = 0, {}
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            ev = row._asdict()
            etype = ev.get("type")
            if etype not in REQUIRED:
                continue  # unknown type: ignored (addEvent parity)
            if event_time:
                ev_ms = ev.get("event_ms")
                if pd.isna(ev_ms):
                    continue  # ts_col failed to parse upstream
            if not events:
                # new buffer: first event's arrival (or event) time plus
                # the window; later events never extend it
                deadline = (int(ev_ms) if event_time else now) + buffer_ms
            if etype not in events:
                events[etype] = ev  # first-wins duplicate suppression
    return deadline, events, emissions


def _frames(emissions: list[tuple]) -> Iterator[pd.DataFrame]:
    if emissions:
        yield pd.DataFrame(emissions, columns=UNIFY_OUTPUT_SCHEMA.names)


def _make_fn(buffer_ms: int, event_time: bool, now_ms=None):
    def fn(
        key: tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        order_id = key[0]
        if state.hasTimedOut:
            # punctuator path: deadline passed with no new data
            emissions = close(order_id, _load_state(state)[1])
            state.remove()
        else:
            now = state.getCurrentWatermarkMs() if event_time else now_ms()
            deadline, events = _load_state(state)
            deadline, events, emissions = step(
                order_id, deadline, events, pdfs, now, buffer_ms, event_time
            )
            if events:
                state.update(_state_tuple(deadline, events))
                if event_time:
                    # a late first event seeds a deadline behind the
                    # watermark, which GroupState refuses: clamp, so the
                    # next watermark advance expires the buffer
                    state.setTimeoutTimestamp(max(deadline, now))
                else:
                    state.setTimeoutDuration(max(deadline - now, 1))
            elif state.exists:
                state.remove()
        yield from _frames(emissions)

    return fn


def make_unify_fn(buffer_ms: int = 5000, clock=None):
    """Build the per-group state function. ``clock`` (ms) is injectable for
    deterministic tests; defaults to wall clock like the reference
    (context.currentSystemTimeMs, OrderProjectionTransformer.java:43).
    """
    wall_clock = lambda: int(time.time() * 1000)  # noqa: E731
    return _make_fn(buffer_ms, False, clock or wall_clock)


def make_unify_fn_event_time(buffer_ms: int = 5000):
    """Event-time variant of the state function: the buffer's deadline is
    ``first event's timestamp + buffer_ms`` and expiry is driven by the
    WATERMARK, not the wall clock. Replaying the same input yields the
    same projections — the deterministic-reprocessing mode the reference
    (wall-clock punctuation, OrderProjectionTransformer.java:35,43) cannot
    offer. Requires ``withWatermark`` on the event-time column and rows
    carrying ``event_ms`` (epoch millis); rows with a null ``event_ms``
    are skipped.
    """
    return _make_fn(buffer_ms, True)


def unify_stream_event_time(
    events: DataFrame,
    buffer_ms: int = 5000,
    ts_col: str = "timestamp",
    watermark_delay: str = "2 seconds",
) -> DataFrame:
    """Event-time unification: same semantics as ``unify_stream`` but the
    5 s window is measured in EVENT time and closed by the watermark —
    deterministic under replay (same input files => same output), which
    the reference's wall-clock design cannot do. ``ts_col`` must be an
    ISO-8601 string or timestamp column.
    """
    from pyspark.sql import functions as F

    with_ts = events.withColumn(
        "_event_time", F.to_timestamp(ts_col)
    ).withColumn("event_ms", F.unix_millis(F.col("_event_time")))
    # the watermark column rides through the stateful op (dropping it would
    # detach the watermark EventTimeTimeout requires); the state fn ignores
    # fields outside the state schema
    watermarked = with_ts.withWatermark("_event_time", watermark_delay)
    return (
        watermarked
        .groupBy("order_id")
        .applyInPandasWithState(
            make_unify_fn_event_time(buffer_ms),
            outputStructType=UNIFY_OUTPUT_SCHEMA,
            stateStructType=PENDING_ORDER_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def unify_stream(
    events: DataFrame,
    buffer_ms: int = 5000,
    clock=None,
) -> DataFrame:
    """Apply the stateful unification to a streaming DataFrame with columns
    (order_id, type, timestamp, order_details); ``type`` must already be
    canonicalized (functions.normalize) and null ids filtered — compose:

        normalized = events.withColumn("type", canonicalize_type(...))
                           .filter(col("order_id").isNotNull())
        projections = unify_stream(normalized)

    Returns an append-mode stream of (order_id, n_events, payload).
    """
    return events.groupBy("order_id").applyInPandasWithState(
        make_unify_fn(buffer_ms, clock),
        outputStructType=UNIFY_OUTPUT_SCHEMA,
        stateStructType=PENDING_ORDER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
