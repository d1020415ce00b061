"""Order unification on the v2 arbitrary-stateful API
(``transformWithStateInPandas``, Spark 4): the reference's punctuator as
explicit per-key timers.

Same semantics as ``unify_stream``: both processors run the shared
buffer state machine ``unify_stream.step`` / ``close`` and add only the
v2 bookkeeping around it (ValueState, timers).

Why a second topology: the v1 ``applyInPandasWithState`` timeout is
a single implicit per-key deadline; TWS timers are explicit and
addressable — ``registerTimer(deadline)`` IS the reference's
``context.schedule`` + per-buffer deadline, and ``deleteTimer`` lets the
stale-flush path cancel the superseded deadline instead of relying on an
expiry-time guard alone. TWS also brings composable typed state
(value/list/map), state TTL, and init-from-batch — the extension surface
the reference's Transformer interface plays (SURVEY.md §2.6).

Scale notes: timers live in the state store, fire per expired key at
micro-batch boundaries (no O(all keys) sweep — the reference's known
flaw, SURVEY.md §4.2); state per key is O(1). TWS requires the RocksDB
state store provider (``spark.sql.streaming.stateStore.providerClass =
...RocksDBStateStoreProvider``) — the at-scale choice anyway, and the
same engine the reference's store runs on.

Restart caveat (measured, pinned by the recovery test): while a query
RUNS, processing-time mode schedules continuous no-data micro-batches,
so timers fire on schedule with or without input. But a query RESTARTED
from a fully-committed checkpoint with no new input runs no batch at
all — MicroBatchExecution decides no-data batches from an in-memory
``lastExecution`` that a fresh restart lacks — so buffered state and
pending timers (both fully recovered) wait for the FIRST post-restart
data batch before firing. On a production Kafka topology input is
continuous and the gap is unobservable; a replay/backfill restart of a
drained topic should append one sentinel record (any key) to drain
pending buffers.

Runtime dependency note: Spark's TWS Python runner speaks a
protobuf-based state-server protocol. With the ``protobuf`` package
installed (``pip install pyspark[connect]``) the generated module is
used as-is; without it, importing THIS module installs the pure-stdlib
wire-format shim (streaming/proto_shim.py) in its place — and because a
Spark worker imports this module while unpickling the processor, the
shim lands in every worker process before the state client's first lazy
protobuf import. The processor's semantics are additionally covered
deterministically in tests/test_unify_tws.py without any runner.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from kafka_stream_unify_order_messages_spark.streaming import proto_shim

proto_shim.install()

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from kafka_stream_unify_order_messages_spark.schemas import (
    PENDING_ORDER_STATE_SCHEMA,
)
from kafka_stream_unify_order_messages_spark.streaming.unify_stream import (
    UNIFY_OUTPUT_SCHEMA,
    _decode_state,
    _frames,
    _state_tuple,
    close,
    step,
)


class OrderUnifyProcessor(StatefulProcessor):
    """Per-order buffering processor. One ValueState row (same schema as
    the v1 operator) + one timer per live buffer."""

    event_time = False

    def __init__(self, buffer_ms: int = 5000):
        self.buffer_ms = buffer_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.state = handle.getValueState("pending", PENDING_ORDER_STATE_SCHEMA)

    def close(self) -> None:
        pass

    # -- data arrival ------------------------------------------------------

    def handleInputRows(
        self,
        key: tuple,
        rows: Iterator[pd.DataFrame],
        timerValues: TimerValues,
    ) -> Iterator[pd.DataFrame]:
        if self.event_time:
            now = timerValues.getCurrentWatermarkInMs()
        else:
            now = timerValues.getCurrentProcessingTimeInMs()
        old, events = (
            _decode_state(self.state.get()) if self.state.exists() else (0, {})
        )
        deadline, events, emissions = step(
            key[0], old, events, rows, now, self.buffer_ms, self.event_time
        )
        # a new deadline means a new buffer: CANCEL the superseded timer,
        # or it would fire later and expire the fresh buffer early (the v1
        # operator cannot cancel). A timer at a past event time (late first
        # event) fires on the next micro-batch.
        if deadline != old:
            if old > 0:
                self.handle.deleteTimer(old)
            if events:
                self.handle.registerTimer(deadline)
        if events:
            self.state.update(_state_tuple(deadline, events))
        elif self.state.exists():
            self.state.clear()
        yield from _frames(emissions)

    # -- timer expiry (the punctuator path) --------------------------------

    def handleExpiredTimer(
        self,
        key: tuple,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo,
    ) -> Iterator[pd.DataFrame]:
        if not self.state.exists():
            return
        deadline, events = _decode_state(self.state.get())
        # a timer the stale-flush path re-registered can race one already
        # queued for this batch: only the CURRENT buffer's deadline expires
        # it (defensive guard; deleteTimer makes this near-unreachable)
        if deadline > expiredTimerInfo.getExpiryTimeInMs():
            return
        self.state.clear()
        yield from _frames(close(key[0], events))


class OrderUnifyEventProcessor(OrderUnifyProcessor):
    """Event-time twin of ``OrderUnifyProcessor``: the buffer deadline is
    ``first event's event-time + buffer_ms`` and the per-key timer fires
    when the WATERMARK passes it (``timeMode="eventTime"``) — replaying
    the same input yields the same projections, the deterministic-
    reprocessing mode the reference's wall-clock punctuator
    (OrderProjectionTransformer.java:35,43) cannot offer. Mirrors the v1
    ``make_unify_fn_event_time`` semantics on the v2 API, with the
    TWS-native improvement that the stale-flush path CANCELS the
    superseded timer instead of guarding at expiry."""

    event_time = True


def unify_stream_tws_event_time(
    events: DataFrame,
    buffer_ms: int = 5000,
    ts_col: str = "timestamp",
    watermark_delay: str = "2 seconds",
) -> DataFrame:
    """Event-time unification on the v2 API: same output contract as
    ``unify_stream_tws`` but windows are measured in EVENT time and
    closed by the watermark — deterministic under replay. ``ts_col``
    must be an ISO-8601 string or timestamp column. Requires the RocksDB
    state store provider, like every TWS query.

    The watermark column and ``event_ms`` ride through the grouping into
    the processor (dropping ``_event_time`` would detach the watermark
    that event-time timers require); the processor pops both before
    buffering, so state rows stay on the shared v1 schema.
    """
    import pyspark.sql.functions as F

    with_ts = events.withColumn(
        "_event_time", F.to_timestamp(ts_col)
    ).withColumn("event_ms", F.unix_millis(F.col("_event_time")))
    return (
        with_ts.withWatermark("_event_time", watermark_delay)
        .groupBy("order_id")
        .transformWithStateInPandas(
            statefulProcessor=OrderUnifyEventProcessor(buffer_ms),
            outputStructType=UNIFY_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )


def unify_stream_tws(
    events: DataFrame,
    buffer_ms: int = 5000,
) -> DataFrame:
    """v2-API equivalent of ``unify_stream``: input columns
    (order_id, type, timestamp, order_details), type already canonicalized,
    null ids filtered. Returns append-mode (order_id, n_events, payload).

    Requires the RocksDB state store provider (see module docstring);
    ``app.apply_state_store_config`` sets it.
    """
    return events.groupBy("order_id").transformWithStateInPandas(
        statefulProcessor=OrderUnifyProcessor(buffer_ms),
        outputStructType=UNIFY_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="processingTime",
    )
