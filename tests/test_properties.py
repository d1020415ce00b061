"""Property-based and generator-golden tests (SURVEY.md §5.4).

1. The shared spec of the buffer state machine: hypothesis delivery plans
   (interleavings, duplicates, unknown types, batch splits, clock or
   watermark advances) run through all four streaming adapters — v1
   processing/event time on a real ``GroupState``, TWS processing/event
   time on a fake handle. Every adapter must emit exactly what an
   independent model of the reference emits, and arm exactly the model's
   deadline after every batch; single-window plans must also match the
   batch twin.
2. The seeded scenario generator (G1-G5) against an independent pure-
   Python oracle of the unification semantics, through the BATCH operator.
"""

from __future__ import annotations

import json

import pandas as pd
from hypothesis import example, given, settings, strategies as st

from kafka_stream_unify_order_messages_spark.operators.unify import unify_events
from kafka_stream_unify_order_messages_spark.sources.generator import (
    generate_order_events,
    order_events_df,
)
from kafka_stream_unify_order_messages_spark.streaming import (
    make_unify_fn,
    make_unify_fn_event_time,
)
from kafka_stream_unify_order_messages_spark.streaming.unify_tws import (
    OrderUnifyEventProcessor,
    OrderUnifyProcessor,
)

from tests.test_unify_stream import COLS, FakeState, armed_timeout, group_state
from tests.test_unify_tws import (
    FakeExpiredTimer,
    FakeHandle,
    FakeTimerValues,
    FakeWatermarkTimerValues,
)

REQUIRED = ("created", "placed", "cancelled")
BUFFER_MS = 5000
T0 = 50_000


# ---------------------------------------------------------------------------
# 1. the shared spec: one plan, four adapters, one model
# ---------------------------------------------------------------------------

# a delivery plan: which types arrive (possibly repeated), in which order,
# each with the gap before it: 0 keeps it in the current micro-batch, a
# positive gap starts a new batch that much later on the clock (or
# watermark); ``tick`` runs an empty batch at that time first, so expired
# buffers time out instead of being flushed by the arrival
TYPES = st.sampled_from(REQUIRED + ("bogus",))
deliveries = st.lists(
    st.tuples(TYPES, st.sampled_from((0, 100)), st.just(False)),
    min_size=1,
    max_size=12,
)  # inside one buffer window: at most 1.1 s of gaps
GAPS = st.sampled_from((0, 100, 2_000, 5_000, 6_000))  # 5 s: on the deadline
windows = st.lists(st.tuples(TYPES, GAPS, st.booleans()), min_size=1, max_size=16)


def batches_of(plan):
    """Plan -> [(time_ms, [(type, arrival index)])]; an empty list is a
    tick. A final tick far past every deadline drains open buffers."""
    now, batches = T0, []
    for i, (etype, gap, tick) in enumerate(plan):
        if gap or not batches:
            now += gap
            if tick:
                batches.append((now, []))
            batches.append((now, []))
        batches[-1][1].append((etype, i))
    return batches + [(now + 10 * BUFFER_MS, [])]


def model(batches):
    """The reference's semantics, independent of ``step``: emissions as
    [[(type, arrival)] in priority order], and after each batch the open
    buffer's deadline (None when no buffer is open)."""
    emitted, deadlines, buf, deadline = [], [], {}, None
    for now, rows in batches:
        if rows and buf and now >= deadline:  # stale-flush-on-arrival
            emitted.append(buf)
            buf = {}
        for etype, i in rows:
            if etype in REQUIRED:
                if not buf:
                    deadline = now + BUFFER_MS
                buf.setdefault(etype, i)
        if buf and deadline < now:  # the punctuator
            emitted.append(buf)
            buf = {}
        deadlines.append(deadline if buf else None)
    complete = [[(t, b[t]) for t in REQUIRED] for b in emitted if len(b) == 3]
    return complete, deadlines


def frame(rows, now, event_time):
    pdf = pd.DataFrame(
        [("o", t, f"t{i}", json.dumps({"arrival": i})) for t, i in rows],
        columns=COLS,
    )
    # event-time rows carry their event time; here it is the batch's
    # watermark, so both time modes see the same deadlines
    return pdf.assign(event_ms=now, _event_time=now) if event_time else pdf


class V1:
    """v1 ``applyInPandasWithState`` engine loop around one key: a fresh
    real ``GroupState`` per call; the key times out in a batch without
    its rows once the armed timeout is behind the batch time/watermark."""

    def __init__(self, event_time):
        self.event_time = event_time
        self.fn = (
            make_unify_fn_event_time(BUFFER_MS)
            if event_time
            else make_unify_fn(BUFFER_MS, clock=lambda: self.now)
        )
        self.value = self.timeout = None

    def _call(self, now, pdfs, timed_out=False):
        self.now = now
        state = group_state(self.value, now, timed_out, self.event_time)
        out = list(self.fn(("o",), pdfs, state))
        self.value = state.getOption
        self.timeout = armed_timeout(state)
        return out

    def feed(self, now, rows):
        return self._call(now, iter([frame(rows, now, self.event_time)]))

    def tick(self, now):
        if self.value is None or self.timeout >= now:
            return []
        return self._call(now, iter([]), timed_out=True)

    def armed(self):
        return (self.value[0], [self.timeout]) if self.value else (None, [])


class TWS:
    """v2 ``transformWithStateInPandas`` engine loop around one key: timers
    behind the batch time/watermark fire once each, oldest first."""

    def __init__(self, event_time):
        cls = OrderUnifyEventProcessor if event_time else OrderUnifyProcessor
        self.proc, self.handle = cls(BUFFER_MS), FakeHandle()
        self.proc.init(self.handle)
        self.event_time = event_time
        self.values = FakeWatermarkTimerValues if event_time else FakeTimerValues

    def feed(self, now, rows):
        pdfs = iter([frame(rows, now, self.event_time)])
        return list(self.proc.handleInputRows(("o",), pdfs, self.values(now)))

    def tick(self, now):
        out = []
        for t in sorted(t for t in self.handle.timers if t < now):
            self.handle.timers.remove(t)
            out += self.proc.handleExpiredTimer(
                ("o",), self.values(now), FakeExpiredTimer(t)
            )
        return out

    def armed(self):
        state = self.handle.state
        return (state.get()[0] if state.exists() else None, self.handle.timers)


ADAPTERS = {
    "v1": lambda: V1(False),
    "v1_event_time": lambda: V1(True),
    "tws": lambda: TWS(False),
    "tws_event_time": lambda: TWS(True),
}


def decode(frames):
    return [
        [(e["type"], e["order_details"]["arrival"]) for e in p["events"]]
        for df in frames
        for p in map(json.loads, df["payload"])
    ]


def check_spec(plan):
    """Run the plan through every adapter; each must match the model's
    emissions and arm exactly the model's deadline after every batch."""
    batches = batches_of(plan)
    want, deadlines = model(batches)
    for name, make in ADAPTERS.items():
        adapter, frames = make(), []
        for (now, rows), deadline in zip(batches, deadlines):
            if rows:
                frames += adapter.feed(now, rows)
            frames += adapter.tick(now)
            armed = (deadline, [deadline] if deadline else [])
            assert adapter.armed() == armed, (name, now)
        assert decode(frames) == want, name
    return want


@settings(max_examples=60, deadline=None)
@given(deliveries)
def test_any_interleaving_yields_canonical_projection_or_nothing(plan):
    """Inside one window: a full type set yields exactly one projection
    in priority order holding each type's FIRST arrival (first-wins); any
    proper subset yields nothing (completeness gate)."""
    want = check_spec(plan)
    firsts = {}
    for i, (etype, _, _) in enumerate(plan):
        if etype in REQUIRED:
            firsts.setdefault(etype, i)
    if len(firsts) == 3:
        assert want == [[(t, firsts[t]) for t in REQUIRED]]
    else:
        assert want == []


@settings(max_examples=150, deadline=None)
@given(windows)
def test_tws_processor_matches_v1_semantics(plan):
    """Across windows: timeouts, stale-flush-on-arrival, deadlines that
    later events never extend, superseded TWS timers cancelled — the
    same emissions and armed deadline from all four adapters."""
    check_spec(plan)


@settings(max_examples=4, deadline=None)
@given(st.lists(deliveries, min_size=1, max_size=25))
def test_single_window_plans_match_batch_twin(spark, plans):
    """The batch twin (operators/unify.py) over the same events, one order
    per plan, emits what the streaming adapters emit."""
    rows, want = [], {}
    for k, plan in enumerate(plans):
        for got in check_spec(plan):
            want[f"o{k}"] = got
        rows += [
            (f"o{k}", etype, i, json.dumps({"arrival": i}))
            for i, (etype, _, _) in enumerate(plan)
        ]
    df = spark.createDataFrame(
        rows, "order_id string, type string, arrival int, order_details string"
    )
    out = unify_events(
        df, arrival_cols=["arrival"], payload_cols=["type", "order_details"]
    )
    got = {
        r["order_id"]: [
            (e["type"], json.loads(e["order_details"])["arrival"])
            for e in r["events"]
        ]
        for r in out.collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# 2. generator scenarios vs a pure-Python oracle through the batch operator
# ---------------------------------------------------------------------------


def python_oracle(events):
    """Independent reimplementation of the unification semantics over the
    generator's event list (arrival_seq = arrival order)."""
    by_order: dict[str, dict[str, dict]] = {}
    for e in sorted(events, key=lambda e: e["arrival_seq"]):
        if e["order_id"] is None or e["type"] not in REQUIRED:
            continue
        by_order.setdefault(e["order_id"], {}).setdefault(e["type"], e)
    return {
        oid: [evs[t]["order_details"] for t in REQUIRED]
        for oid, evs in by_order.items()
        if set(evs) == set(REQUIRED)
    }


def run_batch(spark, events):
    df = order_events_df(spark, events)
    out = unify_events(
        df,
        id_col="order_id",
        type_col="type",
        arrival_cols=["arrival_seq"],
        payload_cols=["type", "order_details"],
        topic_col="topic",
    )
    return {
        r["order_id"]: [e["order_details"] for e in r["events"]]
        for r in out.collect()
    }


def test_generator_missing_scenarios_match_oracle(spark):
    events = generate_order_events(60, seed=7, missing_probability=0.4)
    assert run_batch(spark, events) == python_oracle(events)
    # sanity: the scenario actually produced incomplete lifecycles
    assert len(python_oracle(events)) < 60


def test_generator_duplicate_scenarios_match_oracle(spark):
    events = generate_order_events(60, seed=11, duplicate_probability=0.5)
    got = run_batch(spark, events)
    assert got == python_oracle(events)
    assert len(got) == 60  # duplicates never destroy a lifecycle
    assert len(events) > 180  # injection actually duplicated something


def test_generator_validation_parity():
    import pytest

    with pytest.raises(ValueError):
        generate_order_events(1, missing_probability=0.5, duplicate_probability=0.5)
    with pytest.raises(ValueError):
        generate_order_events(1, missing_probability=1.5)


# ---------------------------------------------------------------------------
# 3. hypothesis on the KMV sketch: for ANY pair of integer sets, the
# sketch with k >= |union| degenerates to the exact answer, and the
# small-k estimator stays inside its hard bounds.
# ---------------------------------------------------------------------------

set_pairs = st.tuples(
    st.sets(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
    st.sets(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
)


@settings(max_examples=8, deadline=None)
@given(set_pairs)
def test_kmv_exact_below_k_and_bounded_above(spark, pair):
    import pyspark.sql.functions as F  # noqa: F401

    from kafka_stream_unify_order_messages_spark.operators import sketches as SK

    sa, sb = pair
    rows = [("a", i) for i in sa] + [("b", i) for i in sb]
    df = spark.createDataFrame(rows, ["g", "item"])

    exact_inter = len(sa & sb)
    exact_union = len(sa | sb)

    # k >= |union| -> every estimate is exactly the true value
    big = SK.kmv_pair_overlap(df, "g", "item", k=512).collect()[0]
    assert big.exact_inter == exact_inter
    assert big.exact_union == exact_union
    assert big.kmv_union_est == float(exact_union)
    assert big.kmv_inter_est == float(exact_inter)

    # small k -> hard bounds that hold for EVERY input, not on average
    small = SK.kmv_pair_overlap(df, "g", "item", k=8).collect()[0]
    assert 0.0 <= small.kmv_jaccard <= 1.0
    assert small.kmv_union_est > 0.0
    assert small.exact_inter == exact_inter  # audit side always exact
    assert small.exact_union == exact_union


# ---------------------------------------------------------------------------
# 4. the dedup spec: one plan, every bucket mode, one model. The four
# kernels — {first-wins, verified} x {processing, event time}, each with
# and without its ttl / retention horizon — run the same delivery plan
# through make_bucket_fn on a real GroupState; the emitted rows, the
# stored state row and the armed timeout after every batch must equal an
# independent model's. Event-time runs may start from a pre-retention
# checkpoint (no trailing last_ts).
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.streaming import (  # noqa: E402
    dedup_stream as DS,
)

H = 4  # num_hashes: estimates are quarters, so est == THRESHOLD occurs
THRESHOLD = 0.5
HORIZON = 10  # ttl_ms / retention_ms
BAND = 3
NO_TIMEOUT = -1
SEQS = st.integers(1, 30)  # seq == event time in ms, strictly positive
# each step: the gap before it (0 keeps the current micro-batch, a
# positive gap opens a new batch that much later on the clock or
# watermark) and the seqs arriving; no seqs is an empty batch
dedup_plans = st.lists(
    st.tuples(st.sampled_from((0, 1, 5, 10, 11, 25)), st.lists(SEQS, max_size=3)),
    min_size=1,
    max_size=10,
)
signatures = st.dictionaries(
    SEQS, st.lists(st.integers(0, 1), min_size=H, max_size=H)
)
# a pre-retention event-time checkpoint: claimant seq (or none) and the
# pending seqs, stored without last_ts
legacy_states = st.none() | st.tuples(
    st.none() | SEQS, st.lists(SEQS, max_size=3, unique=True)
)
MODES = [
    (verified, event_time, horizon)
    for verified in (False, True)
    for event_time in (False, True)
    for horizon in (None, HORIZON)
]


def doc_of(seq):
    return 100 - seq  # id order opposite to seq order


def state_schema(verified, event_time):
    return {
        (False, False): DS.BUCKET_STATE_SCHEMA,
        (True, False): DS.BUCKET_STATE_VERIFIED_SCHEMA,
        (False, True): DS.BUCKET_STATE_EVENT_SCHEMA,
        (True, True): DS.BUCKET_STATE_EVENT_VERIFIED_SCHEMA,
    }[verified, event_time]


def field_names(ddl):
    return [f.split()[0] for f in ddl.split(",")]


def stored(schema, claim, pending, last_ts, sig_of):
    """The state row of ``schema`` for a claimant seq (or None), the
    pending seqs and ``last_ts``, built by field name."""
    fields = {
        "first_seq": claim,
        "first_id": None if claim is None else doc_of(claim),
        "sig": None if claim is None else sig_of(claim),
        "pend_seqs": pending,
        "pend_ids": [doc_of(s) for s in pending],
        "pend_ts": pending,
        "pend_sigs": [sig_of(s) for s in pending],
        "last_ts": last_ts,
    }
    return tuple(fields[n] for n in field_names(schema))


def dedup_batches(plan, event_time, seen=()):
    """Plan -> [(now, seqs)]: ``now`` is the batch time or the watermark.
    Each seq arrives once; in event time an arrival at or below the
    previous batch's watermark is dropped, as Spark's pre-state late
    filter does. A final empty batch far past every horizon drains."""
    seen, now, prev, batches = set(seen), 0, 0, []
    for gap, seqs in plan:
        if gap or not batches:
            prev, now = now, now + gap
            batches.append((now, []))
        for s in seqs:
            if s not in seen and not (event_time and s <= prev):
                seen.add(s)
                batches[-1][1].append(s)
    return batches + [(now + 100, [])]


def dedup_model(batches, sig_of, mode, legacy=None):
    """The bucket semantics, independent of ``decide``: per batch None
    when the key is not called, else (emitted rows, stored state row or
    None, armed timeout or None)."""
    verified, event_time, horizon = mode
    claim, pending, last_ts, armed = None, [], None, NO_TIMEOUT
    if legacy is not None:
        claim, pending = legacy[0], sorted(legacy[1])
        armed = pending[0] if pending else NO_TIMEOUT
    exists = legacy is not None
    schema = state_schema(verified, event_time)
    out = []
    for now, arrivals in batches:
        timed_out = exists and armed != NO_TIMEOUT and armed < now
        if not arrivals and not timed_out:
            out.append(None)
            continue
        rows = []
        if not arrivals and not event_time:  # ttl expired: forget
            claim, exists = None, False
        else:
            pending = sorted(pending + arrivals)
            if event_time and arrivals:
                last_ts = max(arrivals + [last_ts or 0])
            ready = [s for s in pending if not event_time or s <= now]
            pending = [s for s in pending if s not in ready]
            for s in ready:
                if claim is None:
                    claim = s
                    rows.append((doc_of(s), s, BAND, False, None, None))
                    continue
                est = None
                if verified:
                    same = [a == b for a, b in zip(sig_of(s), sig_of(claim))]
                    est = sum(same) / H
                dup = not verified or est >= THRESHOLD
                rows.append(
                    (doc_of(s), s, BAND, dup, doc_of(claim) if dup else None, est)
                )
            exists = True
            if not event_time:
                armed = now + horizon if horizon else NO_TIMEOUT
            else:
                expires = None
                if horizon and claim is not None and last_ts is not None:
                    expires = last_ts + horizon
                if not pending and expires is not None and now >= expires:
                    claim, last_ts, exists = None, None, False
                elif pending:  # every pending ts is above the watermark
                    armed = pending[0]
                else:
                    armed = NO_TIMEOUT if expires is None else expires
        if not verified:
            rows = [r[:5] for r in rows]
        state = stored(schema, claim, pending, last_ts, sig_of)
        out.append((rows, state, armed) if exists else (rows, None, None))
    return out


class Bucket:
    """The ``applyInPandasWithState`` engine loop around one bucket key:
    a fresh real ``GroupState`` per call. The key is called with its
    rows, or times out in a batch without them once its armed timeout is
    behind the batch time or watermark; otherwise it is not called."""

    def __init__(self, mode, sig_of):
        verified, self.event_time, horizon = mode
        self.fn = DS.make_bucket_fn(
            THRESHOLD if verified else None, H, self.event_time, horizon
        )
        self.verified, self.sig_of = verified, sig_of
        self.schema = state_schema(verified, self.event_time)
        self.value, self.timeout = None, NO_TIMEOUT

    def frame(self, seqs):
        pdf = pd.DataFrame({"doc_id": [doc_of(s) for s in seqs], "seq": seqs})
        if self.verified:
            pdf["_sig"] = [self.sig_of(s) for s in seqs]
        if self.event_time:
            pdf["_ts_ms"] = seqs
        return pdf

    def batch(self, now, seqs):
        timed_out = not seqs
        if timed_out and (
            self.value is None
            or self.timeout == NO_TIMEOUT
            or self.timeout >= now
        ):
            return None
        state = group_state(
            self.value, now, timed_out, self.event_time, self.schema
        )
        pdfs = iter([] if timed_out else [self.frame(seqs)])
        frames = list(self.fn((BAND, "bk"), pdfs, state))
        self.value, self.timeout = state.getOption, armed_timeout(state)
        names = field_names(
            DS.BAND_DECISION_VERIFIED_SCHEMA
            if self.verified
            else DS.BAND_DECISION_SCHEMA
        )
        assert all(list(f.columns) == names for f in frames)
        rows = [
            tuple(None if _isnull(v) else v for v in r)
            for f in frames
            for r in f.itertuples(index=False, name=None)
        ]
        armed = self.timeout if self.value is not None else None
        return rows, self.value, armed


def _isnull(x):
    return x is None or (isinstance(x, float) and pd.isna(x))


def check_dedup(plan, sigs, legacy):
    """Run the plan through every mode; each must match the model after
    every batch. Returns {mode: the model's emitted rows}."""
    sig_of = lambda s: sigs.get(s, [0] * H)  # noqa: E731
    if legacy is not None:
        claim, pending = legacy[0], sorted(set(legacy[1]) - {legacy[0]})
        legacy = claim, pending
    emitted = {}
    for mode in MODES:
        verified, event_time, _ = mode
        bucket, start, seen = Bucket(mode, sig_of), None, ()
        if event_time and legacy is not None:
            # the pre-retention writer stored no last_ts and armed the
            # earliest pending event time
            claim, pending = start = legacy
            seen = {claim, *pending} - {None}
            bucket.value = stored(bucket.schema, claim, pending, None, sig_of)[:-1]
            bucket.timeout = pending[0] if pending else NO_TIMEOUT
        batches = dedup_batches(plan, event_time, seen)
        want = dedup_model(batches, sig_of, mode, start)
        for (now, seqs), expect in zip(batches, want):
            assert bucket.batch(now, seqs) == expect, (mode, now)
        emitted[mode] = [r for b in want if b for r in b[0]]
    return emitted


@settings(max_examples=150, deadline=None)
@given(dedup_plans, signatures, legacy_states)
# a pre-retention row pending seq 25 meets a later, lower arrival: its
# retention horizon (3 + 10) passes while 25 still pends
@example([(1, [3]), (15, [])], {}, (None, [25]))
def test_dedup_bucket_modes_match_one_model(plan, sigs, legacy):
    """All four kernels against one model. From a fresh bucket the model
    decides every delivered doc exactly once; without a horizon the
    first-wins claimant is the first batch's min seq (processing time)
    or the global min seq (event time) and every other doc is a dup of
    it; verification never changes who claims the bucket."""
    emitted = check_dedup(plan, sigs, legacy)
    for (verified, event_time, horizon), rows in emitted.items():
        if event_time and legacy is not None:
            continue
        batches = [b for b in dedup_batches(plan, event_time) if b[1]]
        delivered = sorted(s for _now, seqs in batches for s in seqs)
        assert sorted(r[1] for r in rows) == delivered
        if verified:
            twin = emitted[False, event_time, horizon]
            assert [r[1] for r in rows if r[5] is None] == [
                r[1] for r in twin if not r[3]
            ]
        elif horizon is None and batches:
            claim = min(delivered if event_time else batches[0][1])
            for _doc, seq, _band, is_dup, dup_of in rows:
                assert is_dup == (seq != claim)
                assert dup_of == (doc_of(claim) if is_dup else None)


# the processing-time kernels driven directly, one GroupState per
# micro-batch carrying the stored row forward: the exemplar claims, who
# it is and that it is never replaced, stated without the model

bucket_plans = st.lists(
    st.lists(st.integers(0, 999), min_size=1, max_size=6, unique=True),
    min_size=1,
    max_size=4,
).filter(lambda bs: len({s for b in bs for s in b}) == sum(len(b) for b in bs))


def _run_bucket(threshold, batches, sig_of=None):
    fn = DS.make_bucket_fn(threshold, 16)
    schema = state_schema(threshold is not None, False)
    value, out = None, []
    for now, batch in enumerate(batches):
        cols = {"doc_id": [7000 + s for s in batch], "seq": batch}
        if sig_of is not None:
            cols["_sig"] = [sig_of(s) for s in batch]
        state = group_state(value, now, False, False, schema)
        for res in fn((3, "bk"), iter([pd.DataFrame(cols)]), state):
            out.extend(res.to_dict("records"))
        value = state.getOption
    return out, value


@settings(max_examples=60, deadline=None)
@given(bucket_plans)
def test_bucket_first_wins_exemplar_is_earliest_batch_min_seq(batches):
    out, state = _run_bucket(None, batches)
    exemplar_seq = min(batches[0])
    exemplar_id = 7000 + exemplar_seq
    assert tuple(state) == (exemplar_seq, exemplar_id)
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == len(by_id) == sum(len(b) for b in batches)
    for r in out:
        assert r["band"] == 3
        if r["doc_id"] == exemplar_id:
            assert not r["is_dup"] and _isnull(r["dup_of"])
        else:
            assert r["is_dup"] and r["dup_of"] == exemplar_id


@settings(max_examples=60, deadline=None)
@given(
    bucket_plans,
    st.integers(0, 16),  # how many signature components match the exemplar
)
def test_bucket_verified_threshold_gates_and_exemplar_is_stable(
    batches, n_match
):
    # exemplar's signature is all zeros; every other doc matches it in
    # exactly n_match of 16 components (the mismatching components are
    # made unique per doc so docs never accidentally equal each other)
    exemplar_seq = min(batches[0])

    def sig_of(seq):
        if seq == exemplar_seq:
            return [0] * 16
        return [0] * n_match + [1000 + seq] * (16 - n_match)

    out, state = _run_bucket(0.5, batches, sig_of=sig_of)
    first_seq, first_id, first_sig = state
    assert (first_seq, first_id) == (exemplar_seq, 7000 + exemplar_seq)
    assert list(first_sig) == [0] * 16  # exemplar NEVER replaced
    should_dup = (n_match / 16) >= 0.5
    for r in out:
        if r["doc_id"] == first_id:
            assert not r["is_dup"] and _isnull(r["est"])
        else:
            assert r["est"] == n_match / 16
            assert bool(r["is_dup"]) == should_dup
            assert (r["dup_of"] == first_id) if should_dup else _isnull(
                r["dup_of"]
            )


# ---------------------------------------------------------------------------
# 5. hypothesis on the histogram quantile sketch: for ANY value multiset
# and ANY grouping, (a) merged per-group sketches == the direct one-pass
# histogram (mergeability identity), (b) every interpolated quantile is
# within one bin width of the true quantile.
# ---------------------------------------------------------------------------

value_sets = st.lists(
    st.tuples(
        st.integers(0, 2),  # group
        st.floats(
            min_value=-100, max_value=100,
            allow_nan=False, allow_infinity=False,
        ),
    ),
    min_size=4,
    max_size=40,
)


@settings(max_examples=6, deadline=None)
@given(value_sets)
def test_histogram_sketch_merge_identity_and_error_bound(spark, rows):
    import numpy as np

    from kafka_stream_unify_order_messages_spark.operators import (
        sketches as SK,
    )

    df = spark.createDataFrame(
        [(f"g{g}", float(v)) for g, v in rows], "g string, v double"
    )
    merged = SK.merge_histogram_sketches(
        SK.histogram_sketch(df, "g", "v", n_bins=8)
    )
    got = {r["bin"]: r["cnt"] for r in merged.collect()}
    vals = np.array([v for _, v in rows], dtype=float)
    lo, hi = vals.min(), vals.max()
    if hi == lo:
        assert got == {0: len(vals)}
        return
    bins = np.minimum(
        np.floor((vals - lo) / (hi - lo) * 8).astype(int), 7
    )
    want = {int(b): int(c) for b, c in zip(*np.unique(bins, return_counts=True))}
    assert got == want
    est = {
        r["q"]: r["estimate"]
        for r in SK.histogram_quantiles(merged, [0.25, 0.5, 0.9], 8).collect()
    }
    width = (hi - lo) / 8
    for q in (0.25, 0.5, 0.9):
        # the sketch's guarantee is RANK-based: the estimate lies in the
        # bin holding the ceil(q*N)-th sorted value (inverse-CDF
        # quantile). The interpolated (type-7) quantile can sit a whole
        # inter-value gap away when ties straddle bins — hypothesis
        # found [0,0,0,1] @ q=0.9 — so that is NOT the bound we claim.
        rank_q = np.quantile(vals, q, method="inverted_cdf")
        assert abs(est[q] - rank_q) <= width + 1e-9
