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
from hypothesis import given, settings, strategies as st

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
# 4. hypothesis on the streaming dedup bucket kernels: for ANY batching
# and ANY within-batch arrival shuffle, the bucket's exemplar is the
# min-seq row of the earliest batch that touched it, everyone else is
# flagged against exactly that exemplar, and re-processing order inside
# a batch never matters (the kernel sorts by seq).
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.streaming.dedup_stream import (  # noqa: E402
    make_bucket_first_wins_fn,
    make_bucket_verified_fn,
)

bucket_plans = st.lists(
    st.lists(st.integers(0, 999), min_size=1, max_size=6, unique=True),
    min_size=1,
    max_size=4,
).filter(lambda bs: len({s for b in bs for s in b}) == sum(len(b) for b in bs))


def _isnull(x):
    return x is None or (isinstance(x, float) and pd.isna(x))


def _run_bucket(fn, batches, sig_of=None):
    state = FakeState()
    out = []
    for batch in batches:
        cols = {
            "doc_id": [7000 + s for s in batch],
            "seq": batch,
        }
        if sig_of is not None:
            cols["_sig"] = [sig_of(s) for s in batch]
        pdf = pd.DataFrame(cols)
        for res in fn((3, "bk"), iter([pdf]), state):
            out.extend(res.to_dict("records"))
    return out, state


@settings(max_examples=60, deadline=None)
@given(bucket_plans)
def test_bucket_first_wins_exemplar_is_earliest_batch_min_seq(batches):
    out, state = _run_bucket(make_bucket_first_wins_fn(), batches)
    exemplar_seq = min(batches[0])
    exemplar_id = 7000 + exemplar_seq
    assert state.get == (exemplar_seq, exemplar_id)
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

    out, state = _run_bucket(
        make_bucket_verified_fn(0.5, 16), batches, sig_of=sig_of
    )
    first_seq, first_id, first_sig = state.get
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
