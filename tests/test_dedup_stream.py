"""Stateful streaming near-dup dedup (streaming/dedup_stream.py):
stream verdicts must be bit-equal to the batch `near_dup_first_wins`
semantics on the same arrival order, including duplicates that span
micro-batch boundaries (the part that exercises persisted bucket state).
"""

from __future__ import annotations

import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from kafka_stream_unify_order_messages_spark.operators import dedup as D
from kafka_stream_unify_order_messages_spark.streaming.dedup_stream import (
    BUCKET_STATE_EVENT_SCHEMA,
    BUCKET_STATE_EVENT_VERIFIED_SCHEMA,
    band_decisions_stream,
    band_decisions_stream_event_time,
    make_bucket_fn,
    near_dup_verdicts,
)

from conftest import SF_DIR
from tests.test_unify_stream import FakeState, armed_timeout, group_state

SCHEMA = "doc_id long, seq long, text string"


def _expected_verdicts(spark, fed_rows):
    """Batch re-derivation of the stream's contract: per document,
    is_dup iff some LSH bucket's first claimant (min seq) is earlier,
    dup_of = the smallest such exemplar id."""
    df = spark.createDataFrame(fed_rows, SCHEMA)
    bands = D.minhash_band_keys(
        D.minhash_signatures_wide(df, "doc_id", "text", 16, 3), "doc_id", 4
    ).join(df.select("doc_id", "seq"), "doc_id")
    firsts = bands.groupBy("band", "band_key").agg(
        F.min(F.struct("seq", "doc_id")).alias("first")
    )
    j = bands.join(firsts, ["band", "band_key"]).select(
        "doc_id", "seq",
        F.col("first.seq").alias("first_seq"),
        F.col("first.doc_id").alias("first_id"),
    )
    earlier = F.min(F.when(F.col("first_seq") < F.col("seq"), F.col("first_id")))
    return j.groupBy("doc_id", "seq").agg(
        earlier.isNotNull().alias("is_dup"), earlier.alias("dup_of")
    )


def _write_chunk(src_dir, rows, n):
    table = pa.table({
        "doc_id": [r[0] for r in rows],
        "seq": [r[1] for r in rows],
        "text": [r[2] for r in rows],
    })
    pq.write_table(table, f"{src_dir}/chunk-{n:04d}.parquet")


def test_stream_matches_batch_first_wins(spark, tmp_path):
    base = [
        (int(r["doc_id"]), str(r["text"]))
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id").limit(90).collect()
    ]
    # arrival order = seq; chunks of 30; inject cross-chunk near-dups:
    # chunk 2 re-sends chunk 0 texts under fresh ids (state must remember)
    fed = []
    for i, (doc_id, text) in enumerate(base):
        fed.append((doc_id, i, text))
    resend = [(9000 + k, 90 + k, base[k][1]) for k in range(5)]
    # null, empty and blank texts share one MinHash signature in the
    # batch twin and in the stream alike; feeding them across chunks
    # pins that agreement, so neither twin can change it alone
    blank = [(8000 + k, 1000 + k, t) for k, t in enumerate([None, None, "", "   "])]
    chunks = [
        fed[0:30] + blank[:1], fed[30:60] + blank[1:3], fed[60:90] + resend + blank[3:]
    ]
    all_rows = [r for c in chunks for r in c]

    src = tmp_path / "in"
    src.mkdir()
    name = f"neardup_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    query = (
        band_decisions_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for n, chunk in enumerate(chunks):
            _write_chunk(src, chunk, n)
            query.processAllAvailable()
    finally:
        query.stop()

    got = {
        r["doc_id"]: (bool(r["is_dup"]), r["dup_of"])
        for r in near_dup_verdicts(spark.table(name)).collect()
    }
    want = {
        r["doc_id"]: (bool(r["is_dup"]), r["dup_of"])
        for r in _expected_verdicts(spark, all_rows).collect()
    }
    assert got == want
    # the injected re-sends arrived two micro-batches after their
    # exemplars: flagging them proves bucket state survived the batches
    for k in range(5):
        is_dup, dup_of = got[9000 + k]
        assert is_dup and dup_of == base[k][0]
    # the first arrival can collide with nothing earlier
    assert got[base[0][0]] == (False, None)
    assert [got[8000 + k] for k in range(4)] == [(False, None)] + [(True, 8000)] * 3


def test_intra_batch_order_resolves_by_seq(spark, tmp_path):
    """Two copies of one text in the SAME micro-batch: the lower seq
    wins the bucket, the higher seq is flagged against it."""
    text = (
        "the quick brown fox jumps over the lazy dog while the morning "
        "light slowly fills the open sky with warm color and shape"
    )
    src = tmp_path / "in"
    src.mkdir()
    name = f"neardup_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    query = (
        band_decisions_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _write_chunk(src, [(7, 1, text), (3, 0, text)], 0)
        query.processAllAvailable()
    finally:
        query.stop()
    got = {
        r["doc_id"]: (bool(r["is_dup"]), r["dup_of"])
        for r in near_dup_verdicts(spark.table(name)).collect()
    }
    assert got == {3: (False, None), 7: (True, 3)}


@pytest.mark.parametrize("event_time", [False, True])
def test_null_id_or_seq_rows_are_dropped(spark, tmp_path, event_time):
    """A batch holding rows with a null doc_id or a null seq (same text
    as a valid row): both dedup streams drop them before the stateful groupBy
    instead of failing the query on int(NaN) in the state function."""
    text = (
        "the quick brown fox jumps over the lazy dog while the morning "
        "light slowly fills the open sky with warm color and shape"
    )
    src = tmp_path / "in"
    src.mkdir()
    name = f"nulldedup_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    frame = (
        band_decisions_stream_event_time(stream, watermark_delay="1 second")
        if event_time
        else band_decisions_stream(stream)
    )
    query = (
        frame.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _write_chunk(src, [(1, 1000, text), (None, 2000, text), (3, None, text)], 0)
        query.processAllAvailable()
        if event_time:  # the watermark kicker decides the pending row
            _write_chunk(src, [(99999, 60_000, "watermark kicker text")], 1)
            query.processAllAvailable()
            query.processAllAvailable()
        got = {
            r["doc_id"]: (bool(r["is_dup"]), r["dup_of"])
            for r in near_dup_verdicts(
                spark.table(name).filter(F.col("doc_id") < 99999)
            ).collect()
        }
    finally:
        query.stop()
    assert got == {1: (False, None)}


def test_verified_stream_matches_batch_and_filters_false_positives(
    spark, tmp_path
):
    """Verified mode: signature rides in bucket state; collisions below
    the jaccard threshold are NOT duplicates. Fed with exact re-sends
    (est 1.0 -> dup) and a heavily-edited re-send that still shares a
    band (possible est < 0.5 -> flagged only if it clears), the stream's
    verdicts must equal a batch re-derivation with the same rule."""
    base = [
        (int(r["doc_id"]), str(r["text"]))
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id").limit(60).collect()
    ]
    fed = [(doc_id, i, text) for i, (doc_id, text) in enumerate(base)]
    # exact re-sends: est == 1.0
    fed += [(9000 + k, 60 + k, base[k][1]) for k in range(3)]
    # partial re-send: first half of doc 3's words + half fresh filler —
    # high shingle overlap in the kept half, est somewhere in (0, 1)
    words = base[3][1].split()
    half = " ".join(words[: len(words) // 2])
    filler = " ".join(f"zz{i} qq{i} kk{i}" for i in range(len(words) // 6))
    fed += [(9100, 63, half + " " + filler)]
    chunks = [fed[0:30], fed[30:64]]

    src = tmp_path / "in"
    src.mkdir()
    name = f"neardupv_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    query = (
        band_decisions_stream(stream, verify_threshold=0.5)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for n, chunk in enumerate(chunks):
            _write_chunk(src, chunk, n)
            query.processAllAvailable()
    finally:
        query.stop()

    got = {
        r["doc_id"]: (bool(r["is_dup"]), r["dup_of"], r["best_est"])
        for r in near_dup_verdicts(spark.table(name)).collect()
    }

    # batch re-derivation: bucket firsts by seq, est vs exemplar, >= 0.5
    df = spark.createDataFrame(fed, SCHEMA)
    wide = D.minhash_signatures_wide(df, "doc_id", "text", 16, 3)
    bands = D.minhash_band_keys(wide, "doc_id", 4).join(
        df.select("doc_id", "seq"), "doc_id"
    )
    firsts = bands.groupBy("band", "band_key").agg(
        F.min(F.struct("seq", "doc_id")).alias("first")
    )
    cand = (
        bands.join(firsts, ["band", "band_key"])
        .filter(F.col("first.seq") < F.col("seq"))
        .select("doc_id", "seq", F.col("first.doc_id").alias("first_id"))
        .distinct()
    )
    a = wide.select("doc_id", F.col("sig").alias("sig_a"))
    b = wide.select(F.col("doc_id").alias("first_id"), F.col("sig").alias("sig_b"))
    est = D.signature_agreement(F.col("sig_a"), F.col("sig_b"))
    sim = cand.join(a, "doc_id").join(b, "first_id").select(
        "doc_id", "seq", "first_id", est.alias("est")
    )
    agg = sim.groupBy("doc_id", "seq").agg(
        F.max("est").alias("best_est"),
        F.min(F.when(F.col("est") >= 0.5, F.col("first_id"))).alias("dup_of"),
    )
    want = {
        r["doc_id"]: (
            r["dup_of"] is not None,
            r["dup_of"],
            r["best_est"],
        )
        for r in df.select("doc_id", "seq").join(agg, ["doc_id", "seq"], "left")
        .collect()
    }
    assert got == want
    # the exact re-sends are dups of their originals with est 1.0
    for k in range(3):
        assert got[9000 + k] == (True, base[k][0], 1.0)


def test_ttl_kernel_semantics():
    """Kernel-level TTL: a timed-out bucket forgets its exemplar (next
    claimant is fresh), and every update re-arms the timer."""
    fn = make_bucket_fn(None, 16, horizon_ms=60_000)
    state = FakeState()
    batch = lambda rows: iter(  # noqa: E731
        [pd.DataFrame({"doc_id": [r[0] for r in rows],
                       "seq": [r[1] for r in rows]})]
    )
    out1 = list(fn((0, "bk"), batch([(11, 1)]), state))[0]
    assert not out1["is_dup"].iloc[0]
    assert state.get == (1, 11) and state.timeout_ms == 60_000

    # touch re-arms and dups against the live exemplar
    state.timeout_ms = None
    out2 = list(fn((0, "bk"), batch([(12, 2)]), state))[0]
    assert bool(out2["is_dup"].iloc[0]) and out2["dup_of"].iloc[0] == 11
    assert state.timeout_ms == 60_000

    # timeout fires: state dropped, nothing emitted
    timed_out = FakeState(state.get, timed_out=True)
    assert list(fn((0, "bk"), batch([]), timed_out)) == []
    assert timed_out.removed

    # post-expiry arrival becomes a fresh exemplar
    fresh = FakeState()
    out3 = list(fn((0, "bk"), batch([(13, 3)]), fresh))[0]
    assert not out3["is_dup"].iloc[0]
    assert fresh.get == (3, 13)


def _event_call(fn, value, wm, rows=(), timed_out=False):
    """One event-time kernel call, as the engine makes it: a fresh real
    ``GroupState`` holding the stored row ``value`` at watermark ``wm``,
    fed ``rows`` of (doc_id, seq) with event time = seq millis. Returns
    the emitted frames and the state after the call."""
    state = group_state(value, wm, timed_out, True, BUCKET_STATE_EVENT_SCHEMA)
    pdfs = iter([pd.DataFrame({
        "doc_id": [r[0] for r in rows],
        "seq": [r[1] for r in rows],
        "_ts_ms": [r[1] for r in rows],
    })] if rows else [])
    return list(fn((0, "bk"), pdfs, state)), state


def test_event_kernel_min_seq_wins_under_out_of_order_arrival():
    """The seq-deterministic kernel's headline property: a LOWER-seq doc
    arriving AFTER a higher-seq one still claims the bucket once the
    watermark decides them — the verdict the processing-time kernel
    (first ARRIVAL wins) cannot produce."""
    fn = make_bucket_fn(None, 16, event_time=True)
    # doc 20 (seq 2000) arrives FIRST, watermark still behind both
    out, state = _event_call(fn, None, 500, [(20, 2000)])
    assert out == []
    assert armed_timeout(state) == 2000  # armed at earliest undecided
    # doc 10 (seq 1000) arrives SECOND; watermark passes 1000 only
    (out1,), state = _event_call(fn, state.get, 1500, [(10, 1000)])
    assert list(out1["doc_id"]) == [10]
    assert not out1["is_dup"].iloc[0]  # min seq claims despite late arrival
    assert armed_timeout(state) == 2000
    # timeout fires once the watermark passes seq 2000
    (out2,), state = _event_call(fn, state.get, 2500, timed_out=True)
    assert list(out2["doc_id"]) == [20]
    assert bool(out2["is_dup"].iloc[0]) and out2["dup_of"].iloc[0] == 10
    # exemplar state is permanent; pending buffer drained
    assert state.get[:2] == (1000, 10) and state.get[2] == []


def test_event_kernel_ts_equals_watermark_decides():
    """Boundary pin for the decide rule: a pending row whose event time
    EQUALS the watermark is decided (ts <= wm), not kept pending. Safe
    because Spark's pre-state late filter drops arrivals with event time
    <= watermark (measured — see the kernel comment), so once wm == ts
    no lower-seq claimant at that timestamp can ever arrive. This is the
    case an earlier stale comment claimed stayed pending; the comment
    now matches the code and this test keeps it that way."""
    fn = make_bucket_fn(None, 16, event_time=True)
    # arrival at ts 2000 while wm < 2000: pends, timer at its ts
    out, state = _event_call(fn, None, 1999, [(42, 2000)])
    assert out == [] and armed_timeout(state) == 2000
    # watermark reaches EXACTLY 2000: the row decides
    (out,), state = _event_call(fn, state.get, 2000, timed_out=True)
    assert list(out["doc_id"]) == [42]
    assert not out["is_dup"].iloc[0]
    assert state.get[:2] == (2000, 42) and state.get[2] == []
    # no pending rows and no retention -> no timer re-armed (exemplar
    # state is permanent by default)
    assert armed_timeout(state) == -1
    out2, state = _event_call(fn, state.get, 2000, [(43, 2500)])
    # ts 2500 > wm 2000: pends, timer at 2500 (> wm, clamp inert)
    assert out2 == [] and armed_timeout(state) == 2500


def test_event_kernel_retention_forgets_idle_exemplar():
    """Event-time retention (the bounded-state story for the
    replay-deterministic twin): an exemplar whose bucket has been idle
    past `retention_ms` of EVENT time (watermark-driven) is forgotten —
    the next claimant is fresh; touches re-arm the horizon; retention
    never races a pending decision."""
    fn = make_bucket_fn(None, 16, event_time=True, horizon_ms=2000)
    # doc 10 @ ts 1000 arrives with wm already past it: decides, claims
    (out1,), state = _event_call(fn, None, 1500, [(10, 1000)])
    assert not out1["is_dup"].iloc[0]
    # empty pending buffer + retention -> timer armed at the idle
    # horizon last_ts + retention = 3000
    assert state.get[:2] == (1000, 10) and state.get[5] == 1000
    assert armed_timeout(state) == 3000

    # a touch INSIDE the window dups against the exemplar and re-arms
    (out2,), state = _event_call(fn, state.get, 2900, [(12, 2800)])
    assert bool(out2["is_dup"].iloc[0]) and out2["dup_of"].iloc[0] == 10
    assert state.get[5] == 2800 and armed_timeout(state) == 4800

    # horizon timeout fires with the bucket idle: exemplar forgotten
    out, state = _event_call(fn, state.get, 4800, timed_out=True)
    assert out == [] and not state.exists

    # post-forget claimant is FRESH (the retention recall trade)
    (out3,), fresh = _event_call(fn, None, 6000, [(20, 5500)])
    assert not out3["is_dup"].iloc[0]
    assert fresh.get[:2] == (5500, 20)

    # retention cannot race a pending decision: while rows pend, the
    # timer targets the earliest undecided ts, not the horizon, and the
    # idle branch is unreachable (last_ts >= pending ts > wm)
    out, pend_state = _event_call(fn, None, 1000, [(30, 5000)])
    assert out == [] and armed_timeout(pend_state) == 5000
    assert pend_state.exists and pend_state.get[2] == [5000]


def test_event_time_stream_matches_batch_under_scrambled_arrival(
    spark, tmp_path
):
    """End-to-end: OUT-OF-ORDER arrival (a dup pair's copy arrives a
    micro-batch BEFORE its lower-seq original) still yields verdicts
    bit-equal to the seq-ordered batch twin — the replay-deterministic
    contract of band_decisions_stream_event_time."""
    base = [
        (int(r["doc_id"]), str(r["text"]))
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id").limit(20).collect()
    ]
    # seq = event-time millis, 100 apart; copies of docs 0/1 under fresh
    # ids with HIGHER seq but EARLIER arrival (chunk 0); the 5 s delay
    # keeps every original inside the watermark horizon the copies set
    # ts must be strictly positive (the initial watermark is 0 and the
    # pre-state late filter drops ts <= watermark)
    originals = [
        (doc_id, 1000 + i * 100, text)
        for i, (doc_id, text) in enumerate(base)
    ]
    copies = [(9000, 3100, base[0][1]), (9001, 3200, base[1][1])]
    kicker = [(99999, 60_000, "watermark kicker text payload")]
    all_rows = originals + copies  # kicker excluded from the contract

    src = tmp_path / "in"
    src.mkdir()
    name = f"etdedup_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    query = (
        band_decisions_stream_event_time(stream, watermark_delay="5 seconds")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # copies FIRST, originals second (all within the 2 s delay of
        # the running max event time), kicker last to close the horizon
        _write_chunk(src, copies, 0)
        query.processAllAvailable()
        _write_chunk(src, originals, 1)
        query.processAllAvailable()
        _write_chunk(src, kicker, 2)
        query.processAllAvailable()
        query.processAllAvailable()  # let armed timeouts fire
        got = {
            r["doc_id"]: (bool(r["is_dup"]), r["dup_of"])
            for r in near_dup_verdicts(
                spark.table(name).filter(F.col("doc_id") < 99999)
            ).collect()
        }
    finally:
        query.stop()

    want = {
        r["doc_id"]: (bool(r["is_dup"]), r["dup_of"])
        for r in _expected_verdicts(spark, all_rows).collect()
    }
    assert got == want
    # the copies arrived FIRST but lose to their lower-seq originals —
    # the processing-time kernel would have claimed the buckets for them
    assert got[9000] == (True, base[0][0])
    assert got[9001] == (True, base[1][0])
    assert got[base[0][0]][0] is False


def test_event_time_retention_e2e(spark, tmp_path):
    """End-to-end retention through the real streaming path: a dup
    re-sent INSIDE the event-time horizon is flagged; after the bucket
    idles past `retention_ms` of watermark progress the exemplar is
    forgotten, so a re-send of the SAME text OUTSIDE the horizon is
    fresh — the retention-window recall trade, replay-deterministic
    because the horizon is watermark-driven."""
    text = (
        "the quick brown fox jumps over the lazy dog while the morning "
        "light slowly fills the open sky with warm color and shape"
    )
    other = (
        "completely different words fill this second document about "
        "rivers mountains and the slow geology of continental drift"
    )
    rows0 = [(1, 1000, text), (2, 2000, text)]     # exemplar + near dup
    rows1 = [(3, 9000, other)]                      # advances wm past the
    #                                4 s horizon of bucket last_ts 2000
    rows2 = [(4, 9500, text)]                       # re-send PAST horizon
    kicker = [(99999, 60_000, "watermark kicker text payload")]

    src = tmp_path / "in"
    src.mkdir()
    name = f"etret_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    query = (
        band_decisions_stream_event_time(
            stream, watermark_delay="1 second", retention_ms=4000
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for n, chunk in enumerate([rows0, rows1, rows2, kicker]):
            _write_chunk(src, chunk, n)
            query.processAllAvailable()
        query.processAllAvailable()  # let armed timeouts fire
        got = {
            r["doc_id"]: (bool(r["is_dup"]), r["dup_of"])
            for r in near_dup_verdicts(
                spark.table(name).filter(F.col("doc_id") < 99999)
            ).collect()
        }
    finally:
        query.stop()

    assert got[1] == (False, None)   # exemplar
    assert got[2] == (True, 1)       # inside the horizon: caught
    assert got[3] == (False, None)   # unrelated text
    # the designed recall trade: same text, but the bucket idled past
    # last_ts (2000) + retention (4000) < wm (8000) before doc 4 arrived
    # -> exemplar forgotten, re-send is FRESH
    assert got[4] == (False, None)


def test_verified_event_time_stream_under_scrambled_arrival(
    spark, tmp_path
):
    """Verified + event-time: the signature rule (dup only when the
    jaccard estimate vs the exemplar clears the threshold) composed with
    watermark-decided, seq-deterministic exemplars — an exact re-send
    arriving BEFORE its lower-seq original still loses to it with
    est 1.0, and a sub-threshold band collider stays non-dup."""
    base = [
        (int(r["doc_id"]), str(r["text"]))
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id").limit(20).collect()
    ]
    originals = [
        (doc_id, 1000 + i * 100, text)
        for i, (doc_id, text) in enumerate(base)
    ]
    # exact copy of doc 0 and a heavily-edited partial of doc 3 (shares
    # bands through the kept half; est in (0, 1)), both arriving first
    words = base[3][1].split()
    half = " ".join(words[: len(words) // 2])
    filler = " ".join(f"zz{i} qq{i} kk{i}" for i in range(len(words) // 6))
    copies = [(9000, 3100, base[0][1]), (9100, 3200, half + " " + filler)]
    kicker = [(99999, 60_000, "watermark kicker text payload")]
    all_rows = originals + copies

    src = tmp_path / "in"
    src.mkdir()
    name = f"etdedupv_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    query = (
        band_decisions_stream_event_time(
            stream, verify_threshold=0.5, watermark_delay="5 seconds"
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _write_chunk(src, copies, 0)
        query.processAllAvailable()
        _write_chunk(src, originals, 1)
        query.processAllAvailable()
        _write_chunk(src, kicker, 2)
        query.processAllAvailable()
        query.processAllAvailable()
        got = {
            r["doc_id"]: (bool(r["is_dup"]), r["dup_of"], r["best_est"])
            for r in near_dup_verdicts(
                spark.table(name).filter(F.col("doc_id") < 99999)
            ).collect()
        }
    finally:
        query.stop()

    # batch re-derivation: exemplar = bucket's min (seq, doc_id) over
    # ALL rows (arrival-independent), est vs exemplar, dup iff >= 0.5
    df = spark.createDataFrame(all_rows, SCHEMA)
    wide = D.minhash_signatures_wide(df, "doc_id", "text", 16, 3)
    bands = D.minhash_band_keys(wide, "doc_id", 4).join(
        df.select("doc_id", "seq"), "doc_id"
    )
    firsts = bands.groupBy("band", "band_key").agg(
        F.min(F.struct("seq", "doc_id")).alias("first")
    )
    cand = (
        bands.join(firsts, ["band", "band_key"])
        .filter(F.col("first.seq") < F.col("seq"))
        .select("doc_id", "seq", F.col("first.doc_id").alias("first_id"))
        .distinct()
    )
    a = wide.select("doc_id", F.col("sig").alias("sig_a"))
    b = wide.select(F.col("doc_id").alias("first_id"), F.col("sig").alias("sig_b"))
    est = D.signature_agreement(F.col("sig_a"), F.col("sig_b"))
    sim = cand.join(a, "doc_id").join(b, "first_id").select(
        "doc_id", "seq", "first_id", est.alias("est")
    )
    agg = sim.groupBy("doc_id", "seq").agg(
        F.max("est").alias("best_est"),
        F.min(F.when(F.col("est") >= 0.5, F.col("first_id"))).alias(
            "dup_of"
        ),
    )
    want = {
        r["doc_id"]: (r["dup_of"] is not None, r["dup_of"], r["best_est"])
        for r in df.select("doc_id", "seq")
        .join(agg, ["doc_id", "seq"], "left")
        .collect()
    }
    assert got == want
    # the exact copy arrived first but loses to its lower-seq original
    assert got[9000] == (True, base[0][0], 1.0)


def test_pre_retention_5field_checkpoint_compat(spark, tmp_path, monkeypatch):
    """Upgrade path for checkpoints written BEFORE the retention work
    widened the event-time bucket state with a trailing `last_ts` column
    (see the compat read in dedup_stream._load).

    Empirically verified, both halves:

    1. Under the DEFAULT `spark.sql.streaming.stateStore.stateSchemaCheck
       = true`, restarting the widened topology on a 5-field checkpoint
       fails fast at the first batch with the named
       STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE error — never silent
       corruption.
    2. With the check explicitly disabled for one upgrade run, the old
       5-field state row DOES deserialize under the widened schema (a
       trailing nullable long widening is positionally safe), the
       compat read tolerates it as last_ts=None, and
       decisions against legacy-buffered exemplars come out correct;
       state re-writes store the 6-field layout thereafter.
    """
    import kafka_stream_unify_order_messages_spark.streaming.dedup_stream as DS

    OLD_SCHEMA = (
        "first_seq long, first_id long,"
        " pend_seqs array<long>, pend_ids array<long>, pend_ts array<long>"
    )

    def legacy_factory(*_args, **_kwargs):
        # minimal pre-retention writer: buffer arrivals in 5-field state,
        # decide nothing (decisions happen post-upgrade, exercising the
        # compat read), arm a far timeout so state persists
        def fn(key, pdfs, state):
            if state.exists:
                _fs, _fi, p_seqs, p_ids, p_ts = state.get
                p_seqs, p_ids, p_ts = list(p_seqs), list(p_ids), list(p_ts)
            else:
                p_seqs, p_ids, p_ts = [], [], []
            if not state.hasTimedOut:
                for pdf in pdfs:
                    for doc_id, seq, ts in pdf[
                        ["doc_id", "seq", "_ts_ms"]
                    ].itertuples(index=False):
                        p_seqs.append(int(seq))
                        p_ids.append(int(doc_id))
                        p_ts.append(int(ts))
            state.update((None, None, p_seqs, p_ids, p_ts))
            state.setTimeoutTimestamp(max(p_ts) + 60_000)
            return iter(())

        return fn

    src = tmp_path / "in"
    src.mkdir()
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    # memory sink refuses checkpoint recovery -> parquet FileStreamSink

    def start_query():
        stream = spark.readStream.schema(SCHEMA).parquet(str(src))
        return (
            DS.band_decisions_stream_event_time(
                stream, watermark_delay="5 seconds"
            )
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .start()
        )

    # --- run 1: the legacy 5-field topology commits buffered state ---
    monkeypatch.setattr(DS, "BUCKET_STATE_EVENT_SCHEMA", OLD_SCHEMA)
    monkeypatch.setattr(DS, "make_bucket_fn", legacy_factory)
    q1 = start_query()
    try:
        _write_chunk(
            src,
            [
                (1, 1000, "hello world text one two three"),
                (2, 2000, "another document text four five six"),
            ],
            0,
        )
        q1.processAllAvailable()
    finally:
        q1.stop()
    monkeypatch.undo()

    # --- restart A: default schema check names the incompatibility ---
    _write_chunk(
        src,
        [
            (3, 70_000, "kicker doc text to nudge and close horizon"),
            (4, 2100, "hello world text one two three"),  # dup of 1
        ],
        1,
    )
    q2 = start_query()
    try:
        with pytest.raises(Exception) as exc_info:
            q2.processAllAvailable()
        assert "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in str(
            exc_info.value
        )
    finally:
        q2.stop()

    # --- restart B: one-run escape hatch completes the upgrade ---
    spark.conf.set(
        "spark.sql.streaming.stateStore.stateSchemaCheck", "false"
    )
    try:
        q3 = start_query()
        try:
            q3.processAllAvailable()
            q3.processAllAvailable()  # let armed timeouts fire
        finally:
            q3.stop()
    finally:
        spark.conf.unset(
            "spark.sql.streaming.stateStore.stateSchemaCheck"
        )
    got = {
        r["doc_id"]: (bool(r["is_dup"]), r["dup_of"])
        for r in near_dup_verdicts(
            spark.read.parquet(str(out)).filter(F.col("doc_id") < 99999)
        ).collect()
    }
    # doc 1's exemplar claim was sitting in LEGACY 5-field state; the
    # widened kernel read it back and doc 4 (same text, higher seq)
    # correctly resolves as its duplicate
    assert got[1] == (False, None)
    assert got[2] == (False, None)
    assert got[4] == (True, 1)


SIG = list(range(16))


@pytest.mark.parametrize(
    "schema, legacy, widened",
    [
        (
            BUCKET_STATE_EVENT_SCHEMA,
            (1000, 10, [2000], [20], [2000]),
            lambda last_ts: (1000, 10, [], [], [], last_ts),
        ),
        (
            BUCKET_STATE_EVENT_VERIFIED_SCHEMA,
            (1000, 10, SIG, [2000], [20], [2000], [SIG]),
            lambda last_ts: (1000, 10, SIG, [], [], [], [], last_ts),
        ),
    ],
    ids=["5-field", "7-field"],
)
def test_pre_retention_layouts_read_on_real_group_state(schema, legacy, widened):
    """Both pre-retention event-time layouts (5 fields first-wins, 7
    verified) read through the one compat read on a real GroupState:
    no last_ts means no retention horizon yet, the stored claimant and
    pending row decide as if never stored narrow, the row is re-written
    widened, and the bucket's next touch arms the horizon."""
    verified = len(legacy) == 7
    fn = make_bucket_fn(
        0.5 if verified else None, 16, event_time=True, horizon_ms=1000
    )
    est = [1.0] if verified else []

    # the armed timeout fires: pending seq 2000 decides against 1000
    state = group_state(legacy, 2500, True, True, schema)
    (out,) = fn((0, "bk"), iter([]), state)
    assert [tuple(r) for r in out.itertuples(index=False)] == [
        (20, 2000, 0, True, 10, *est)
    ]
    assert state.get == widened(None)
    assert armed_timeout(state) == -1  # no last_ts, no horizon

    # the next touch records last_ts and arms its horizon
    state = group_state(state.get, 2700, False, True, schema)
    pdf = pd.DataFrame({"doc_id": [30], "seq": [2600], "_ts_ms": [2600]})
    if verified:
        pdf["_sig"] = [SIG]
    (out,) = fn((0, "bk"), iter([pdf]), state)
    assert [tuple(r) for r in out.itertuples(index=False)] == [
        (30, 2600, 0, True, 10, *est)
    ]
    assert state.get == widened(2600)
    assert armed_timeout(state) == 3600
