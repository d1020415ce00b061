"""Stateful streaming near-duplicate detection: first-wins MinHash-LSH
dedup OVER THE STREAM ITSELF.

`streaming/ingest.py` already covers the two bounded-state forms —
watermarked exact dedup (`clean_corpus_stream`) and screening arrivals
against a STATIC history snapshot (`screen_stream_near_dups`). What
neither can answer is "is this document a near-duplicate of anything
that has arrived earlier IN THIS STREAM?" — the question a continuous
crawl-ingest pipeline asks of every page. The corpus-wide band JOIN is
not stream-expressible, but the corpus-wide band STATE is: keep, per
LSH bucket, only the FIRST document that ever claimed it. A new arrival
is a near-duplicate iff any of its band buckets is already claimed by an
earlier document — exactly the reference's KV-store shape
(OrderProjectionTopology.java:48-52 holds per-key state in RocksDB; here
the key is the LSH bucket instead of the order id).

State is bounded by the number of DISTINCT band buckets, not documents
and never pairs: duplicates add no state (their buckets are already
claimed), so state grows with the corpus's novelty rate. At 100 TB the
bucket keyspace shards across the stateful shuffle like any keyed state,
and the RocksDB provider (app.py:apply_state_store_config) keeps it
off-heap. By default no timeout is registered — dedup history must not
expire; for INFINITE streams, ``ttl_ms`` turns on retention-window
dedup (a bucket idle for the TTL is forgotten, every touch re-arms —
LRU semantics), the standard bounded-state trade. Exact sliding-window
dedup on content hashes remains `dedup_within_watermark` upstream.

Semantics are PINNED to the batch registry query
`near_dup_first_wins` (queries_training.py): with arrival order == seq
order, the stream's verdicts are bit-equal to the batch query's output
(tests/test_dedup_stream.py proves it file-by-file through a real
file-source stream). The batch query is strict-oracled against DuckDB,
so the streaming operator inherits a value-checked oracle.

For OUT-OF-ORDER arrival, `band_decisions_stream_event_time` is the
REPLAY-DETERMINISTIC twin (the same relationship unify_stream_event_time
has to unify_stream): verdicts are decided by the watermark instead of
arrival, so the bucket's exemplar is the global minimum seq and the
output is bit-equal to the batch query under ANY arrival order within
the watermark delay — and identical across replays regardless of
micro-batch slicing. Its bounded-state option is ``retention_ms``
(the event-time twin of ``ttl_ms``): exemplars idle past a
watermark-driven event-time horizon are forgotten, so even the
forgetting replays deterministically.

The dedup rule lives once, in ``decide``: the first decided row claims
the bucket; with a threshold each later row is a duplicate only when its
signature estimate against the exemplar clears it. ``make_bucket_fn``
is the one ``applyInPandasWithState`` adapter around it for both clocks
and both modes; it only loads and stores the bucket's state row and arms
the timeout its clock needs.

CHECKPOINT COMPATIBILITY: adding ``last_ts`` (round 9) widened the
event-time state row. ``_load`` reads a pre-change 5/7-field row with
``last_ts=None`` (retention re-arms on the bucket's next touch), but
Spark's JVM-side state schema check rejects the widened schema before
Python runs — the one-run upgrade is docs/DEPLOYMENT.md §5.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# per-(band, band_key) rows emitted by the stateful op; the per-document
# verdict is the OR across a document's bands (near_dup_verdicts)
BAND_DECISION_SCHEMA = (
    "doc_id long, seq long, band long, is_dup boolean, dup_of long"
)
# verified mode adds the estimated jaccard vs the bucket exemplar
# (fraction of equal minhash components — exact k/num_hashes doubles)
BAND_DECISION_VERIFIED_SCHEMA = BAND_DECISION_SCHEMA + ", est double"
# the claimed-bucket exemplar: first arrival's (seq, id)
BUCKET_STATE_SCHEMA = "first_seq long, first_id long"
# verified mode also stores the exemplar's full signature
BUCKET_STATE_VERIFIED_SCHEMA = BUCKET_STATE_SCHEMA + ", sig array<long>"
# event-time variant: a pending buffer rides in the bucket state until
# the watermark passes each document's event time; last_ts records the
# event time of the bucket's most recent touch (the retention clock)
BUCKET_STATE_EVENT_SCHEMA = (
    "first_seq long, first_id long,"
    " pend_seqs array<long>, pend_ids array<long>, pend_ts array<long>,"
    " last_ts long"
)
# verified event-time: exemplar signature + per-pending-doc signatures
BUCKET_STATE_EVENT_VERIFIED_SCHEMA = (
    "first_seq long, first_id long, sig array<long>,"
    " pend_seqs array<long>, pend_ids array<long>, pend_ts array<long>,"
    " pend_sigs array<array<long>>, last_ts long"
)

_EMITTED = ("doc_id", "seq", "is_dup", "dup_of", "est")
_by_seq = itemgetter(0, 1)  # a row is (seq, doc_id, sig, ts)


def decide(exemplar, rows, threshold=None, num_hashes=None):
    """The bucket's dedup rule. ``exemplar`` is the claimant ``(seq,
    doc_id, sig)`` or None; ``rows`` are the decidable ``(seq, doc_id,
    sig, ts)`` in (seq, doc_id) order. The first decided row claims an
    empty bucket. Every later row is a duplicate of the claimant — with a
    ``threshold``, only when est = equal signature components /
    ``num_hashes`` >= threshold (exact k/num_hashes doubles); a row below
    it is emitted with its est and never claims the bucket. Returns the
    new exemplar and one ``(doc_id, seq, is_dup, dup_of, est)`` per row.
    """
    emissions = []
    for seq, doc_id, sig, _ts in rows:
        if exemplar is None:
            exemplar = (seq, doc_id, sig)
            emissions.append((doc_id, seq, False, None, None))
            continue
        est, dup = None, True
        if threshold is not None:
            est = sum(a == b for a, b in zip(sig, exemplar[2])) / num_hashes
            dup = est >= threshold
        emissions.append((doc_id, seq, dup, exemplar[1] if dup else None, est))
    return exemplar, emissions


def _load(state: GroupState, verified: bool, event_time: bool):
    """Bucket state row -> (exemplar, pending rows, last_ts).

    A pre-retention event-time checkpoint has no trailing ``last_ts``
    (5 fields, 7 verified): it reads as ``last_ts=None``. Upgrade path
    (tests/test_dedup_stream.py::test_pre_retention_5field_checkpoint_compat):
    under the default stateStore.stateSchemaCheck=true a restart on such
    a checkpoint fails fast with STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE;
    with the check disabled for ONE upgrade run the old row deserializes
    under the widened schema (a trailing nullable long is positionally
    safe), is read here and re-written with ``last_ts``. Runbook:
    docs/DEPLOYMENT.md §5 "State-schema upgrades on a live checkpoint".
    """
    if not state.exists:
        return None, [], None
    row = state.get
    n = 3 if verified else 2
    exemplar = None
    if row[0] is not None:
        exemplar = (row[0], row[1], list(row[2]) if verified else None)
    if not event_time:
        return exemplar, [], None
    seqs, ids, ts = row[n:n + 3]
    sigs = [list(g) for g in row[n + 3]] if verified else [None] * len(seqs)
    width = n + (4 if verified else 3)
    last_ts = row[width] if len(row) > width else None
    return exemplar, list(zip(seqs, ids, sigs, ts)), last_ts


def _row(exemplar, pend, last_ts, verified: bool, event_time: bool):
    """Inverse of ``_load``: the state row to store."""
    seq, doc_id, sig = exemplar or (None, None, None)
    out = (seq, doc_id) + ((sig,) if verified else ())
    if event_time:
        out += tuple([r[i] for r in pend] for i in (0, 1, 3))
        out += (([r[2] for r in pend],) if verified else ()) + (last_ts,)
    return out


def _arrivals(pdfs, verified: bool, event_time: bool):
    """The arriving rows as (seq, doc_id, sig, ts) tuples."""
    for pdf in pdfs:
        none = [None] * len(pdf)
        yield from zip(
            map(int, pdf["seq"].tolist()),
            map(int, pdf["doc_id"].tolist()),
            [list(map(int, g)) for g in pdf["_sig"]] if verified else none,
            map(int, pdf["_ts_ms"].tolist()) if event_time else none,
        )


def make_bucket_fn(
    threshold: float | None,
    num_hashes: int,
    event_time: bool = False,
    horizon_ms: int | None = None,
):
    """The per-(band, band_key) state function: ``decide`` plus the
    bookkeeping of one clock. ``threshold`` None is first-wins, a value
    is verified mode (the exemplar's signature rides in state).

    **Processing time** (``event_time=False``): every arrival decides at
    once, so the first ARRIVAL claims the bucket; rows within a
    micro-batch resolve in (seq, doc_id) order, exactly like cross-batch
    ones. ``horizon_ms`` is ``ttl_ms``: a bucket untouched for it is
    forgotten (its next claimant is fresh) and every touch re-arms the
    timer (LRU — frequently re-sent content stays deduped).

    **Event time**: arrivals buffer in state and a row decides once the
    watermark reaches its event time (``ts <= wm``), so the exemplar is
    the bucket's MINIMUM seq under any arrival order within the
    watermark delay, and replays give the same verdicts for any
    micro-batch slicing. Deciding AT equality is safe: Spark's pre-state
    late filter drops arrivals with event time <= watermark (measured: a
    ts==0 row vanished against the initial 0 watermark), so once wm
    reaches a pending ts no lower-seq claimant at or below it can still
    arrive. Event times must therefore be strictly positive and monotone
    in seq (pinned by tests/test_dedup_stream.py). The timeout is armed
    at the earliest pending ts. ``horizon_ms`` is ``retention_ms``: an
    exemplar whose last touch's event time (``last_ts``) falls
    ``horizon_ms`` behind the watermark is forgotten — watermark-driven,
    so the forgetting replays deterministically too. It never races a
    pending decision: it only forgets once the buffer is empty.
    """
    verified = threshold is not None
    columns = ["doc_id", "seq", "band", "is_dup", "dup_of"] + ["est"] * verified

    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut and not event_time:
            # ttl expired with no arrivals: forget the exemplar
            state.remove()
            return
        exemplar, pend, last_ts = _load(state, verified, event_time)
        if not state.hasTimedOut:
            arrivals = list(_arrivals(pdfs, verified, event_time))
            pend += arrivals
            if event_time and arrivals:
                newest = max(r[3] for r in arrivals)
                last_ts = newest if last_ts is None else max(last_ts, newest)
        pend.sort(key=_by_seq)
        if event_time:
            wm = state.getCurrentWatermarkMs()
            ready = [r for r in pend if r[3] <= wm]
            pend = [r for r in pend if r[3] > wm]
        else:
            ready, pend = pend, []
        exemplar, emissions = decide(exemplar, ready, threshold, num_hashes)
        if not event_time:
            state.update(_row(exemplar, pend, last_ts, verified, False))
            if horizon_ms is not None:
                state.setTimeoutDuration(horizon_ms)
        else:
            # the retention horizon; a pre-retention row (last_ts None)
            # has none until the bucket's next touch
            expires = None
            if None not in (horizon_ms, exemplar, last_ts):
                expires = last_ts + horizon_ms
            if not pend and expires is not None and wm >= expires:
                # idle past the event-time horizon: forget the exemplar
                # (rows decided in this call still emit)
                state.remove()
            else:
                state.update(_row(exemplar, pend, last_ts, verified, True))
                fire_at = min(r[3] for r in pend) if pend else expires
                if fire_at is not None:
                    # EventTimeTimeout needs a timestamp STRICTLY above
                    # the watermark. Both targets already are (pending
                    # ts > wm; an unexpired horizon > wm), so the wm+1
                    # clamp only guards that contract
                    state.setTimeoutTimestamp(max(fire_at, wm + 1))
        if emissions:
            out = dict(zip(_EMITTED, map(list, zip(*emissions))))
            out["band"] = [int(key[0])] * len(emissions)  # key: (band, band_key)
            yield pd.DataFrame({c: out[c] for c in columns})

    return fn


def _band_rows(
    docs: DataFrame, id_col, seq_col, text_col, num_hashes, bands,
    shingle_n, verified,
) -> DataFrame:
    """One (doc_id, seq, [_sig,] band, band_key) row per document and
    band. Band keys are pure scan-local expressions (no pre-state
    aggregation, so the plan stays legal in append mode). Rows with a
    null id or seq are dropped first: the bucket decides by them."""
    from kafka_stream_unify_order_messages_spark.operators.dedup import (
        minhash_band_cols_local,
        minhash_sig_band_cols_local,
    )

    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(seq_col).cast("long").alias("seq"),
        F.col(text_col).alias("text"),
    ).filter(F.col("doc_id").isNotNull() & F.col("seq").isNotNull())
    keyed_fn = (
        minhash_sig_band_cols_local if verified else minhash_band_cols_local
    )
    keyed = keyed_fn(
        base,
        text_col="text",
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    )
    carry = ["_sig"] if verified else []
    return keyed.select(
        "doc_id",
        "seq",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band"),
                        F.col(f"_bk{b}").alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bk"),
    ).select(
        "doc_id",
        "seq",
        *carry,
        F.col("_bk.band").alias("band"),
        F.col("_bk.band_key").alias("band_key"),
    )


def _decide_buckets(rows: DataFrame, threshold, num_hashes, event_time,
                    horizon_ms) -> DataFrame:
    """The stateful groupBy on (band, band_key) — the only shuffle."""
    verified = threshold is not None
    if event_time:
        state_schema = (
            BUCKET_STATE_EVENT_VERIFIED_SCHEMA
            if verified else BUCKET_STATE_EVENT_SCHEMA
        )
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        state_schema = (
            BUCKET_STATE_VERIFIED_SCHEMA if verified else BUCKET_STATE_SCHEMA
        )
        # without a ttl the dedup history is permanent by design
        timeout = (
            GroupStateTimeout.ProcessingTimeTimeout
            if horizon_ms is not None
            else GroupStateTimeout.NoTimeout
        )
    return rows.groupBy("band", "band_key").applyInPandasWithState(
        make_bucket_fn(threshold, num_hashes, event_time, horizon_ms),
        outputStructType=(
            BAND_DECISION_VERIFIED_SCHEMA if verified else BAND_DECISION_SCHEMA
        ),
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def band_decisions_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    seq_col: str = "seq",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float | None = None,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Per-band first-wins decisions for a STREAM of (id, seq, text).

    The only shuffle is the stateful groupBy on (band, band_key). `seq`
    is the arrival order (any unique monotone long — an offset, a file
    sequence number, or the id itself when ids are assigned on arrival).
    Rows with a null id or seq are dropped.

    With ``verify_threshold`` set, the full minhash signature rides into
    the bucket state and a collision only counts as a duplicate when the
    estimated jaccard vs the exemplar clears the threshold — the in-stream
    analogue of the batch candidate-verify step, filtering LSH false
    positives at the cost of num_hashes longs per bucket. Batch twin:
    `near_dup_verified` (strict-oracled). ``ttl_ms`` bounds state for
    infinite streams (see ``make_bucket_fn``).

    Returns an append-mode stream with BAND_DECISION_SCHEMA (plus `est`
    in verified mode); reduce to per-document verdicts with
    `near_dup_verdicts` (all of a document's band rows surface in the
    same micro-batch, so a foreachBatch aggregation is exact).
    """
    rows = _band_rows(
        docs, id_col, seq_col, text_col, num_hashes, bands, shingle_n,
        verify_threshold is not None,
    )
    return _decide_buckets(rows, verify_threshold, num_hashes, False, ttl_ms)


def near_dup_verdicts(band_decisions: DataFrame) -> DataFrame:
    """Collapse per-band decisions to per-document verdicts: a document
    is a near-duplicate iff ANY band bucket was already claimed (and, in
    verified mode, the exemplar cleared the similarity threshold);
    `dup_of` is the smallest exemplar id among its qualifying buckets
    (deterministic, and equal to the batch query's min-over-firsts). In
    verified mode `best_est` is the max estimated jaccard vs any earlier
    exemplar, qualifying or not.

    Stateless per document — apply inside foreachBatch (every band row
    of a document lands in the same micro-batch) or over any union of
    emitted batches.
    """
    aggs = [
        F.max("is_dup").alias("is_dup"),
        F.min(F.when(F.col("is_dup"), F.col("dup_of"))).alias("dup_of"),
    ]
    if "est" in band_decisions.columns:
        aggs.append(F.max("est").alias("best_est"))
    return band_decisions.groupBy("doc_id", "seq").agg(*aggs)


def band_decisions_stream_event_time(
    docs: DataFrame,
    id_col: str = "doc_id",
    seq_col: str = "seq",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float | None = None,
    watermark_delay: str = "2 seconds",
    retention_ms: int | None = None,
) -> DataFrame:
    """REPLAY-DETERMINISTIC per-band first-wins decisions: the
    event-time twin of ``band_decisions_stream``, exactly as
    ``unify_stream_event_time`` twins ``unify_stream``.

    The processing-time kernel matches the strict-oracled batch query
    ``near_dup_first_wins`` only under seq-ordered arrival (first
    ARRIVAL claims the bucket); this variant matches it under ANY
    arrival order within ``watermark_delay``, and re-running the same
    input under a different micro-batch slicing yields identical
    verdicts. Event time is derived FROM ``seq`` (epoch millis), making
    it strictly monotone in seq by construction — with a real Kafka
    source, use the record timestamp and a seq that is monotone in it
    (e.g. the offset).

    ``verify_threshold`` composes exactly as in ``band_decisions_stream``:
    the exemplar's full minhash signature rides in state and a collision
    only counts as a duplicate when the estimated jaccard clears the
    threshold (sub-threshold colliders never claim the bucket) — here
    against the SEQ-MINIMUM exemplar rather than the first arrival.

    ``retention_ms`` is the event-time twin of ``band_decisions_stream``'s
    ``ttl_ms`` for INFINITE streams: a bucket whose last touch's event
    time falls ``retention_ms`` behind the watermark forgets its
    exemplar (next claimant is fresh — the retention-window recall
    trade). Because the horizon is watermark-driven, forgetting is as
    replay-deterministic as the verdicts. Default None = permanent
    dedup history.

    Cost of determinism: decisions wait out the watermark delay (the
    same latency trade as the event-time unify leg, measured in
    STREAMING_DEDUP.md's event rows). The throughput gap vs the
    processing-time kernel is TUNABLE, not fixed: larger micro-batches
    let more rows decide in the batch that carries them instead of via
    a later timeout touch — measured 0.53x -> 0.77x of sustained
    throughput going from 10-batch to single-batch ingest at 100k docs
    (STREAMING_DEDUP.md event-mode tuning section); the residual is the
    irreducible buffer+decide double handling. Pending rows
    buffer in state until decidable — bounded by arrival-rate x delay,
    on top of the one-exemplar-per-bucket state (permanent unless
    ``retention_ms``). A document's
    band rows may surface in different micro-batches (each bucket's
    timeout fires independently), so aggregate verdicts over the drained
    frame or with a downstream stateful aggregation, not per-batch.
    """
    rows = (
        _band_rows(
            docs, id_col, seq_col, text_col, num_hashes, bands, shingle_n,
            verify_threshold is not None,
        )
        .withColumn("_ts_ms", F.col("seq"))
        .withColumn("_event_time", F.timestamp_millis(F.col("seq")))
        .withWatermark("_event_time", watermark_delay)
    )
    return _decide_buckets(
        rows, verify_threshold, num_hashes, True, retention_ms
    )
