"""Streaming near-dup dedup throughput (streaming/dedup_stream.py):
docs/s through the stateful first-wins MinHash-LSH path, measured
end-to-end (file source -> scan-local band keys -> stateful shuffle ->
applyInPandasWithState -> memory sink) at 10k / 100k / 1M documents.

Corpus: deterministic synthetic documents (60 words from a 100-word
vocabulary, word choice = md5(doc_id:pos) — the same determinism
discipline as the oracle queries), with every 10th document re-sending
an earlier document's text verbatim, so the designed near-dup rate is
10% and exactly one side of each pair must be flagged regardless of
arrival order within a micro-batch.

Profiles mirror scripts/streaming_throughput.py: **bulk** = whole corpus
in one micro-batch (backfill/replay: one state commit over all buckets);
**sustained** = ~10 micro-batches via maxFilesPerTrigger (continuous
ingest: per-batch state commits against ever-growing bucket state — the
profile where the state-store provider matters). Both state-store
providers per cell. State after a tier: 4 band buckets per UNIQUE
document (duplicates add none), so the 100k tier commits ~360k bucket
entries. The grid adds, at 100k: **verified** cells (signature compare
in state), the **event** twin's micro-batch sizing sweep, and the TTL
(processing-time) and event-time retention studies over a corpus with
near and far duplicates.

Usage (options in stream_harness.py):
    python scripts/streaming_dedup_throughput.py   # writes STREAMING_DEDUP.md/json
    python scripts/streaming_dedup_throughput.py --only docs_in=20000,mode=event
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F

from stream_harness import (
    append_kicker,
    drain,
    main,
    read,
    run_grouped,
    running,
    session,
    set_state_store,
    stage,
    state_rows,
)

from kafka_stream_unify_order_messages_spark.streaming.dedup_stream import (
    band_decisions_stream,
    band_decisions_stream_event_time,
    near_dup_verdicts,
)

N_FILES = 20
FILES_PER_TRIGGER = N_FILES // 10  # the sustained profile
VOCAB = 100
WORDS_PER_DOC = 60
SCHEMA = "doc_id long, seq long, text string"
STORES = ("hdfs", "rocksdb")
RETENTION_MS = 20_000  # the TTL and event-time retention windows
# files_per_trigger keys only the event cells; records measured before
# it existed ran at the sustained profile
FIELDS = {
    "docs_in": None, "mode": None, "store": None, "verified": False,
    "ttl_ms": None, "retention_ms": None,
    "files_per_trigger": FILES_PER_TRIGGER,
}


def _cells(n, mode, verified=False, field=None, values=(None,)):
    """``mode`` cells at ``n`` docs for both stores, one per value of the
    optional extra ``field``."""
    return [
        {"docs_in": n, "mode": mode, "store": store, "verified": verified}
        | ({field: v} if field else {})
        for store in STORES
        for v in values
    ]


GRID = [
    *_cells(10_000, "bulk"),
    *_cells(10_000, "sustained"),
    *_cells(20_000, "event", field="files_per_trigger",
             values=[FILES_PER_TRIGGER]),
    *_cells(100_000, "bulk"),
    # micro-batch sizing sweep: the determinism-cost tuning study
    *_cells(100_000, "event", field="files_per_trigger",
             values=[FILES_PER_TRIGGER, 10, 20]),
    *_cells(100_000, "event_retention", field="retention_ms",
             values=[None, RETENTION_MS]),
    *_cells(100_000, "sustained"),
    *_cells(100_000, "ttl_study", field="ttl_ms",
             values=[None, RETENTION_MS]),
    *_cells(1_000_000, "bulk"),
    *_cells(1_000_000, "sustained"),
    # signature verification: the cost of carrying the exemplar
    # signature (num_hashes longs) in bucket state and the
    # per-collision compare
    *_cells(100_000, "bulk", verified=True),
    *_cells(100_000, "sustained", verified=True),
]


def _docs(spark, n: int, base):
    """(doc_id, seq, text) for ids 0..n-1: the text is 60 words drawn by
    md5(base:pos), so docs with the same ``base`` are verbatim dups."""
    words = [
        F.concat(
            F.lit("w"),
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", base.cast("string"), F.lit(str(p)))),
                        1, 7,
                    ),
                    16, 10,
                ).cast("long")
                % VOCAB
            ).cast("string"),
        )
        for p in range(WORDS_PER_DOC)
    ]
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.col("id").alias("seq"),
        F.concat_ws(" ", *words).alias("text"),
    )


def synth_docs(spark, n: int):
    """Deterministic corpus; doc i with i % 10 == 9 re-sends doc
    (i - 9)'s text under its own id."""
    near = (F.col("id") % 10 == 9) & (F.col("id") >= 9)
    return _docs(spark, n, F.when(near, F.col("id") - 9).otherwise(F.col("id")))


def synth_docs_mixed(spark, n: int):
    """(doc_id, seq, text) with NEAR and FAR duplicates, for the TTL
    retention study: doc i with i % 10 == 9 re-sends doc (i - 9) [near —
    the exemplar arrived seconds ago], and doc i with i % 10 == 4 in the
    SECOND HALF re-sends a DISTINCT EVEN doc id from the opening batch
    (the first 10% of ids) [far — the exemplar arrived at the start of
    the run, outside a short retention window]. Two properties are
    load-bearing: the far mapping is INJECTIVE (doc n/2 + 4 + 10j
    re-sends doc 2j — a re-used far target would be re-claimed by its
    first re-send and the rest caught anyway, hiding the recall trade),
    and far targets are EVEN (odd ids ending in 9 are near-dup
    RE-SENDERS whose own text never existed — targeting one makes the
    far doc a duplicate of nothing; both failure modes were measured
    before this shape). Designed rates: 10% near + 5% far = 15% total,
    every designed dup a true verbatim dup."""
    far = (F.col("id") % 10 == 4) & (F.col("id") >= n // 2)
    near = (F.col("id") % 10 == 9) & (F.col("id") >= 9)
    base = (
        F.when(far, ((F.col("id") - F.lit(n // 2 + 4)) / 5).cast("long"))
        .when(near, F.col("id") - 9)
        .otherwise(F.col("id"))
    )
    return _docs(spark, n, base)


def _source(cell: dict) -> tuple[int, str]:
    """The corpus a cell reads. bulk/sustained share a hash-partitioned
    corpus. The event-time and retention legs need ORDERED arrival
    (range-partitioned by id): event time = seq ms and the 2 s watermark
    delay only tolerates bounded disorder, so whole files of low seqs
    arriving after the watermark passed them would be dropped as late;
    and the retention studies' far-dup gap collapses under scrambled
    arrival (measured: the recall trade shrank ~3x)."""
    mode = cell["mode"]
    if mode in ("bulk", "sustained"):
        return cell["docs_in"], "hashed"
    if mode == "event":
        return cell["docs_in"], "ordered"
    return cell["docs_in"], "mixed"


def _stage_corpus(spark, source: tuple[int, str], path: str) -> str:
    n, kind = source
    if kind == "hashed":
        return stage(synth_docs(spark, n).repartition(N_FILES), path)
    docs = synth_docs_mixed(spark, n) if kind == "mixed" else synth_docs(spark, n)
    return stage(docs.repartitionByRange(N_FILES, "doc_id"), path)


def run_cell(spark, cell: dict, src: str) -> dict:
    """One measured run; asserts all 4 band rows of every doc reached the
    sink.

    - **bulk / sustained** (NoTimeout state): drained by
      processAllAvailable.
    - **ttl_study**: with ``ttl_ms`` the query uses ProcessingTimeTimeout,
      so Spark schedules micro-batches forever — poll the sink for
      completeness (band rows are emitted on arrival regardless of
      expiry), then let idle batches sweep pending timeouts before the
      final state count.
    - **event / event_retention**: the REPLAY-DETERMINISTIC twin (event
      time = seq ms; verdicts decided by the watermark). After the real
      input, a far-future kicker closes the final delay window; its own
      rows are excluded. ``files_per_trigger`` sizes the event cells'
      micro-batches: a row already behind the watermark of a LATER row
      in the same batch decides in the batch that carries it, so larger
      batches convert timeout-touches into same-batch decides.
      ``retention_ms`` is the watermark-driven exemplar horizon; the
      kicker pushes every exemplar past it, so the peak state is sampled
      before the kicker (the retention plateau) and the final after.
    """
    n, mode = cell["docs_in"], cell["mode"]
    event = mode in ("event", "event_retention")
    ttl_ms = cell.get("ttl_ms")
    name = "dtp_" + "_".join(str(v) for v in cell.values())
    set_state_store(spark, cell["store"])
    stream = read(
        spark, src, SCHEMA,
        None if mode == "bulk"
        else cell.get("files_per_trigger", FILES_PER_TRIGGER),
    )
    if event:
        # event time must be strictly positive (doc 0's ts==0 would be
        # dropped against the initial 0 watermark — see the kernel's
        # decide-rule comment); a uniform shift preserves seq order
        frame = band_decisions_stream_event_time(
            stream.withColumn("seq", F.col("seq") + F.lit(1000)),
            watermark_delay="2 seconds",
            retention_ms=cell.get("retention_ms"),
        )
    else:
        frame = band_decisions_stream(
            stream,
            verify_threshold=0.5 if cell["verified"] else None,
            ttl_ms=ttl_ms,
        )
    kicker_id = 10 * n + 7
    target = 4 * n
    timeout_s = max(600, n / 200)
    with running(frame, name, src=src) as q:
        decisions = spark.table(name).filter(F.col("doc_id") != kicker_id)

        def complete() -> bool:
            return decisions.count() >= target

        t0 = time.time()
        if ttl_ms is None:
            q.processAllAvailable()
        elif not drain(q, complete, timeout_s, every_s=1.0):
            raise TimeoutError(f"{name}: sink incomplete")
        peak = max(
            (state_rows(p) or 0 for p in q.recentProgress), default=None
        )
        if event:
            append_kicker(src, {
                "doc_id": [kicker_id],
                "seq": [n + 10_000_000],
                "text": ["watermark kicker payload"],
            })
            if not drain(q, complete, timeout_s, every_s=0.5,
                         between=q.processAllAvailable):
                raise TimeoutError(f"{name}: sink incomplete")
        elapsed = time.time() - t0
        if ttl_ms:
            # idle grace: let pending timeouts fire and sweep expired
            # buckets so the final state count reflects retention
            time.sleep(ttl_ms / 1000 + 5)
        n_rows = decisions.count()
        assert n_rows == target, (n_rows, target)
        n_dup = near_dup_verdicts(decisions).filter("is_dup").count()
        final = state_rows(q.lastProgress)
    rec = {
        **cell,
        "elapsed_sec": round(elapsed, 2),
        "docs_per_sec": round(n / elapsed),
        "dup_rate": round(n_dup / n, 4),
    }
    if mode in ("ttl_study", "event_retention"):
        rec |= {"state_rows_final": final, "state_rows_peak": peak}
    return rec


def run_cells(spark, cells: list[dict]) -> list[dict]:
    return run_grouped(spark, cells, _source, _stage_corpus, run_cell)


def measure(cells: list[dict]) -> list[dict]:
    with session("streaming-dedup-throughput") as spark:
        return run_cells(spark, cells)


def _host(r: dict) -> str:
    """The machine a record was measured on; "—" for records committed
    before the harness stamped it."""
    h = r.get("host")
    return f"{h['cores']} cores, {h['mem_gb']} GB" if h else "—"


def render(records: list[dict], fresh: list[dict]) -> str:
    lines = [
        "# STREAMING_DEDUP — measured streaming near-dup dedup throughput",
        "",
        "End-to-end through the real streaming path (file source ->",
        "scan-local MinHash signature and band keys,",
        "`operators/dedup.py:minhash_signature_local` + `band_keys` ->",
        "stateful shuffle ->",
        "`applyInPandasWithState` first-wins bucket state -> memory sink),",
        "local[32], 16 hashes x 4 bands, 60-word synthetic documents with a",
        "designed 10% duplicate rate (streaming/dedup_stream.py; semantics",
        "strict-oracled via the batch twin `near_dup_first_wins`).",
        "**bulk** = one micro-batch (backfill profile); **sustained** =",
        "~10 micro-batches (continuous-ingest profile, per-batch commits",
        "of the growing bucket state); **event** = the",
        "REPLAY-DETERMINISTIC event-time twin",
        "(band_decisions_stream_event_time) in the sustained profile —",
        "verdicts decided by the watermark (exemplar = global min seq,",
        "bit-equal to the batch twin under any in-window arrival), so",
        "every doc buffers in state until the watermark passes it and is",
        "touched a second time by the deciding timeout; the throughput",
        "gap vs sustained IS the price of determinism (the event-time",
        "unify leg trades the same way, STREAMING.md). State = 4 buckets",
        "per UNIQUE doc — duplicates add no state, so state grows with",
        "the novelty rate; the event twin adds a pending buffer bounded",
        "by arrival rate x watermark delay. Host = the measuring",
        "machine's logical cores and memory (— where a record predates",
        "the stamp).",
        "",
        "| docs | mode | state store | verified | elapsed | docs/s "
        "| dup rate found | host |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in records:
        if r["mode"] in ("ttl_study", "event_retention"):
            continue  # separate sections below
        if (
            r["mode"] == "event"
            and r.get("files_per_trigger", FILES_PER_TRIGGER) != FILES_PER_TRIGGER
        ):
            continue  # non-default micro-batch sizing: tuning section
        lines.append(
            f"| {r['docs_in']:,} | {r['mode']} | {r['store']} "
            f"| {'sig>=0.5' if r.get('verified') else 'no'} "
            f"| {r['elapsed_sec']} s | {r['docs_per_sec']:,} "
            f"| {r['dup_rate']:.1%} | {_host(r)} |"
        )
    bulk = {
        (r["docs_in"], r["store"]): r["docs_per_sec"]
        for r in records
        if r["mode"] == "bulk" and not r.get("verified")
    }
    tiers_present = sorted({r["docs_in"] for r in records})
    lo, hi = tiers_present[0], tiers_present[-1]
    if (lo, "hdfs") in bulk and (hi, "hdfs") in bulk:
        lines += [
            "",
            f"Bulk per-doc cost scales {bulk[(hi, 'hdfs')] / bulk[(lo, 'hdfs')]:.1f}x "
            f"in throughput across a {hi // lo}x input ramp (hdfs) — fixed "
            "micro-batch overhead amortizes and no super-linear state term "
            "appears (bucket lookups are point reads).",
        ]
    ver = [r for r in records if r.get("verified")]
    if ver:
        lines += [
            "",
            "Signature verification (verified rows: exemplar's 16-long "
            "signature in state + per-collision compare) adds no "
            "measurable cost — verified cells sit within run-to-run "
            "noise of their unverified twins; the signature is 128 "
            "bytes on a state row already dominated by store overhead "
            "and compares run only on collisions. The found dup rate "
            "stays at the designed level because this corpus's "
            "duplicates are verbatim (est 1.0); the threshold's value "
            "is rejecting band-collision FALSE positives "
            "(tests/test_dedup_stream.py).",
        ]
    ev_recs = sorted(
        (r for r in records if r["mode"] == "event"),
        key=lambda r: (
            r["docs_in"],
            r.get("files_per_trigger", FILES_PER_TRIGGER),
            r["store"],
        ),
    )
    if len({r.get("files_per_trigger", FILES_PER_TRIGGER) for r in ev_recs}) > 1:
        sus = {
            (r["docs_in"], r["store"]): r["docs_per_sec"]
            for r in records
            if r["mode"] == "sustained" and not r.get("verified")
        }
        lines += [
            "",
            "## Event-mode micro-batch tuning (the determinism-cost knob)",
            "",
            "Every event-mode doc is touched twice (buffer, then",
            "watermark-decide), but a row already behind the watermark of",
            "a LATER row in the same micro-batch decides in the batch that",
            "carries it — larger batches (maxFilesPerTrigger over the",
            f"{N_FILES}-file corpus) convert second touches into same-batch",
            "decides and amortize per-batch state commits. The gap vs the",
            "processing-time sustained profile is therefore a TUNABLE",
            "latency/throughput trade, not a fixed tax: batch size is the",
            "knob, and the residual gap at one-batch ingest is the",
            "irreducible cost of buffering + watermark bookkeeping.",
            "",
            "| docs | files/batch | state store | elapsed | docs/s "
            "| vs sustained | dup rate | host |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for r in ev_recs:
            s = sus.get((r["docs_in"], r["store"]))
            rel = f"{r['docs_per_sec'] / s:.2f}x" if s else "—"
            lines.append(
                f"| {r['docs_in']:,} "
                f"| {r.get('files_per_trigger', FILES_PER_TRIGGER)} "
                f"| {r['store']} | {r['elapsed_sec']} s "
                f"| {r['docs_per_sec']:,} | {rel} | {r['dup_rate']:.1%} "
                f"| {_host(r)} |"
            )
    ttl_recs = sorted(
        (r for r in records if r["mode"] == "ttl_study"),
        key=lambda r: (r["docs_in"], r.get("ttl_ms") or 0, r["store"]),
    )
    lines += [
        "",
        "State lifecycle: by default buckets never expire (dedup history "
        "is permanent); for infinite streams `ttl_ms` arms a per-bucket "
        "processing-time timeout — idle buckets are forgotten, every "
        "touch re-arms (LRU), bounding state at a retention-window "
        "recall trade (tests/test_dedup_stream.py). The event-time twin "
        "has the same bounded-state option as `retention_ms`: an "
        "exemplar idle past a WATERMARK-driven event-time horizon is "
        "forgotten, so even the forgetting is replay-deterministic, and "
        "retention can never race a pending decision (while rows pend, "
        "the bucket's last touch is ahead of the watermark by "
        "construction) — kernel-pinned in tests/test_dedup_stream.py.",
    ]
    if ttl_recs:
        lines += [
            "",
            "## TTL retention study (sustained, hdfs, mixed corpus)",
            "",
            "Corpus with NEAR dups (exemplar re-sent 9 ids later — inside "
            "any window) and FAR dups (each second-half far dup re-sends "
            "a DISTINCT even doc id from the opening batch — outside a "
            "short window; see synth_docs_mixed for why injective + even "
            "are both load-bearing): designed 10% near + 5% far = 15%, "
            "every designed dup a true verbatim dup (pinned by "
            "tests/test_measurement_harnesses.py). Files "
            "range-partitioned by id, mtimes stamped in path order so "
            "arrival order tracks id order. "
            "The TTL run must catch near dups, forget far exemplars "
            "(the recall trade), and hold state at the retention window "
            "while the unbounded twin's state grows with novelty — this "
            "is the claim continuous 100 TB ingest relies on. State "
            "final = after the post-drain idle grace (pending timeouts "
            "sweep: with a TTL, fully-idle state drains to ~0); state "
            "peak is the plateau the retention window holds during "
            "ingest.",
            "",
            "| docs | ttl | state store | elapsed | docs/s "
            "| dup rate found | state rows final | state rows peak | host |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for r in ttl_recs:
            ttl_lbl = (
                f"{r['ttl_ms'] / 1000:.0f} s" if r.get("ttl_ms") else "none"
            )
            lines.append(
                f"| {r['docs_in']:,} | {ttl_lbl} | {r['store']} "
                f"| {r['elapsed_sec']} s "
                f"| {r['docs_per_sec']:,} | {r['dup_rate']:.1%} "
                f"| {r['state_rows_final']:,} | {r['state_rows_peak']:,} "
                f"| {_host(r)} |"
            )
    er_recs = sorted(
        (r for r in records if r["mode"] == "event_retention"),
        key=lambda r: (r["docs_in"], r.get("retention_ms") or 0, r["store"]),
    )
    if er_recs:
        lines += [
            "",
            "## Event-time retention study (event twin, sustained, "
            "mixed corpus)",
            "",
            "The same mixed near+far corpus through the "
            "REPLAY-DETERMINISTIC event-time twin with `retention_ms` — "
            "the WATERMARK-driven exemplar horizon (a window over the "
            "event clock, not wall time: an idle box forgets nothing, a "
            "replay forgets the same exemplars at the same watermarks). "
            "Event time = seq ms, so a 20 s horizon spans 20k ids of "
            "stream progress: near dups (9 ids back) stay inside it, "
            "far exemplars (>=40k ids back) age out — found-dup rate "
            "must drop from ~15% to the ~10% near-only rate while peak "
            "state plateaus below the unbounded twin's. State final is "
            "measured AFTER the far-future watermark kicker that closes "
            "the last decision window — the kicker pushes every exemplar "
            "past its horizon, so a retention run must collapse to the "
            "kicker's own pending buckets (the horizon provably fires); "
            "the unbounded run keeps all its exemplars.",
            "",
            "| docs | retention | state store | elapsed | docs/s "
            "| dup rate found | state rows final | state rows peak | host |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for r in er_recs:
            ret_lbl = (
                f"{r['retention_ms'] / 1000:.0f} s (event)"
                if r.get("retention_ms")
                else "none"
            )
            lines.append(
                f"| {r['docs_in']:,} | {ret_lbl} | {r['store']} "
                f"| {r['elapsed_sec']} s "
                f"| {r['docs_per_sec']:,} | {r['dup_rate']:.1%} "
                f"| {r['state_rows_final']:,} | {r['state_rows_peak']:,} "
                f"| {_host(r)} |"
            )
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main("STREAMING_DEDUP", GRID, FIELDS, measure, render)
