"""Coverage for the streaming measurement harnesses (scripts/streaming_*.py
on the shared runner scripts/stream_harness.py): the measured numbers
are only meaningful if the harness feeds the stream byte-identical wire
data, never splits an order across files, and its default grid is the
committed table. The smoke tests run the runner end to end on tiny cells,
each through the harness's own correctness check.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from kafka_stream_unify_order_messages_spark.sources.generator import (
    generate_order_events,
    order_events_df,
)

_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT / "scripts"))

import stream_harness  # noqa: E402
import streaming_dedup_throughput as dedup  # noqa: E402
import streaming_latency as lat  # noqa: E402
import streaming_throughput as tp  # noqa: E402
import streaming_windowed_throughput as windowed  # noqa: E402

HARNESSES = {
    "STREAMING": tp,
    "STREAMING_DEDUP": dedup,
    "STREAMING_WINDOWED": windowed,
    "LATENCY": lat,
}


def test_latency_iso_matches_wire_format(spark):
    """_iso must produce byte-identical timestamps to order_events_df's
    wire form — otherwise the latency harness measures a different
    serde path than the one the reference parity tests pin."""
    events = generate_order_events(20, seed=5)
    wire = {
        (r["order_id"], r["type"]): r["timestamp"]
        for r in order_events_df(spark, events)
        .select("order_id", "type", "timestamp")
        .collect()
    }
    for e in events:
        assert lat._iso(e["timestamp_ms"]) == wire[(e["order_id"], e["type"])]


def test_latency_wave_table_schema_and_grouping():
    events = generate_order_events(5, seed=7)
    t = lat._wave_table(events)
    assert t.column_names == list(lat.COLS)
    assert t.num_rows == len(events)
    # all-string wire schema (the stream reader's schema contract)
    assert all(str(f.type) == "string" for f in t.schema)


def test_throughput_slices_never_split_an_order(spark, tmp_path):
    """The throughput harness's lifecycle-aligned slicing is load-bearing
    (random order + short buffer drops ~everything — see the script
    docstring): every order's 3 events must land in ONE file, and the
    files must arrive in name order."""
    src = tp.stage_orders(spark, 500, str(tmp_path / "src"))
    df = spark.read.parquet(src).withColumn("file", F.input_file_name())
    assert df.count() == 1500
    split = (
        df.groupBy("order_id")
        .agg(F.countDistinct("file").alias("n_files"))
        .filter(F.col("n_files") > 1)
        .count()
    )
    assert split == 0
    parts = sorted(Path(src).glob("part-*"))
    mtimes = [os.stat(p).st_mtime for p in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(parts)


def test_dedup_throughput_corpus_has_designed_dup_structure(spark):
    """STREAMING_DEDUP.md's load-bearing generator: every 10th doc
    re-sends doc (i-9)'s text VERBATIM (so exactly one of each pair is
    flagged regardless of intra-batch arrival order), non-resend texts
    are distinct, and generation is deterministic."""
    rows = {
        r["doc_id"]: r["text"] for r in dedup.synth_docs(spark, 200).collect()
    }
    assert len(rows) == 200
    for i in range(9, 200, 10):
        assert rows[i] == rows[i - 9], i
    originals = [rows[i] for i in range(200) if i % 10 != 9]
    assert len(set(originals)) == len(originals)  # no accidental dups
    again = {
        r["doc_id"]: r["text"] for r in dedup.synth_docs(spark, 200).collect()
    }
    assert again == rows


def test_ttl_study_corpus_mixed_near_far_structure(spark):
    """The TTL retention study's generator (synth_docs_mixed): near dups
    re-send (i-9) verbatim, far dups injectively re-send the opening 5%
    (each far target re-sent exactly once — a re-used target's bucket
    would be re-claimed by its first re-send and hide the recall trade),
    and generation is deterministic."""
    n = 400
    rows = {
        r["doc_id"]: r["text"]
        for r in dedup.synth_docs_mixed(spark, n).collect()
    }
    assert len(rows) == n
    far_targets = []
    for i in range(n):
        if i % 10 == 9 and i >= 9:
            assert rows[i] == rows[i - 9], f"near dup broken at {i}"
        elif i % 10 == 4 and i >= n // 2:
            j = (i - n // 2 - 4) // 5
            # even target inside the opening batch: never a near-dup
            # re-sender, so the far doc is a TRUE verbatim dup
            assert j % 2 == 0 and j < n // 10
            assert rows[i] == rows[j], f"far dup broken at {i}->{j}"
            far_targets.append(j)
    # injective far mapping
    assert len(far_targets) == n // 20
    assert len(set(far_targets)) == len(far_targets)
    again = {
        r["doc_id"]: r["text"]
        for r in dedup.synth_docs_mixed(spark, n).collect()
    }
    assert again == rows


def test_windowed_throughput_events_monotone_and_kicker_closes(spark):
    """STREAMING_WINDOWED.md's generator: event time is monotone in id
    (so range-partitioned + mtime-stamped files give in-order arrival
    and the watermark never drops a row) and the kicker's timestamp is
    beyond every real window end."""
    ev = windowed.synth_events(spark, 500).orderBy("event_id").collect()
    ts = [r["ts"] for r in ev]
    assert all(a <= b for a, b in zip(ts, ts[1:]))
    assert all(0.0 <= r["value"] < 1000.0 for r in ev)
    assert windowed.KICKER["ts"][0].timestamp() > ts[-1].timestamp() + 60


def test_bench_diff_classifies_wall_up_cpu_down_as_mixed(tmp_path, capsys, monkeypatch):
    """The classifier's docstring defines contention as wall-up with cpu
    FLAT; a query whose CPU got cheaper while wall regressed is evidence
    of a shape change under load, not host noise — it must land in the
    'mixed' bucket, never be laundered as contention."""
    import importlib
    import json

    bench_diff = importlib.import_module("scripts.bench_diff")

    old = {"value": 10.0, "cpu_value": 20.0,
           "queries": {"q_mixed": 2.0, "q_cont": 2.0, "q_reg": 2.0},
           "queries_cpu": {"q_mixed": 8.0, "q_cont": 8.0, "q_reg": 2.0}}
    new = {"value": 14.0, "cpu_value": 16.0,
           # all three wall-up past 1.5x; cpu: down / flat / up
           "queries": {"q_mixed": 4.0, "q_cont": 4.0, "q_reg": 4.0},
           "queries_cpu": {"q_mixed": 4.0, "q_cont": 8.2, "q_reg": 4.0}}
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))

    monkeypatch.setattr(sys, "argv", ["bench_diff.py", str(po), str(pn)])
    bench_diff.main()
    out = capsys.readouterr().out
    section = {}
    current = None
    for line in out.splitlines():
        if line.endswith("):") and "(" in line:
            current = line.split(" (")[0]
        elif line.strip().startswith("q_") and current:
            section[line.split()[0]] = current
    assert section["q_mixed"] == "mixed"
    assert section["q_cont"] == "contention"
    assert section["q_reg"] == "REGRESSION?"


@pytest.mark.parametrize("name", sorted(HARNESSES))
def test_default_grid_is_the_committed_table(name):
    """A full run regenerates every committed row and nothing else: the
    default grid lists exactly the committed cells, in committed order."""
    harness = HARNESSES[name]
    records, _ = stream_harness.load_records(_ROOT / f"{name}.json")
    assert [stream_harness.cell_key(c, harness.FIELDS) for c in harness.GRID] == [
        stream_harness.cell_key(r, harness.FIELDS) for r in records
    ]


def test_only_selects_matching_cells():
    cells = stream_harness.select(
        tp.GRID, tp.FIELDS, "lifecycles=2000,semantics=tws-event"
    )
    assert [(c["mode"], c["store"]) for c in cells] == [
        ("bulk", "rocksdb"), ("sustained", "rocksdb"),
    ]
    # a field older records lack matches its default
    cells = stream_harness.select(
        dedup.GRID, dedup.FIELDS, "docs_in=100000,mode=event,files_per_trigger=2"
    )
    assert {c["store"] for c in cells} == {"hdfs", "rocksdb"}
    for bad in ("lifecycles=7", "tier=2000"):
        with pytest.raises(SystemExit):
            stream_harness.select(tp.GRID, tp.FIELDS, bad)


def test_report_merges_fresh_records_by_cell_key(tmp_path, monkeypatch):
    """A partial run replaces only the cells it measured and stamps them
    with the host, a record that lacks a defaulted field still matches
    its cell, rows keep grid order, and --report-only writes the MD but
    leaves the JSON alone."""
    monkeypatch.setattr(stream_harness, "ROOT", tmp_path)
    fields = {"n": None, "mode": None, "fpt": 2}
    grid = [{"n": 1, "mode": "a", "fpt": 2}, {"n": 1, "mode": "b", "fpt": 2}]
    prior = [{"n": 1, "mode": "b", "v": "old-b"}, {"n": 1, "mode": "a", "v": "old-a"}]
    (tmp_path / "T.json").write_text(json.dumps(prior))

    def render(records, fresh):
        return " ".join(r["v"] for r in records) + f" fresh={len(fresh)}"

    def measure(cells):
        return [c | {"v": "new-" + c["mode"]} for c in cells]

    stream_harness.main("T", grid, fields, measure, render, ["--only", "mode=b"])
    merged = json.loads((tmp_path / "T.json").read_text())
    assert [r["v"] for r in merged] == ["old-a", "new-b"]
    # only the fresh record carries the host stamp; it is no cell field
    assert "host" not in merged[0]
    assert merged[1]["host"]["cores"] == os.cpu_count()
    assert merged[1]["host"]["mem_gb"] > 0
    assert (tmp_path / "T.md").read_text() == "old-a new-b fresh=1"
    stream_harness.main("T", grid, fields, measure, render, ["--report-only"])
    assert json.loads((tmp_path / "T.json").read_text()) == merged
    assert (tmp_path / "T.md").read_text() == "old-a new-b fresh=0"


def test_throughput_runner_smoke(spark, state_store):
    """A processing-time cell and an event-time cell (the kicker path);
    run_cell raises unless every lifecycle's projection reaches the
    sink."""
    state_store("hdfs")
    cells = [
        {"lifecycles": 60, "mode": "bulk", "store": "hdfs", "semantics": sem}
        for sem in ("processing", "event")
    ]
    records = tp.run_cells(spark, cells)
    assert [r["semantics"] for r in records] == ["processing", "event"]
    for r in records:
        assert r["events_in"] == 180 and r["projections_per_sec"] > 0
    assert records[1]["drain_sec"] >= 0


def test_dedup_runner_smoke(spark, state_store):
    """A bulk cell and an event-time cell (kicker path); run_cell asserts
    all 4 band rows of every doc reach the sink, kicker rows excluded."""
    state_store("hdfs")
    cells = [
        {"docs_in": 200, "mode": "bulk", "store": "hdfs", "verified": False},
        {"docs_in": 200, "mode": "event", "store": "hdfs", "verified": False,
         "files_per_trigger": dedup.FILES_PER_TRIGGER},
    ]
    records = dedup.run_cells(spark, cells)
    assert [r["mode"] for r in records] == ["bulk", "event"]
    # every designed verbatim dup (10%) is found; band collisions may add
    for r in records:
        assert r["dup_rate"] >= 0.1


def test_windowed_runner_smoke(spark):
    """run_cell asserts the emitted sketch rows match the batch twin row
    for row."""
    (rec,) = windowed.run_cells(spark, [{"events_in": 2000, "mode": "bulk"}])
    assert rec["batch_twin_match"] and rec["sketch_rows_out"] > 0
