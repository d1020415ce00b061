"""Shared runner for the four streaming measurement harnesses
(streaming_throughput, streaming_latency, streaming_dedup_throughput,
streaming_windowed_throughput).

A harness declares three things: its workload (input synthesis, the
topology under test and the correctness check it asserts), its grid of
cells, and its report text. This module owns the fixed coordination
every measurement repeats: the session, the state-store switch, ordered
source staging, the watermark kicker, the query lifecycle (start, drain,
clean-up) and the report step.

A cell is a dict naming one measurement (say lifecycles, mode, store,
semantics); a record is ``cell | measurements``, stamped with the
``host`` that measured it. The cell's fields are the merge key: a run
replaces the committed records of the cells it measured and keeps every
other row. The default grid is exactly the set
of cells in the committed JSON, so a full run regenerates every row.
Every harness takes the same two options:

    --only KEY=VALUE[,KEY=VALUE]   measure only the cells that match
                                   (values are JSON literals or strings)
    --report-only                  re-render the MD from the committed JSON
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from kafka_stream_unify_order_messages_spark import get_spark  # noqa: E402
from kafka_stream_unify_order_messages_spark.sources.files import (  # noqa: E402
    pin_file_arrival_order,
)

_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming."
    "state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming."
    "state.RocksDBStateStoreProvider",
}
KICKER_FILE = "zz_kicker.parquet"


@contextlib.contextmanager
def session(app: str, **kwargs):
    """The harnesses' local[32] session, stopped on exit."""
    spark = get_spark(
        app,
        master="local[32]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
        **kwargs,
    )
    try:
        yield spark
    finally:
        spark.stop()


def set_state_store(spark, store: str) -> None:
    """Select the state-store provider ("hdfs" | "rocksdb") for queries
    started from now on."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _PROVIDERS[store]
    )


def stage(frame, path: str) -> str:
    """Write ``frame`` as the parquet part files of ``path`` and make them
    arrive in name order (a bulk write gives every part the same mtime,
    and the file source admits by mtime). Range-partitioned frames thus
    arrive in key order. Returns ``path``."""
    frame.write.mode("overwrite").parquet(path)
    pin_file_arrival_order(path)
    return path


def read(spark, src: str, schema: str, files_per_trigger: int | None = None):
    """File stream over ``src``: one micro-batch for everything visible,
    or ``files_per_trigger`` files per micro-batch."""
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(src)


def publish(table: pa.Table, src: str, name: str) -> None:
    """Make one parquet file visible in ``src`` at once: written under a
    dot name (which the file source skips), then renamed."""
    tmp = Path(src, f".{name}.tmp")
    pq.write_table(table, tmp)
    tmp.rename(Path(src, name))


def append_kicker(src: str, columns: dict) -> None:
    """Append the far-future watermark kicker row to ``src``. Call it only
    after every real row is ingested: any earlier and the watermark
    jumps past rows still unread, which are then dropped as late."""
    publish(pa.table(columns), src, KICKER_FILE)


@contextlib.contextmanager
def running(frame, name: str, on_batch=None, src: str | None = None):
    """Start ``frame`` as an append-mode query on a memory sink named
    ``name`` (or on the foreachBatch callback ``on_batch``). On exit stop
    it and remove its checkpoint, its sink view and any kicker it left in
    ``src``."""
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    writer = frame.writeStream.outputMode("append").option(
        "checkpointLocation", ckpt
    )
    if on_batch is None:
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(on_batch)
    q = writer.start()
    try:
        yield q
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        if on_batch is None:
            frame.sparkSession.catalog.dropTempView(name)
        if src:
            Path(src, KICKER_FILE).unlink(missing_ok=True)


def drain(q, until, timeout_s: float = 600.0, every_s: float = 0.25,
          between=None) -> bool:
    """Poll ``q`` every ``every_s`` until ``until()`` holds, re-raising a
    failed query's error and calling ``between()`` each round; False if
    ``timeout_s`` ran out first. For queries that never go idle (a
    processing-time timeout schedules batches forever, so
    processAllAvailable never returns) or whose target needs more than
    the input visible now."""
    deadline = time.time() + timeout_s
    while not until():
        if q.exception():
            raise q.exception()
        if time.time() > deadline:
            return False
        if between is not None:
            between()
        time.sleep(every_s)
    return True


def state_rows(progress) -> int | None:
    """The first state operator's numRowsTotal in one progress event."""
    if not progress or not progress.get("stateOperators"):
        return None
    return progress["stateOperators"][0]["numRowsTotal"]


def run_grouped(spark, cells, source_of, stage_source, run_cell,
                warm=None) -> list[dict]:
    """Measure ``cells`` in groups that read one staged source:
    ``source_of(cell)`` names it, ``stage_source(spark, key, path)``
    writes it once per group and ``run_cell(spark, cell, path)`` returns
    the record. ``warm``, a cell, runs first on the first group's source
    and its record is dropped: the first measured run then does not pay
    one-off worker and codegen start-up."""
    groups: dict = {}
    for cell in cells:
        groups.setdefault(source_of(cell), []).append(cell)
    records = []
    for key, group in groups.items():
        src = tempfile.mkdtemp(prefix="src_")
        try:
            stage_source(spark, key, src)
            if warm is not None:
                run_cell(spark, warm, src)
                warm = None
            for cell in group:
                rec = run_cell(spark, cell, src)
                print(json.dumps(rec), flush=True)
                records.append(rec)
        finally:
            shutil.rmtree(src, ignore_errors=True)
    return records


def host() -> dict:
    """The measuring machine: logical cores and total memory in GB."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"cores": os.cpu_count(), "mem_gb": round(mem / 2**30)}


def cell_key(record: dict, fields: dict) -> tuple:
    """The merge key: the record's value for each cell field, or the
    field's default where an older record lacks it."""
    return tuple(record.get(f, default) for f, default in fields.items())


def select(grid: list[dict], fields: dict, only: str | None) -> list[dict]:
    """The grid cells matching ``--only`` (all of them without it)."""
    if not only:
        return grid
    want = {}
    for pair in only.split(","):
        key, _, text = pair.partition("=")
        if key not in fields:
            raise SystemExit(f"--only: unknown field {key!r}; one of {list(fields)}")
        try:
            want[key] = json.loads(text)
        except ValueError:
            want[key] = text
    cells = [
        c for c in grid
        if all(c.get(k, fields[k]) == v for k, v in want.items())
    ]
    if not cells:
        raise SystemExit(f"--only {only} matches no cell of the grid")
    return cells


def load_records(path: Path) -> tuple[list[dict], object]:
    """The committed records and the JSON they came from. The tables
    are a list of records, ``{"records": [...]}`` (STREAMING.json) or a
    ``{variant: record}`` map (LATENCY.json)."""
    if not path.exists():
        return [], []
    data = json.loads(path.read_text())
    if isinstance(data, list):
        return data, data
    if "records" in data:
        return data["records"], data
    return [{"variant": k, **v} for k, v in data.items() if v], data


def dump_records(records: list[dict], like) -> str:
    if isinstance(like, list):
        data = records
    elif "records" in like:
        data = {"records": records}
    else:
        data = {
            r["variant"]: {k: v for k, v in r.items() if k != "variant"}
            for r in records
        }
    return json.dumps(data, indent=1) + "\n"


def main(name: str, grid: list[dict], fields: dict, measure, render,
         argv=None) -> None:
    """Measure the selected cells of ``grid`` with ``measure(cells)``,
    stamp each fresh record with ``host()``, merge them into
    ``{name}.json`` by cell key (records in grid order) and write
    ``render(records, fresh)`` to ``{name}.md``."""
    ap = argparse.ArgumentParser(
        description=f"Measure the {name} grid; write {name}.json and .md."
    )
    ap.add_argument("--only", metavar="KEY=VALUE[,KEY=VALUE]",
                    help="measure only the grid cells with these values")
    ap.add_argument("--report-only", action="store_true",
                    help="re-render the MD from the committed JSON")
    args = ap.parse_args(argv)
    fresh = [] if args.report_only else measure(select(grid, fields, args.only))
    fresh = [r | {"host": host()} for r in fresh]

    json_path, md_path = ROOT / f"{name}.json", ROOT / f"{name}.md"
    prior, like = load_records(json_path)
    keys = {cell_key(r, fields) for r in fresh}
    records = [r for r in prior if cell_key(r, fields) not in keys] + fresh
    order = {cell_key(c, fields): i for i, c in enumerate(grid)}
    records.sort(key=lambda r: order.get(cell_key(r, fields), len(order)))
    if fresh:
        json_path.write_text(dump_records(records, like))
    md_path.write_text(render(records, fresh))
    print(json.dumps({"written": md_path.name, "records": len(records),
                      "fresh": len(fresh)}))
