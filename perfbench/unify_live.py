"""unify_live: an open loop at a fixed rate through ``app.unify_topology`` in
processing-time mode with the low_latency config, a 1 s trigger and the
reference's 5 s buffer. A generator thread makes one atomically renamed file
visible per second, on a schedule that does not slow when the engine does.
One op is one order; its latency is the sink-commit stamp minus the due time
of the file that holds the order's events.

Loads the trigger, file discovery and timeout path — the reference's
user-facing promise; compute per batch is small."""

from __future__ import annotations

import math
import os
import shutil
import threading
import time

import spec
import streams

WARM_LIFECYCLES = 40  # the availableNow warm-up query's input
DRAIN_S = 30  # after the last due file, how long emission may take
TRIGGER = "1 second"


def plan(seconds: int, seed: int):
    """Warm-up lifecycles, the file pre-staged for the measured query's
    first batch, one file per scheduled second, and the ids of the complete
    orders."""
    waves = max(2, seconds)
    lcs = spec.lifecycles(WARM_LIFECYCLES + (waves + 1) * spec.LIVE_RATE, seed)
    warm, rest = lcs[:WARM_LIFECYCLES], lcs[WARM_LIFECYCLES:]
    files = [rest[i * spec.LIVE_RATE:(i + 1) * spec.LIVE_RATE]
             for i in range(waves + 1)]
    live = [lc for f in files for lc in f]
    complete = {lc[0]["order_id"] for lc in live if spec.is_complete(lc)}
    return warm, files[0], files[1:], complete


def run(ctx) -> dict:
    from kafka_stream_unify_order_messages_spark.app import (
        UnifyConfig,
        apply_state_store_config,
        unify_topology,
    )

    cfg, trace = ctx.cfg, ctx.trace
    spark = ctx.start_session(shuffle_partitions=os.cpu_count())
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                   streams.PROGRESS_KEPT)
    ucfg = UnifyConfig(low_latency=True, buffer_ms=spec.BUFFER_MS,
                       trigger_interval=TRIGGER)
    apply_state_store_config(spark, ucfg)

    with trace.span("stage"):
        warm, first, waves, complete = plan(cfg["seconds"], cfg["seed"])
        dirs = {d: ctx.tmp / d for d in
                ("warm", "warm_ckpt", "stage", "src", "ckpt")}
        for d in dirs.values():
            d.mkdir()
        streams.write_file(dirs["warm"] / "w.parquet", warm)
        streams.write_file(dirs["src"] / "f00000.parquet", first)
        names, sizes, order_file = [], [], {}
        for i, lcs in enumerate(waves):
            name = f"f{i + 1:05d}.parquet"
            sizes.append(streams.write_file(dirs["stage"] / name, lcs))
            names.append(name)
            for lc in lcs:
                order_file[lc[0]["order_id"]] = i

    def stream(path):
        return unify_topology(
            spark.readStream.schema("value string, topic string")
            .parquet(str(path)), ucfg)

    with trace.span("warmup"):
        wq = (stream(dirs["warm"]).writeStream
              .foreachBatch(lambda df, _: df.count())
              .option("checkpointLocation", str(dirs["warm_ckpt"]))
              .trigger(availableNow=True).start())
        # processing-time timeouts keep an availableNow query scheduling
        # batches, so the warm-up ends when its data batch has run
        streams.wait_batch(wq, 0, timeout=120)
        wq.stop()
        sink = streams.Collector(trace)
        q = (stream(dirs["src"]).writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(dirs["ckpt"]))
             .trigger(processingTime=TRIGGER).start())
        p0 = streams.wait_batch(q, 0, timeout=120)
    ctx.send(setup_done=streams.batch_end(p0))

    # open loop: file i is due at t0 + i, whatever the engine is doing.
    # Spark starts processing-time triggers on whole multiples of the
    # interval, so due times half-way between ticks give every run the same
    # phase; a random phase would move the median by up to one tick.
    t0 = math.ceil(time.time()) + 0.5
    due = [t0 + i for i in range(len(names))]
    shown = [0.0] * len(names)

    def generate() -> None:
        for i, name in enumerate(names):
            time.sleep(max(0.0, due[i] - time.time()))
            with trace.span("gen.emit", file=name):
                os.rename(dirs["stage"] / name, dirs["src"] / name)
            shown[i] = time.time()

    gen = threading.Thread(target=generate, name="perfbench-generator")
    try:
        close = ctx.window()
        gen.start()
        deadline = due[-1] + DRAIN_S
        emitted: set[str] = set()
        with trace.span("ops"):
            while emitted < complete and time.time() < deadline:
                if q.exception():
                    raise RuntimeError(str(q.exception()))
                emitted = {r[0] for r in sink.rows}
                time.sleep(0.02)
        cpu = close()
    finally:
        gen.join()
        q.stop()
        shutil.rmtree(dirs["stage"], ignore_errors=True)

    measured_ids = set(order_file)
    lat = [stamp - due[order_file[o]] for o, _, stamp in sink.rows
           if o in measured_ids and o in complete]
    t_last = max(r[2] for r in sink.rows) if sink.rows else time.time()
    progs = streams.progress(q)
    n_records, n_corrupt = streams.observed(progs)
    n_in = sum(sizes) + sum(len(lc) for lc in first)
    bad = streams.check_emitted(sink.rows, complete)
    bad += abs(n_records - n_in) + n_corrupt

    # discovery lag: from a file becoming visible to the start of the
    # micro-batch that read it (the file source's log names its files)
    index = {n: i for i, n in enumerate(names)}
    lag = []
    for p in progs:
        for f in streams.files_of_batch(dirs["ckpt"], p):
            if f in index:
                lag.append(streams.batch_start(p) - shown[index[f]])
    measured = [p for p in progs if t0 - 1 <= streams.batch_start(p) <= t_last]
    ctx.layers.update(streams.layers(measured, sink, trace))
    ctx.layers["streaming.emit_wait_s"] = [
        x - spec.BUFFER_MS / 1000 for x in lat]
    ctx.layers["sources.discovery_lag_s"] = lag
    ctx.layers["app.n_records"] = n_records
    ctx.layers["app.n_corrupt"] = n_corrupt
    ctx.layers["live.gen_late_max_s"] = [
        max(s - d for s, d in zip(shown, due))]
    ctx.layers["live.engine_cpu_s"] = cpu
    n_complete = sum(1 for o in measured_ids if o in complete)
    return {
        "ops": lat,
        "attempted": n_complete,
        "failed": min(bad, n_complete),
        "cpu_s": cpu,
        "work": sum(sizes),
        "work_s": t_last - t0,
        "info": {"complete": n_complete, "wrong_outcomes": bad,
                 "n_records": n_records},
    }
