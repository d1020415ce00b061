"""Benchmark harness (driver contract).

Runs every registry query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "cpu_value": <total engine-CPU sec>,
     "queries_cpu": {"q": sec, ...}, "sf": <sf>}

Each query executes fully via the noop sink (JVM-side, no driver collect) so
timings reflect scan+compute+shuffle, not Python serialization.

Two clocks per query:

- wall (`value` / `queries`): end-to-end latency — what a user feels,
  but on this host it swings up to 2x on identical code under co-tenant
  load (round-11 finding: four full sweeps on near-identical code
  spanned 201-247 s with disjoint random spikes while the 53-query
  common set was flat at 1.003x).
- engine-CPU (`cpu_value` / `queries_cpu`): user+system CPU seconds the
  engine process tree (the one local-mode JVM — driver + all executor
  threads — plus its pyspark.daemon / Arrow python-worker descendants)
  burned executing the query — robust to losing cores to co-tenants
  (inflated only by memory-stall cycles). This is the CROSS-ROUND TREND
  ANCHOR (BASELINE.md): compare rounds on cpu_value; treat wall deltas
  without a CPU delta as load noise. Valid precisely because the
  harness is local-mode: the whole "cluster" is that one process tree,
  so /proc accounting captures all query work, JVM- and Python-side.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from kafka_stream_unify_order_messages_spark import get_spark, registry

# the shared engine-tree CPU instrument (round 13: extracted so the
# bench anchor and the scaling ramp's exponents read the SAME clock —
# the ramp's original JVM-only clock under-counted MapInPandas-heavy
# queries whose CPU burns in pyspark.daemon/Arrow workers; later in
# round 13 upgraded to the stateful dip-proof clock, after orphaned
# worker pools were caught taking their accumulated ticks out of the
# naive live-tree sum mid-measure — see cpuclock.py "THE DIP PROBLEM")
from kafka_stream_unify_order_messages_spark.cpuclock import EngineCpuClock


def fit_blob(
    result: dict, timings: dict[str, float], budget: int = 1900
) -> str:
    """Shrink `result` in place until its compact-JSON line fits the
    driver's stdout-tail budget, and return the line.

    The driver keeps only the last 2000 chars of stdout and parses the
    JSON line out of that tail (round 1's full per-query line exceeded
    it -> "parsed": null), so emit the most detail that provably fits:
    first round per-query values to 2dp, then to 1dp wall / integer cpu
    (0.05 s / 0.5 CPU-s quantization is far inside the documented noise
    bands), then shed entries — CPU twins of the FASTEST queries first,
    because the driver's round-over-round comparison (PERF) runs on the
    WALL map, down to a floor of ``n // 14`` cpu twins (the biggest CPU
    burners) kept visible for the trend story; only then drop whole wall
    entries, fastest first — the slow ones are the story. (r14: the r13
    behavior of dropping wall+cpu pairs together surfaced only ~31-34 of
    215 wall entries — query NAMES dominate entry cost, so aligned maps
    halve wall coverage; full per-query pairs live untruncated in
    BENCH_DETAIL.json.) Any change, rounding included, sets `detail` to
    that file; `cpu_omitted` / `queries_omitted` count the missing cpu /
    wall entries. Totals (`value`, `cpu_value`), counts, and the
    detail-file hash are never touched.
    """
    line = json.dumps(result, separators=(",", ":"))
    if len(line) > budget:
        result["detail"] = "BENCH_DETAIL.json"
        result["queries"] = {k: round(v, 2) for k, v in timings.items()}
        line = json.dumps(result, separators=(",", ":"))
    if len(line) > budget:
        result["queries"] = {k: round(v, 1) for k, v in timings.items()}
        if "queries_cpu" in result:
            result["queries_cpu"] = {
                k: int(round(v)) for k, v in result["queries_cpu"].items()
            }
        line = json.dumps(result, separators=(",", ":"))
    # floor tuned on the real 215-query detail: n//14 keeps the ~15
    # biggest CPU burners visible while wall coverage roughly doubles
    # (31 -> 58 entries); n//4 would spend the budget on cpu twins
    cpu_floor = max(1, len(timings) // 14)
    while len(line) > budget and (
        result.get("queries_cpu") or result["queries"]
    ):
        cpu = result.get("queries_cpu")
        if cpu and len(cpu) > cpu_floor:
            # shed the fastest query's cpu twin, keep its wall entry
            del cpu[min(cpu, key=cpu.get)]
        else:
            fastest = min(result["queries"], key=result["queries"].get)
            del result["queries"][fastest]
            if cpu:
                cpu.pop(fastest, None)
            result["queries_omitted"] = len(timings) - len(result["queries"])
        if cpu is not None and len(cpu) < len(timings):
            result["cpu_omitted"] = len(timings) - len(cpu)
        line = json.dumps(result, separators=(",", ":"))
    return line


def calibration_cpu() -> dict[str, float]:
    """Fixed-work host-speed calibration, recorded with every sweep.

    The CPU anchor's residual weakness: engine-CPU totals on identical
    code swung +5-14% across one evening (r13, five same-code sweeps)
    while a quiet-morning run sat at ratio 1.000 — co-tenant memory
    pressure inflates CPU seconds through stall cycles, and nothing in
    the artifact could PROVE the host (not the engine) was the variable.
    These two probes are that proof: deterministic fixed work, engine-
    independent, min-of-3 process_time seconds.

    - `cpu_bound`: sha256 over a cache-resident buffer — pure ALU,
      nearly immune to memory-bandwidth contention; moves only if the
      host's effective clock changed.
    - `mem_bound`: sort + scan over a ~200 MB array — deliberately
      bandwidth-hungry, the same stall mechanism that inflates the
      engine's CPU under co-tenancy.

    Reading rule: engine CPU up with `mem_bound` up and `cpu_bound`
    flat => host memory contention (discount the sweep); engine CPU up
    with BOTH calibrations flat => a real engine change — investigate.
    """
    import hashlib
    import time

    import numpy as np

    best_cpu = float("inf")
    best_mem = float("inf")
    for _ in range(3):
        buf = b"\xa5" * 65536
        t0 = time.process_time()
        h = hashlib.sha256()
        for _ in range(5000):
            h.update(buf)
        best_cpu = min(best_cpu, time.process_time() - t0)

        rng = np.random.default_rng(13)
        a = rng.random(25_000_000)
        t0 = time.process_time()
        s = np.sort(a)
        x = float(s[::7].sum())
        best_mem = min(best_mem, time.process_time() - t0)
        assert x > 0 and h.digest()
    return {"cpu_bound": round(best_cpu, 3), "mem_bound": round(best_mem, 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("bench", master=f"local[{cpus}]")

    # warm up the JVM + executor pool + parquet footers + join/window/agg
    # codegen paths once, so per-query timings measure the queries, not
    # first-job session initialization and JIT
    from kafka_stream_unify_order_messages_spark.sources.files import load_table

    for table in ("events", "documents", "embeddings", "lineitem", "orders"):
        load_table(spark, sf_dir, table).write.format("noop").mode(
            "overwrite"
        ).save()
    import pyspark.sql.functions as _F
    from pyspark.sql import Window as _W

    ev = load_table(spark, sf_dir, "events")
    warm = (
        ev.groupBy("event_type")
        .agg(_F.count(_F.lit(1)).alias("n"))
        .join(_F.broadcast(ev.limit(100).select("event_type").distinct()), "event_type")
        .withColumn("r", _F.row_number().over(_W.orderBy("n")))
    )
    warm.write.format("noop").mode("overwrite").save()
    # The JVM-side warm above does not cover everything the FIRST real
    # query pays: measured (round 12), the first registry execution
    # burns ~4 s wall / ~14 CPU-s at sf0.001 against a ~0.8 s / 2 CPU-s
    # steady state — whole-stage-codegen JIT of the query-shaped
    # pipeline, first exchange machinery, session-tail settling — and
    # best-of-2 does NOT absorb it (the tail spans the head family's
    # runs: the first five queries measured 4-6x high in the first
    # round-12 sweep). One sacrificial unmeasured run of the first
    # benchmark-order query warms that path; its family-mates then
    # measure at steady state from run 1.
    first = registry.benchmark_order()[0]
    try:
        registry.QUERIES[first](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as e:  # noqa: BLE001 — the warm-up is an
        # optimization, not a correctness prerequisite: if the head query
        # is broken it will fail (and be recorded) in the measured loop
        # below, which is designed so one bad query never wipes the
        # whole artifact. Crashing HERE would.
        print(f"bench: warm run of {first} failed ({e}); continuing — "
              "head-family timings may carry the one-off JIT cost",
              file=sys.stderr)
    from kafka_stream_unify_order_messages_spark import drop_cached_blocks

    drop_cached_blocks(spark)

    # best-of-N (default 2): a single-shot timing is hostage to transient
    # machine load / GC pauses; the minimum is the reproducible cost of
    # the plan. Same plan both runs — only execution is repeated.
    # Sub-second queries get one extra run: their timings are dominated
    # by scheduler jitter (a single 100 ms GC pause is a 30 % swing), so
    # best-of-3 there shrinks repeat-run variance without meaningfully
    # lengthening the suite (the extra runs are, by selection, cheap).
    runs = max(1, int(os.environ.get("SPARK_GRAFT_RUNS", "2")))
    timings: dict[str, float] = {}
    cpu_timings: dict[str, float] = {}
    failed: list[str] = []
    clock = EngineCpuClock(spark)

    # Measure in the STABLE registration order, not the driver-window
    # rotation: execution order is part of the measurement on a shared
    # JVM (family-adjacent queries share warm codegen paths), and the
    # cross-round bench trend line is only meaningful if the order never
    # changes round-to-round. See registry.benchmark_order().
    for name in registry.benchmark_order():
        fn = registry.QUERIES[name]
        best = float("inf")
        best_cpu = float("inf")
        try:
            n = runs
            done = 0
            while done < n:
                c0 = clock.read()
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
                c1 = clock.read()
                if c0 is not None and c1 is not None:
                    if c1 - c0 >= 0:
                        best_cpu = min(best_cpu, c1 - c0)
                    else:
                        # EngineCpuClock is monotone by construction
                        # (retirement arithmetic, cpuclock.py); a
                        # negative delta therefore means the instrument
                        # itself broke — exclude the sample and say so
                        # loudly rather than minting a fake-cheap run
                        # (the naive clock's dips minted 0.0-CPU rows
                        # for multi-second queries in the r12/r13
                        # sweeps).
                        print(
                            f"bench: {name} cpu delta negative "
                            f"({c1 - c0:.2f}s) — monotone clock "
                            "violation?! run excluded from the cpu min",
                            file=sys.stderr)
                done += 1
                if done == n and n == runs and best < 1.0:
                    n += 1
                # drop cached blocks between RUNS, not just queries:
                # (a) localCheckpoint blocks are not evictable and
                # accumulate into a JVM OOM across ~200 queries
                # (observed on the x100 ramp), and (b) CacheManager
                # rewrites run 2's canonically-identical plan to read
                # run 1's InMemoryRelation, so without this a repeat
                # timing of a persist()-using query measures a warm
                # cache, not the plan
                drop_cached_blocks(spark)
        except Exception as e:  # noqa: BLE001 — one bad query must not
            # wipe the whole benchmark artifact; surface it instead
            if best == float("inf"):
                # no run succeeded; an opportunistic extra run failing
                # must not discard timings the query already earned
                failed.append(name)
                print(f"bench: {name} FAILED: {e}", file=sys.stderr)
                continue
            print(f"bench: {name} extra run failed (kept best): {e}",
                  file=sys.stderr)
        finally:
            drop_cached_blocks(spark)
        timings[name] = round(best, 3)
        if best_cpu != float("inf"):
            # min-of-runs, like wall: the reproducible cost of the plan.
            # /proc jiffies tick at 10 ms so sub-tick queries can read 0.0;
            # keep the 0 — it's honest ("cheaper than one tick").
            # Negative deltas never reach here (excluded above), so a
            # query with ONLY glitched runs has no cpu entry at all —
            # honest absence beats a fabricated 0.
            cpu_timings[name] = round(best_cpu, 2)

    result = {
        "metric": "registry_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if cpu_timings:
        # the load-robust trend anchor (see module docstring / BASELINE.md)
        result["cpu_value"] = round(sum(cpu_timings.values()), 1)
        result["queries_cpu"] = cpu_timings
    # fixed-work host-speed probes: the engine-independent evidence that
    # separates "host slow this window" from "engine regressed" when
    # cross-round CPU totals move (see calibration_cpu docstring).
    # Measured AFTER the sweep: it reflects the window the queries
    # actually ran in, and a post-sweep probe cannot perturb the head
    # family's timings.
    try:
        result["calib"] = calibration_cpu()
    except Exception as e:  # noqa: BLE001 — diagnostics must not sink
        # the artifact
        print(f"bench: calibration failed ({e})", file=sys.stderr)
    if failed:
        result["failed"] = failed

    # Full per-query detail always lands in a sibling file for the judge.
    # $SPARK_GRAFT_BENCH_DETAIL redirects it (absolute or repo-relative
    # path) so ad-hoc runs — sf0.001 contract checks, A/B sweeps, the
    # driver's own per-round run — don't clobber the committed quiet
    # sf0.1 trend anchor in the working tree (rounds 11 and 12 both
    # ended with that exact dirty-tree). Default unchanged: the driver
    # contract still reads/writes BENCH_DETAIL.json.
    detail_path = Path(
        os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    )
    if not detail_path.is_absolute():
        detail_path = Path(__file__).resolve().parent / detail_path
    detail_text = json.dumps(result, indent=1) + "\n"
    detail_path.write_text(detail_text)

    # Bind the (possibly truncated) stdout blob to the detail file so the
    # two cannot drift silently: the blob carries the detail file's
    # content hash and query count, and the un-truncatable `value` field
    # is asserted identical to the detail total before anything prints.
    import hashlib

    result["detail_sha256"] = hashlib.sha256(
        detail_text.encode()
    ).hexdigest()[:16]
    result["detail_n_queries"] = len(timings)
    detail_parsed = json.loads(detail_text)
    assert detail_parsed["value"] == result["value"], (
        "BENCH blob/detail total drift",
        detail_parsed["value"],
        result["value"],
    )
    assert len(detail_parsed["queries"]) == len(timings), (
        "BENCH detail file lost queries",
        len(detail_parsed["queries"]),
        len(timings),
    )

    line = fit_blob(result, timings)
    # truncation must drop only `queries` entries — total/count/hash stay
    assert result["value"] == detail_parsed["value"]
    assert result["detail_n_queries"] == len(detail_parsed["queries"])
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
