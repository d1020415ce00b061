"""registry_sweep: a closed loop with one client over a fixed-stride sample
of the query registry at sf0.01, noop sink. One op is plan build plus
execution of one query.

Loads Python plan build (py4j), Catalyst, job/task scheduling and the
Python-worker UDF path; bypasses stateful streaming."""

from __future__ import annotations

import sys
import time
from collections import Counter

from child import HERE

import digests

# Every STRIDE-th name of the stable registry order: seven of the 215
# queries, whose warm op times share one band (0.07-0.4 s at steady state),
# so the median never sits on a gap between clusters of slow and fast
# queries. Every 53rd name put it on such a gap and it jumped by a third
# between runs; every 71st or 77th samples a 1-3 s query that doubles a run.
STRIDE = 31
# What the stride yields today. A registry change that shifts the sample
# would silently compare different queries with the parent commit, so the
# run refuses it; update this list (and the README) on purpose instead.
EXPECTED_SAMPLE = (
    "unify_projection", "top_supplier_revenue", "lang_id_heuristic",
    "embedding_pool", "ivf_cell_histogram", "per_source_cap",
    "weighted_sample",
)
# passes over the sample in set-up. The first carries each query's
# first-run cost; over the next four, JIT compilation still takes 3-8 s of
# compiler-thread time a pass and op times fall by half. Measured ops start
# after that steep part of the JIT slope; README.md has the measurements.
WARM_PASSES = 5
# measured passes per second of --seconds: 20 at 20 s, 140 ops, so the
# tail (the highest op with ten ops beyond it) is the 0.93 quantile
PASSES_PER_S = 1


def sample() -> list[str]:
    from kafka_stream_unify_order_messages_spark import registry

    names = [n for n in registry.benchmark_order() if n in registry.ORACLES]
    got = tuple(names[::STRIDE])
    if got != EXPECTED_SAMPLE:
        raise RuntimeError(
            f"every {STRIDE}th registry name is now {got}, not the "
            f"benchmark's sample {EXPECTED_SAMPLE}")
    return list(got)


def _stage_stats(spark, job_ids: list[int]) -> dict[str, float]:
    """Stages, tasks, task CPU and shuffle bytes of the given jobs, from
    the status tracker and the app status store."""
    from py4j.protocol import Py4JJavaError

    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"stages": 0, "tasks": 0, "task_cpu_s": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
    for job in job_ids:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # skipped stage: never attempted
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out


def run(ctx) -> dict:
    from kafka_stream_unify_order_messages_spark import registry
    from kafka_stream_unify_order_messages_spark.session import (
        drop_cached_blocks,
    )

    cfg, trace = ctx.cfg, ctx.trace
    names = sample()
    sf = str(HERE / "data" / "sf0.01")
    spark = ctx.start_session()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    with trace.span("warmup", passes=WARM_PASSES):
        for name in names * WARM_PASSES:
            registry.QUERIES[name](spark, sf).write.format("noop").mode(
                "overwrite").save()
            drop_cached_blocks(spark)
    ctx.send(setup_done=time.time())

    # every pass runs the sample in registry order: the order is part of
    # the measurement (neighbours share JIT-warm code paths), so it is the
    # same on every run; the seed has no input to vary here
    order = names * max(2, round(PASSES_PER_S * cfg["seconds"]))

    ops: list[float] = []
    failed: Counter = Counter()
    op_names: list[str] = []
    L = {k: [] for k in ("build_s", "exec_s", "plan_analysis_ms",
                         "plan_optimization_ms", "plan_planning_ms")}
    build_jobs = exec_jobs = persisted = 0
    job_ids: list[int] = []
    close = ctx.window()
    t_start = time.time()
    for i, name in enumerate(order):
        group = f"op-{i}"
        with trace.span("op", query=name) as op_span:
            try:
                sc.setJobGroup(group + "-build", name)
                t0 = time.time()
                with trace.span("build", op_span):
                    df = registry.QUERIES[name](spark, sf)
                t1 = time.time()
                sc.setJobGroup(group + "-exec", name)
                t2 = time.time()
                with trace.span("execute", op_span):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.time()
                if trace.on:
                    # plan the frame's own QueryExecution so its phase
                    # tracker fills; after the op, so the traced op times
                    # the same calls as an untraced one
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    for ph in ("analysis", "optimization", "planning"):
                        if phases.contains(ph):
                            L[f"plan_{ph}_ms"].append(
                                phases.apply(ph).durationMs())
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                failed[name] += 1
                print(f"op {name} failed: {e!r}", file=sys.stderr)
                continue
        ops.append((t1 - t0) + (t3 - t2))
        op_names.append(name)
        L["build_s"].append(t1 - t0)
        L["exec_s"].append(t3 - t2)
        if trace.on:
            b = tracker.getJobIdsForGroup(group + "-build")
            e = tracker.getJobIdsForGroup(group + "-exec")
            build_jobs += len(b)
            exec_jobs += len(e)
            job_ids.extend(b)
            job_ids.extend(e)
            persisted = max(persisted, sc._jsc.getPersistentRDDs().size())
        drop_cached_blocks(spark)
    cpu = close()
    t_end = time.time()
    sc.setJobGroup("perfbench-check", "correctness")

    # correctness, outside every timed metric: result digests against the
    # stored DuckDB-oracle digests
    expected = digests.load()
    wrong = set()
    with trace.span("check"):
        for name in names:
            try:
                got = digests.digest(registry.QUERIES[name](spark, sf).toPandas())
            except Exception as e:  # noqa: BLE001
                print(f"check {name} failed: {e!r}", file=sys.stderr)
                got = None
            if got != expected.get(name):
                wrong.add(name)
    done = Counter(op_names)
    n_failed = sum(failed.values()) + sum(done[n] for n in wrong)

    if trace.on:
        for k, v in L.items():
            ctx.layers[f"registry.{k}"] = v
        ctx.layers["registry.build_jobs"] = build_jobs
        ctx.layers["registry.exec_jobs"] = exec_jobs
        for k, v in _stage_stats(spark, job_ids).items():
            ctx.layers[f"registry.{k}"] = v
        ctx.layers["session.persisted_rdds"] = [persisted]
    return {
        "ops": ops,
        "attempted": len(order),
        "failed": n_failed,
        "cpu_s": cpu,
        "work": len(ops),
        "work_s": t_end - t_start,
        "info": {"sample": sorted(names), "stride": STRIDE,
                 "ops": [[n, round(x, 3)] for n, x in zip(op_names, ops)],
                 "wrong": sorted(wrong), "errors": dict(failed)},
    }

