"""Per-query optimization profiler (round 13).

For each named registry query (default: the top CPU burners from the
committed BENCH_DETAIL.json), runs the query through bench.py's warm-up
and timed run and reports where the cost lives:

- wall seconds (best and per-run),
- engine CPU split three ways: JVM own ticks (driver + executor
  threads), JVM reaped-child ticks (python workers that died and were
  waited on), and live python-descendant ticks (pyspark.daemon + Arrow
  workers) — the split the aggregate EngineCpuClock cannot show,
- Spark job count and stage count for the query's jobs (job-group
  scoped), which exposes hidden driver actions (collects, .schema
  probes, training loops) that the plan alone does not.

Usage:
    python scripts/profile_query.py [--sf DIR] [--runs N] [query ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import WARM_TABLES, timed_run, warm_up
from kafka_stream_unify_order_messages_spark import get_spark, registry
from kafka_stream_unify_order_messages_spark.cpuclock import (
    EngineCpuClock,
    _jvm_root,
    _scan_proc,
    _tree_of,
)


def cpu_split(root: int) -> tuple[float, float, float]:
    """(jvm_own, jvm_reaped_children, live_python_descendants) seconds."""
    rows = _scan_proc()
    if root not in rows:
        return (0.0, 0.0, 0.0)
    tree = _tree_of(rows, root)
    hz = os.sysconf("SC_CLK_TCK")
    jvm_own = rows[root][1] / hz
    jvm_child = rows[root][2] / hz
    py = sum(rows[p][1] + rows[p][2] for p in tree if p != root) / hz
    return (jvm_own, jvm_child, py)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = 2
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf_dir = next(it)
        elif a == "--runs":
            runs = int(next(it))
        else:
            names.append(a)
    if not names:
        names = [
            "media_phash_pairs", "hybrid_rrf_topk", "ann_pq_recall_eval",
            "bm25_topk", "semantic_dedup", "ann_pq_fixed",
            "multimodal_real_decode", "lang_id_ngram", "ann_ivf_fixed",
        ]

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("profile", master=f"local[{cpus}]")
    sc = spark.sparkContext
    root = _jvm_root(spark)
    clock = EngineCpuClock(spark)
    # bench's warm-up, headed by the first named query, so run 1 is
    # steady state; a ramp tier (.ramp_data/x10) holds only some tables
    tables = [t for t in WARM_TABLES if Path(sf_dir, f"{t}.parquet").exists()]
    warm_up(spark, sf_dir, tables, names[0])

    hdr = (
        f"{'query':32s} {'run':>3s} {'wall':>7s} {'jvm':>7s} "
        f"{'reaped':>7s} {'pyliv':>7s} {'jobs':>5s} {'stages':>6s}"
    )
    print(hdr)
    for name in names:
        fn = registry.QUERIES[name]
        for r in range(runs):
            group = f"prof-{name}-{r}"
            sc.setJobGroup(group, name)
            sc.setJobDescription(f"{name} run {r}")
            j0, c0, p0 = cpu_split(root)
            wall, _cpu = timed_run(spark, clock, fn, sf_dir, name)
            j1, c1, p1 = cpu_split(root)
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            n_stages = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    n_stages += len(info.stageIds)
            print(
                f"{name:32s} {r:3d} {wall:7.2f} {j1 - j0:7.2f} "
                f"{c1 - c0:7.2f} {p1 - p0:7.2f} {len(job_ids):5d} "
                f"{n_stages:6d}"
            )
        sc.setJobGroup("idle", "idle")
    spark.stop()


if __name__ == "__main__":
    main()
