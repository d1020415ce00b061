"""Scale-ramp study: run the dedup / ANN / text-curation families across
a 3000x row-count range and fit per-step scaling exponents, backing the
"would this hold at 100 TB" design claims with measured growth rates
instead of plan-shape arguments.

Scales: sf0.01 and sf0.1 from the driver's testdata, plus x3/x10/x100
synthetic supersets of sf0.1 built by scripts/gen_ramp_data.py
(duplicate DENSITY held constant — see that script's docstring for why
verbatim replication would corrupt the measurement). At x100 (500k docs,
200k vectors, 10M events) per-row data work finally dominates the
fixed per-job overhead on local[32], so the top-step exponent is the
honest linearity measurement; quadratic-by-design evals cap at x10
(their cost is O(n^2) on purpose).

Exponent per step = log(t_next/t_prev) / log(size_next/size_prev):
e ~= 1 is linear scaling, e < 1 means fixed overhead (scheduling,
codegen, Python worker startup) still dominates, e > ~1.2 on a query's
top data-bound step flags super-linear growth worth explaining.

Usage:
    python scripts/gen_ramp_data.py           # once, builds .ramp_data/
    python scripts/scaling_ramp.py            # writes SCALING.md + json
    python scripts/scaling_ramp.py --only q1,q2   # re-measure a subset;
        # other queries keep their cells from the existing SCALING.json
        # and the report is regenerated over the union
    python scripts/scaling_ramp.py --report-only  # re-render SCALING.md
        # (and SCALING.json's derived maps) from the recorded cells

Each cell is best-of-2 (``RUNS``) wall clock and engine CPU, measured
with bench.py's shared warm-up and timed run. Keep the machine
otherwise idle.
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import timed_run, warm_up
from kafka_stream_unify_order_messages_spark import get_spark, registry
from kafka_stream_unify_order_messages_spark.cpuclock import EngineCpuClock

_ROOT = Path(__file__).resolve().parent.parent
SF_DIRS = [
    # (label, dir, relative size)
    ("sf0.01", "/root/testdata/sf0.01", 0.1),
    ("sf0.1", "/root/testdata/sf0.1", 1.0),
    ("x3", str(_ROOT / ".ramp_data" / "x3"), 3.0),
    ("x10", str(_ROOT / ".ramp_data" / "x10"), 10.0),
    ("x100", str(_ROOT / ".ramp_data" / "x100"), 100.0),
    # x300 (1.5M docs / 600k vectors / 30M events): one tier past x100
    # for the families whose x10->x100 exponent was still CLIMBING as
    # overhead amortized (round-5 item #6) — confirms they plateau <=1
    # instead of continuing toward super-linear.
    ("x300", str(_ROOT / ".ramp_data" / "x300"), 300.0),
]
_LABELS = [s[0] for s in SF_DIRS]

# (query, expected scale shape, max scale label) — "linear" families must
# stay near e<=~1.2 on their top step; "quadratic-by-design" are the
# exact-truth baselines whose cost is O(n^2) on purpose (they exist to
# BOUND the linear-path approximations, run on eval samples at production
# scale, and are capped at x10 here).
RAMP_QUERIES = [
    # the reference topology's flagship batch analogue: one shuffle on
    # order_id (T2), first-wins dedup + completeness gate + projection.
    # Ramped over the events table (10k -> 10M rows at x100).
    ("unify_projection", "linear", "x100"),
    ("first_wins_dedup", "linear", "x100"),
    ("dedup_exact", "linear", "x100"),
    # DLT priority sampling: draw + one division scan-side, global
    # top-k via TakeOrderedAndProject (per-partition heaps, k-row
    # merge) — expected linear in the scan with a constant k term
    ("priority_sample", "linear", "x300"),
    ("line_dedup", "linear", "x300"),
    ("minhash_signatures", "linear", "x300"),
    ("minhash_dedup_pairs", "linear", "x300"),
    ("minhash_jaccard_estimate", "linear", "x300"),
    # 32-bit simhash saturates its 8-bit band slices around 10^5 docs
    # (256 buckets -> quadratic candidate join); kept in the ramp as the
    # measured WHY for the 64-bit default at scale. The 64-bit row is
    # the fix: 16-bit slices, 65,536 buckets.
    ("simhash_near_dup_pairs", "blocking-saturated", "x100"),
    ("simhash64_near_dup_pairs", "linear", "x300"),
    ("dedup_cluster_labels", "linear", "x100"),
    ("incremental_near_dup", "linear", "x100"),
    # arrival-ordered first-wins verdicts (batch twins of the streaming
    # dedup): band rows -> bucket-firsts agg -> probe join; the verified
    # form adds a candidate-bounded 16-term signature compare
    ("near_dup_first_wins", "linear", "x100"),
    ("near_dup_verified", "linear", "x100"),
    # mergeable histogram quantile sketch over events: two scans + one
    # map-side-combined groupBy; everything after reduction is bin rows
    ("quantile_sketch_merged", "linear", "x100"),
    # grouped quantile serving from the same sketch pass: identical scan
    # shape plus per-group windows over bin rows (bounded frames)
    ("quantile_sketch_by_group", "linear", "x300"),
    # exact-oracle Lloyd's trainer: per-iteration work linear in rows
    # (exploded-dims mean shuffle + broadcast centroid probe); the
    # correctness anchor runs on eval-sized corpora, production trains
    # via the numpy GEMM path — capped at x10 like the other anchors
    ("kmeans_train", "linear", "x10"),
    # two-pass MG heavy hitters: pass 1 folds each partition to a
    # capacity-k summary (shuffle = partitions*k rows, never the
    # vocabulary), pass 2 recounts the broadcast candidate union —
    # expected linear (two scans) with a constant summary-merge term
    ("bigram_heavy_hitters", "linear", "x300"),
    ("dup_ngram_spans", "linear", "x300"),
    ("clean_corpus", "linear", "x300"),
    ("text_stats", "linear", "x300"),
    ("table_profile", "linear", "x100"),
    ("ann_lsh_buckets", "linear", "x100"),
    ("ann_lsh_topk", "linear+q", "x100"),
    ("knn_join_topk", "linear+q", "x300"),
    # fully-distributed MMR over knn_join candidates: the knn_join core
    # (measured above) plus a candidate-bounded greedy re-rank that is
    # O(fetch_k^2 * k) PER QUERY — constant in corpus size; with |Q|
    # growing as n/20 in this harness the composed cost is linear+q
    ("mmr_knn_diversified_topk", "linear+q", "x300"),
    ("ann_ivf_fixed", "linear+q", "x100"),
    # PQ-only ADC is an exhaustive scan — every query scores every code
    # (|Q|x|C| by construction); with |Q| growing alongside the corpus
    # in this harness its growth is quadratic ON PURPOSE. The scale path
    # is IVFPQ (next row): coarse cells bound the codes each query
    # touches.
    ("ann_pq_fixed", "exhaustive+q", "x100"),
    # the ORACLE-geometry IVFPQ (16 cells, nprobe=4): each query probes
    # a CONSTANT 1/4 of the corpus, times the per-subspace LUT join, so
    # with |Q| growing alongside n the pair work is quadratic by the
    # fixed small geometry, not by the algorithm — production scales
    # n_centroids with sqrt(n) (operators/retrieval.py's trained path).
    # Capped at x10 like the other fixed-geometry baselines.
    ("ann_ivfpq_fixed", "linear+q", "x10"),
    ("semantic_dedup", "cluster-bounded", "x300"),
    # the production AUTO-k mode (n_centroids=None -> k=ceil(sqrt(n))):
    # the measured FIX for the fixed-k row above (e=1.08 at x100->x300) —
    # expected per-cluster size stays ~sqrt(n), so pair work grows
    # ~n*sqrt(n) and the per-tier model re-trains on a FIXED-size sample.
    # Not registry surface (the registry row keeps k=16 so its DuckDB
    # oracle can re-train the identical model in SQL) — see
    # _semantic_dedup_auto below.
    ("semantic_dedup_auto", "cluster-bounded-auto", "x300"),
    # text retrieval: fixed query set, per-query work linear in the
    # corpus scan (DF/length stats + postings agg); x300 because its
    # x10->x100 exponent (0.59) was still climbing — plateau check
    ("bm25_topk", "linear", "x300"),
    # iterative graph ops: fixed (pagerank) or diameter-bounded (BFS)
    # round count; per-round work linear in surviving edges/frontier
    ("pagerank_dup_graph", "iterative", "x100"),
    ("graph_bfs_hops", "iterative", "x100"),
    ("ann_cosine_topk", "quadratic-by-design", "x10"),
    ("semdedup_agreement_eval", "quadratic-by-design", "x10"),
    # real-codec loop (round-10): per-doc PNG encode + tiered real decode
    # + checksum via two chained mapInPandas — constant per-row work,
    # no shuffle beyond the small-table repartition, so the codec
    # family's scale claim is plain row-linearity
    ("multimodal_real_decode", "linear", "x300"),
    # not registry surface — see _trained_serve below.
    ("ivf_trained_serve", "sublinear-serve", "x100"),
    # the compressed-index sibling (round-10): serve-only IVFPQ against
    # the persisted codes-only index — see _trained_serve below.
    ("ivfpq_trained_serve", "sublinear-serve", "x100"),
]

# ---------------------------------------------------------------------------
# Ramp-local measurements (deliberately NOT registry queries: they exist to
# back SCALING.md's shape claims, not to add API surface).
#
# The registry's ann_ivf_fixed / ann_ivfpq_fixed keep the 16-cell ORACLE
# geometry, whose constant probed fraction (nprobe/n_centroids = 1/4) makes
# pair work quadratic once the harness grows |Q| with the corpus — measured
# above. Production IVF separates BUILD (train ~sqrt(n) centroids, one
# assignment pass, partitioned write — amortized across every future query
# batch) from SERVE (probe nprobe cells of the persisted index; the cell
# filter is directory-level partition pruning). This entry measures SERVE at
# production geometry: a FIXED 20-query batch, n_centroids = sqrt(n),
# nprobe = 4 — the probed union is <= 80 cells, so the fraction of the index
# read shrinks as sqrt(n) grows (18% of cells at x100 vs 100% at sf0.1) and
# per-query GEMM work is ~4·n/sqrt(n) rows. Build runs once per tier inside
# the FIRST timed run and is cached; with best-of-2 the reported number is
# therefore the serve-only cost (run 2), matching the build-once/serve-many
# contract the persisted-index operator exists for.
# ---------------------------------------------------------------------------
_EMB_ROWS = {
    "sf0.01": 500, "sf0.1": 2000, "x3": 6000, "x10": 20000, "x100": 200000,
    "x300": 600000,
}


def _trained_serve(kind: str, spark, sf_dir: str):
    """IVF (``kind`` "ivf") or IVFPQ ("ivfpq") serve at production
    geometry against the persisted ``save_<kind>_index`` index: fixed
    20-query batch, n_centroids = sqrt(n), nprobe = 4. IVFPQ persists
    codes-only inverted lists, so its serving reads <= 80 pruned cell
    directories of 8-byte codes (never a raw vector) and scores ADC LUT
    gathers on the pre-computed codes. The build goes through the
    session cache, so it runs once per tier inside the first timed run
    and best-of-2 reports serve-only cost."""
    import pyspark.sql.functions as F

    from kafka_stream_unify_order_messages_spark.operators import (
        similarity as S,
    )
    from kafka_stream_unify_order_messages_spark.sources.files import (
        cached,
        load_table,
    )

    label = next(lbl for lbl, d, _s in SF_DIRS if d == sf_dir)
    k_c = max(16, math.isqrt(_EMB_ROWS[label]))
    path = str(_ROOT / ".ramp_data" / f"{kind}_index_{label}")
    emb = load_table(spark, sf_dir, "embeddings")
    save = getattr(S, f"save_{kind}_index")
    cached(
        spark,
        [f"{sf_dir}/embeddings.parquet"],
        (f"{kind}_trained_serve", path, k_c),
        lambda: save(emb, path, n_centroids=k_c),
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return getattr(S, f"search_{kind}_index")(
        spark, path, queries, k=5, nprobe=4
    )


def _semantic_dedup_auto(spark, sf_dir: str):
    """The registry `semantic_dedup` composition (pairs -> connected
    components -> keep min id per component) at PRODUCTION geometry:
    ``n_centroids=None`` auto-k (k = max(16, ceil(sqrt(n))), trainer
    sample capped at max(4096, 4k) rows), the shipped fix for the
    fixed-k=16 scale cliff measured in the row above (e=1.08 at
    x100->x300). The registry row keeps k=16 so its DuckDB oracle can
    re-train the identical model in SQL; equivalence of auto vs explicit
    k at matched k is pinned by tests/test_llm_ops.py."""
    from kafka_stream_unify_order_messages_spark.operators import (
        dedup as DD,
        similarity as S,
    )
    from kafka_stream_unify_order_messages_spark.sources.files import (
        load_table,
    )

    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.semantic_dedup_pairs(
        emb, "vec_id", "embedding", n_centroids=None, threshold=0.35
    )
    clusters = DD.dedup_clusters(pairs.select("id_a", "id_b"))
    losers = F.broadcast(
        clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias("vec_id")
        )
    )
    return emb.join(losers, "vec_id", "left_anti").select("vec_id")


RAMP_EXTRA = {
    "ivf_trained_serve": functools.partial(_trained_serve, "ivf"),
    "ivfpq_trained_serve": functools.partial(_trained_serve, "ivfpq"),
    "semantic_dedup_auto": _semantic_dedup_auto,
}

# Config-time guard-boundary check (ADVICE r8): ann_pq_fixed's query side
# is |Q| = n/20 and its pq_topk call pins max_query_batch=10_000 — at the
# current x100 cap (200k vectors) |Q| sits EXACTLY at the ceiling. A tier
# bump past x100 would flip the benchmark row into a hard ValueError
# mid-run; fail here, at config time, instead.
_PQ_GUARD_CEILING = 10_000
_pq_cap = next(ml for n, _s, ml in RAMP_QUERIES if n == "ann_pq_fixed")
assert _EMB_ROWS[_pq_cap] // 20 <= _PQ_GUARD_CEILING, (
    f"ann_pq_fixed ramp cap {_pq_cap} implies |Q| = "
    f"{_EMB_ROWS[_pq_cap] // 20} > pinned max_query_batch "
    f"{_PQ_GUARD_CEILING}; either lower the cap or raise the pinned "
    "ceiling in queries_llm.py's ann_pq_fixed"
)


# best-of-2: every committed SCALING.json cell was measured so
RUNS = 2


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(
        description="Measure the scale ramp; write SCALING.json and .md."
    )
    ap.add_argument("--only", metavar="NAME[,NAME]",
                    help="re-measure only these queries; the others keep "
                    "their cells from SCALING.json")
    ap.add_argument("--report-only", action="store_true",
                    help="re-render the report from SCALING.json")
    args = ap.parse_args(argv)
    if args.report_only:
        # re-render SCALING.md (and the derived exponent maps in
        # SCALING.json) from the recorded measurements WITHOUT touching
        # a single cell — the report narrative lives in this script, so
        # editing it must not force a multi-hour re-measure or, worse, a
        # hand-edit of the generated file that the next real ramp run
        # silently reverts.
        prior = json.loads((_ROOT / "SCALING.json").read_text())
        _write_report(
            prior.get("runs", RUNS),
            prior["results"],
            prior.get("cpu_results", {}),
            prior.get("noise", {}),
        )
        return
    only = {q.strip() for q in (args.only or "").split(",") if q.strip()}
    if only:
        unknown = only - {n for n, _, _ in RAMP_QUERIES}
        if unknown:
            raise SystemExit(f"--only: names not in RAMP_QUERIES: {unknown}")
    to_run = [
        q for q in RAMP_QUERIES if not only or q[0] in only
    ]
    # only the dirs this (possibly --only-filtered) run reads: the
    # x300 tier is required — and warmed — only when some selected query
    # is capped there
    top_needed = max(_LABELS.index(ml) for _, _sh, ml in to_run)
    needed_dirs = SF_DIRS[: top_needed + 1]
    for _, d, _s in needed_dirs:
        if not Path(d).exists():
            raise SystemExit(
                f"missing scale dir {d}; run scripts/gen_ramp_data.py first"
            )
    spark = get_spark(
        "scaling-ramp",
        master="local[32]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # warm the JVM/codegen once per scale with a throwaway pass
    for _, sf_dir, _s in needed_dirs:
        warm_up(spark, sf_dir, ("documents", "embeddings", "events"))
    # Besides wall, every cell records engine-tree CPU on bench.py's
    # instrument: wall cells at the x300 tier swing up to 2x with host
    # load (round 9, the dup_ngram_spans investigation), while /proc CPU
    # is inflated only by memory-stall cycles, not by losing the core.
    clock = EngineCpuClock(spark)

    results: dict[str, dict[str, float]] = {}
    cpu_results: dict[str, dict[str, float]] = {}
    # per-cell noise evidence (round-9 protocol, now recorded
    # automatically instead of living only in SCALING.md prose): every
    # run logs its wall, CPU delta, and the host 1-min load average
    # before/after — so a future flagged exponent carries its own
    # quiet-vs-co-loaded context and the "a flag is only CONFIRMED when
    # a quiet re-measure reproduces it" rule is checkable from the JSON
    noise: dict[str, dict[str, list[dict]]] = {}
    if only and (_ROOT / "SCALING.json").exists():
        prior = json.loads((_ROOT / "SCALING.json").read_text())
        for table, key in (
            (results, "results"), (cpu_results, "cpu_results"), (noise, "noise")
        ):
            table.update(
                {n: t for n, t in prior.get(key, {}).items() if n not in only}
            )

    def _load1() -> float | None:
        try:
            return round(os.getloadavg()[0], 2)
        except OSError:
            return None

    for name, _shape, max_label in to_run:
        fn = RAMP_EXTRA.get(name) or registry.QUERIES[name]
        results[name] = {}
        cpu_results[name] = {}
        noise[name] = {}
        top = _LABELS.index(max_label)
        for sf_name, sf_dir, _s in SF_DIRS[: top + 1]:
            best = float("inf")
            best_cpu = float("inf")
            cell_runs: list[dict] = []
            for _ in range(RUNS):
                load0 = _load1()
                wall, cpu = timed_run(
                    spark, clock, fn, sf_dir, f"{name} {sf_name}"
                )
                best = min(best, wall)
                if cpu is not None:
                    best_cpu = min(best_cpu, cpu)
                cell_runs.append(
                    {
                        "wall_s": round(wall, 3),
                        "cpu_s": None if cpu is None else round(cpu, 1),
                        "load1_before": load0,
                        "load1_after": _load1(),
                    }
                )
            noise[name][sf_name] = cell_runs
            results[name][sf_name] = round(best, 3)
            if best_cpu != float("inf"):
                cpu_results[name][sf_name] = round(best_cpu, 1)
            print(
                f"{name:30s} {sf_name:8s} {best:7.3f}s"
                + (
                    f"  cpu={best_cpu:8.1f}s"
                    if best_cpu != float("inf")
                    else ""
                ),
                file=sys.stderr,
            )
    spark.stop()
    _write_report(RUNS, results, cpu_results, noise)


def _write_report(
    runs: int,
    results: dict[str, dict[str, float]],
    cpu_results: dict[str, dict[str, float]],
    noise: dict[str, dict[str, list[dict]]],
) -> None:
    """Derive exponents and write SCALING.json + SCALING.md. Split from
    main() so --report-only can re-render the report from recorded
    measurements when only the narrative changes."""
    sizes = {lbl: s for lbl, _, s in SF_DIRS}
    rows = []
    for name, shape, _max_label in RAMP_QUERIES:
        if name not in results:  # --only run with no prior timings
            continue
        r = results[name]
        es: list[float | None] = []
        for a, b in zip(_LABELS, _LABELS[1:]):
            if a in r and b in r:
                es.append(
                    round(
                        math.log10(r[b] / r[a])
                        / math.log10(sizes[b] / sizes[a]),
                        2,
                    )
                )
            else:
                es.append(None)
        # CPU-based exponent for the row's TOP measured step (see the
        # clock in main(): robust to host-load swings that distort wall
        # cells) — None for rows not re-measured since the cpu column
        # was added. cpu_step records WHICH step the exponent covers:
        # clearing a wall flag with a cpu pair from a LOWER tier would
        # let a stale cell vouch for a step it never measured.
        c = cpu_results.get(name, {})
        e_cpu, cpu_step = None, None
        for i, (a, b) in enumerate(zip(_LABELS, _LABELS[1:])):
            if a in c and b in c and c[a] > 0:
                e_cpu = round(
                    math.log10(c[b] / c[a])
                    / math.log10(sizes[b] / sizes[a]),
                    2,
                )
                cpu_step = i
        rows.append((name, shape, r, es, e_cpu, cpu_step))

    out = {
        "runs": runs,
        "scales": sizes,
        "results": results,
        "cpu_results": cpu_results,
        "noise": noise,
        "exponents": {n: es for n, _, _, es, _ec, _cs in rows},
        "cpu_top_exponents": {n: ec for n, _, _, _es, ec, _cs in rows},
        "cpu_top_exponent_steps": {
            n: (
                f"{_LABELS[cs]}->{_LABELS[cs + 1]}" if cs is not None else None
            )
            for n, _, _, _es, _ec, cs in rows
        },
    }
    (_ROOT / "SCALING.json").write_text(json.dumps(out, indent=1) + "\n")

    def cell(v):
        return "—" if v is None else f"{v:.2f}"

    lines = [
        "# SCALING — measured scale-ramp for the dedup / ANN / curation families",
        "",
        f"Wall-clock best-of-{runs} per query across a 3000x size range"
        " (documents",
        "500 -> 5,000 -> 15,000 -> 50,000 -> 500,000 -> 1.5M; embeddings 200 ->",
        "2,000 -> 6,000 -> 20,000 -> 200,000 -> 600k; events 10k -> 100k ->",
        "300k -> 1M -> 10M -> 30M). x300 runs only for the families whose",
        "x10->x100 exponent was still climbing when first measured (plateau",
        "check); other rows keep their x100 caps. All on local[32]; the",
        "x300 trainer tier (exact k-means over 600k vectors) needs",
        "SPARK_DRIVER_MEMORY=32g — local mode puts the whole 'cluster' in",
        "one JVM, so this is executor sizing, not a plan property (the 8g",
        "default OOMs in the exploded-dims localCheckpoint).",
        "x3/x10/x100/x300 are synthetic supersets of sf0.1 with",
        "duplicate density held constant (scripts/gen_ramp_data.py documents why",
        "verbatim replication would corrupt the measurement). Per-step exponent",
        "e = log(t2/t1)/log(n2/n1): e ~= 1 is linear in data size, e < 1 means",
        "per-job fixed overhead (scheduling, codegen, Python worker startup —",
        "amortized away on a real cluster) still dominates, e > ~1.2 on the top",
        "data-bound step (x10 -> x100) is super-linear. Quadratic-by-design",
        "evals and the fixed-oracle-geometry IVFPQ cap at x10 (their cost",
        "is O(n^2) on purpose — see the shape legend).",
        "",
        "| query | shape | sf0.01 | sf0.1 | x3 | x10 | x100 | x300 "
        "| e(0.01→0.1) | e(0.1→x3) | e(x3→x10) | e(x10→x100) | e(x100→x300) "
        "| e_cpu(top) |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, shape, r, es, e_cpu, _cs in rows:
        t = [f"{r[lbl]:.2f}" if lbl in r else "—" for lbl in _LABELS]
        lines.append(
            f"| {name} | {shape} | " + " | ".join(t) + " | "
            + " | ".join(cell(e) for e in es) + f" | {cell(e_cpu)} |"
        )
    lines += [
        "",
        "Shape legend:",
        "",
        "- **linear** — banded/blocked/bucketed paths that must stay near-linear:",
        "  exact dedup (hash groupBy), MinHash banding (bucket equi-join, never",
        "  all-pairs), SimHash (Hamming on band-bucketed candidates), connected",
        "  components (large-star rounds on surviving edges), span removal, text",
        "  scoring, the profiler.",
        "- **linear+q** — ANN serving paths whose query side is a fixed fraction",
        "  of the corpus in this harness (`vec_id % 20 = 0`), so measured growth",
        "  includes |Q| growing 10x alongside the corpus; with a production",
        "  fixed-size query batch these are linear in corpus size (probed",
        "  cells/buckets only).",
        "- **exhaustive+q** — PQ-only ADC scores every (query, code) pair",
        "  by construction; with the harness's query side growing with the",
        "  corpus the measured growth is quadratic on purpose. The scale",
        "  path is IVFPQ (probed cells only), measured in the next row.",
        "- **blocking-saturated** — kept as a measured negative result:",
        "  32-bit simhash's 8-bit band slices give only 256 blocking",
        "  buckets, which saturate around 10^5 docs and turn the candidate",
        "  equi-join quadratic (e=2.12 on the top step). The fix is the",
        "  64-bit row directly below it (16-bit slices, 65,536 buckets) —",
        "  use `bits=64` beyond ~10^4 docs; the operator docstring says so.",
        "- **iterative** — fixed-round (pagerank: 5 power iterations) or",
        "  diameter-bounded (BFS: early exit on empty frontier) loops;",
        "  per-round work is one join + one aggregate, linear in surviving",
        "  edges/frontier, with localCheckpoint lineage truncation. Growth",
        "  should track edge count (~linear here: dup density is held",
        "  constant); at sf<=x10 the measured time is dominated by per-round",
        "  job scheduling, which a cluster amortizes identically.",
        "- **sublinear-serve** — ramp-local (not registry surface): IVF",
        "  serving at production geometry against the PERSISTED index",
        "  (`save_ivf_index`/`search_ivf_index`; the ivfpq_trained_serve",
        "  row is the compressed sibling — `save_ivfpq_index` persists",
        "  codes-only inverted lists and serving scores ADC on",
        "  pre-computed codes, never reading a raw vector): fixed",
        "  20-query batch,",
        "  n_centroids = sqrt(n), nprobe = 4. The probed-cell union is",
        "  <= 80 directories, so partition pruning reads a SHRINKING",
        "  fraction of the index as n grows; per-query GEMM work is",
        "  ~4·n/sqrt(n) rows. Build (train + assign + partitioned write)",
        "  runs once per tier on the first timed run and is memoized, so",
        "  best-of-2 reports serve-only cost — the build-once/serve-many",
        "  contract. This row is the measured FIX for the fixed-geometry",
        "  rows above.",
        "- **cluster-bounded** — SemDeDup scores pairs only within k-means",
        "  clusters (chunk-decomposed above max_cluster_size), so cost tracks",
        "  sum(cluster_size^2) ~ n^2/k for fixed k — kept as the measured",
        "  WHY for the auto-k default at scale (the k=16 registry geometry",
        "  exists so the DuckDB oracle can re-train the identical model).",
        "- **cluster-bounded-auto** — the production fix, MEASURED in the",
        "  semantic_dedup_auto row: n_centroids=None trains",
        "  k = max(16, ceil(sqrt(n))) centroids on a fixed-size sample, so",
        "  expected per-cluster size stays ~sqrt(n) and pair work grows",
        "  ~n*sqrt(n) (amortized by fixed per-job overhead on this ramp);",
        "  the top-step exponent must flatten vs the fixed-k row above.",
        "- **quadratic-by-design** — exact all-pairs / brute-force baselines that",
        "  exist to BOUND the approximate paths (recall/agreement evals). At",
        "  production scale these run on eval samples, never the full corpus.",
        "",
        "**x300-tier measurement noise (round-9 finding):** top-tier cells on",
        "this shared host vary up to 2x run-to-run with background load (the",
        "same dup_ngram_spans binary measured 26.5-88s wall and 287-502",
        "JVM-CPU-s on back-to-back identical runs; load average swung",
        "0.4-25). A flagged exponent is therefore a trigger to INVESTIGATE,",
        "not a verdict — the e_cpu(top) column (whole-JVM /proc CPU, valid",
        "because local mode puts the entire cluster in one process) is the",
        "noise-robust cross-check recorded for every re-measured row.",
        "The column exists because of the dup_ngram_spans investigation:",
        "its x300 cell first measured at wall e=1.27-1.85 depending on the",
        "session. The full workup — intermediate volumes measured exactly",
        "linear (25M -> 75M per-(doc,gram) rows at 3x data), zero spill in",
        "the event-log metrics, an aggregate+join rewrite A/B-profiled by",
        "task-attributed Executor CPU Time and REJECTED (join ~1,800 CPU-s",
        "vs window ~730 at x300: the extra 75M-row exchange plus a 150M-row",
        "SMJ double the work) — predicted linearity, and a clean measurement",
        "window confirmed it: the recorded row is wall e=0.89 /",
        "e_cpu=0.96. Co-loaded windows inflated even /proc CPU up to 3x",
        "(memory-stall cycles burn on our clock), so a flag is only CONFIRMED",
        "when a quiet re-measure reproduces it. Every cell now records its",
        "own noise evidence automatically (SCALING.json `noise`: per-run",
        "wall, JVM-CPU delta, and host 1-min load average before/after), and",
        "a wall flag is only CPU-cleared by a cpu pair covering the SAME",
        "step — rows with only a stale lower-tier cpu cell report as 'needs",
        "quiet re-measure' instead of folding into the all-clear.",
        "",
        "**CPU-clock unification (round 13):** through round 12 this",
        "ramp's CPU column read the gateway JVM alone, while bench.py's",
        "trend anchor counted the whole engine process tree; both now",
        "share one instrument (kafka_stream_unify_order_messages_spark/",
        "cpuclock.py — JVM + pyspark.daemon/Arrow-worker descendants,",
        "incl. cutime/cstime of reaped children). The distinction only",
        "matters for MapInPandas-heavy rows, where the Python workers do",
        "the work: re-measured under the wider clock,",
        "multimodal_real_decode's x300 cell reads 222.3 engine-CPU-s",
        "(the JVM-only clock had credited it a fraction of that) and its",
        "top-step e_cpu moves 0.66 -> 0.86 — still sub-linear, so the",
        "published shape survives the honest accounting, but the old",
        "figure under-counted ~3x in absolute terms. Reading rules:",
        "within-row exponents compare a query to itself, so pre-r13 cpu",
        "cells' EXPONENTS remain valid for JVM-side rows; ABSOLUTE cpu",
        "values for MapInPandas-heavy rows (multimodal, phash, semantic",
        "families) are only cross-comparable within the same clock era,",
        "and any future flag investigation on such a row should start by",
        "re-measuring its cpu pair under the unified clock. Later in",
        "round 13 the shared instrument became the stateful dip-proof",
        "`EngineCpuClock` (cpuclock.py \"THE DIP PROBLEM\": the naive",
        "live-tree sum loses a worker pool's accumulated ticks when its",
        "daemon dies without reaping — per-cell deltas could read low or",
        "negative); readings are >= the naive clock's by exactly the",
        "retired ticks, which is a no-op for cells whose pools survive",
        "the measurement window — exponents are unaffected.",
        "",
        "**bm25_topk workup (round 10):** the r9 watch item (top-step",
        "exponent climbing 0.30 -> 0.78 -> 1.12 on both clocks) was a real",
        "plan defect, not noise. Volumes measured exactly linear (tf rows",
        "1.45M -> 14.8M -> 44.5M at x10/x100/x300; vocabulary 3.9k -> 43k ->",
        "130k), but the plan hash-aggregated the FULL (doc, token) stream",
        "(44.5M groups at x300) and aggregated + BROADCAST the full",
        "corpus vocabulary for document frequencies, while only the ~17",
        "query-token posting rows were ever consumed — a corpus-growing",
        "broadcast, the very thing that dies at 100 TB. Fix",
        "(operators/retrieval.py): push the query-token semi-join BELOW the",
        "tf exchange and aggregate df over the filtered frame (identical df",
        "values for every scoreable token; strict oracle unchanged). Result:",
        "x300 wall 54.9s -> 39.2s, top step wall e=0.91 / e_cpu=0.96 on the",
        "same-step cpu pair — measured under a co-loaded window (load1",
        "14-26), so the CPU exponent is the load-bearing number.",
        "",
        "**graph-family workup (round 11):** the r10 watch item —",
        "graph_bfs_hops bench wall climbing 4.3 -> 7.7 -> 10.9 s across",
        "rounds on byte-identical code — was a real config interaction,",
        "not noise: the r9 initialPartitionNum=512 setting made every",
        "persist()/localCheckpoint() of a shuffled frame materialize at",
        "512 un-coalesced partitions (AQE may not change cached-plan",
        "output partitioning by default), so iterative operators paid",
        "hundreds of near-empty tasks per hop on every cache read. Fixed",
        "in session.py (canChangeCachedPlanOutputPartitioning=true): bfs",
        "184.8 -> 35.2 CPU-s at sf0.1, minhash 140 -> 22, pagerank 95 ->",
        "8; full workup in BASELINE.md. The graph rows above were then",
        "re-measured under the fixed config, adding their same-step CPU",
        "columns (bfs e_cpu 0.69, pagerank 0.74 at x10->x100 — the",
        "iterative family is sublinear on the robust clock too; the",
        "wall cells carry their own noise evidence in SCALING.json).",
        "",
    ]
    confirmed = []
    cleared = []
    remeasure = []
    for n, shape, _r, es, e_cpu, cpu_step in rows:
        if shape != "linear" or es[-1] is None or es[-1] <= 1.2:
            continue
        wall_step = len(es) - 1
        # a wall-clock flag with a linear CPU exponent is host-load noise
        # in a wall cell, not a scale defect (see the measurement-noise
        # note above and the clock in main()) — but ONLY a cpu pair covering
        # the SAME step can vouch for it: CPU-linear/wall-superlinear on
        # the same step is noise, while a lower-tier cpu cell says
        # nothing about the flagged step (and a genuinely IO/spill-bound
        # defect IS CPU-linear, so same-step clearing is already the
        # generous reading; the quiet-window rule remains the arbiter)
        if e_cpu is not None and cpu_step == wall_step and e_cpu <= 1.2:
            cleared.append((n, es[-1], e_cpu))
        elif e_cpu is not None and cpu_step == wall_step:
            confirmed.append((n, es[-1], e_cpu))
        else:
            remeasure.append((n, es[-1], e_cpu))
    if confirmed:
        lines.append("**Flagged super-linear (investigate):** " + ", ".join(
            f"{n} (e={e}, e_cpu={cell(ec)})" for n, e, ec in confirmed
        ))
    else:
        lines.append(
            "**No linear-family query exceeded e=1.2 on its top step"
            + (" (by same-step CPU; wall flags below are"
               " host-noise-cleared)" if cleared else "")
            + ".**"
        )
    if cleared:
        lines.append("")
        lines.append(
            "**Wall-flagged, CPU-cleared on the same step (host noise):** "
            + ", ".join(
                f"{n} (wall e={e}, cpu e={ec})" for n, e, ec in cleared
            )
        )
    if remeasure:
        lines.append("")
        lines.append(
            "**Wall-flagged, needs quiet re-measure (no same-step CPU"
            " cell):** " + ", ".join(
                f"{n} (wall e={e}, stale cpu e={cell(ec)})"
                for n, e, ec in remeasure
            )
        )
    flags = confirmed + remeasure
    lines.append("")
    (_ROOT / "SCALING.md").write_text("\n".join(lines))
    print(json.dumps({"flagged": flags, "written": "SCALING.md"}))


if __name__ == "__main__":
    main()
