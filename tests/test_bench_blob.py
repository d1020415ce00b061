"""bench.py's stdout-blob contract: the driver parses one JSON line out
of a 2000-char stdout tail, so the blob must always fit the budget,
keep its totals un-truncated, and keep the wall/cpu per-query maps
key-aligned while truncating."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import fit_blob


def _mk(n: int, cpu: bool = True):
    # realistic name lengths (registry mean ~17 chars): entry cost is
    # dominated by the NAME, so a short-name fixture would overstate
    # how many entries fit
    timings = {
        f"registry_query_{i:03d}": round(0.1 + i * 0.013, 3)
        for i in range(n)
    }
    result = {
        "metric": "registry_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": dict(timings),
        "sf": 0.1,
    }
    if cpu:
        cpu_map = {k: round(v * 2, 2) for k, v in timings.items()}
        result["cpu_value"] = round(sum(cpu_map.values()), 1)
        result["queries_cpu"] = cpu_map
    return result, timings


def test_small_blob_passes_through_untouched():
    result, timings = _mk(5)
    before = json.dumps(result, separators=(",", ":"))
    line = fit_blob(result, timings)
    assert line == before
    assert "queries_omitted" not in json.loads(line)


def test_large_blob_fits_budget_and_maps_stay_aligned():
    result, timings = _mk(300)
    line = fit_blob(result, timings)
    assert len(line) <= 1900
    parsed = json.loads(line)
    # totals and the cpu anchor survive truncation bit-for-bit
    assert parsed["value"] == round(sum(timings.values()), 3)
    assert parsed["cpu_value"] == result["cpu_value"]
    # every surviving cpu entry has its wall twin (cpu keys are a
    # SUBSET: cpu twins shed first to protect wall coverage, and the
    # slowest quarter keeps its cpu for the trend story)
    assert set(parsed["queries_cpu"]) <= set(parsed["queries"])
    assert len(parsed["queries_cpu"]) >= 1
    # fastest dropped first: every dropped query is <= every kept one,
    # up to the 1-decimal quantization the blob rounds to before
    # dropping (ties at the same rounded value break arbitrarily)
    kept = set(parsed["queries"])
    dropped = set(timings) - kept
    assert dropped, "300 queries must not fit untruncated"
    slowest_dropped = max(timings[d] for d in dropped)
    fastest_kept = min(timings[k] for k in kept)
    assert slowest_dropped <= fastest_kept + 0.05 + 1e-9
    assert parsed["queries_omitted"] == len(dropped)
    assert parsed["detail"] == "BENCH_DETAIL.json"


def test_wall_coverage_roughly_doubles():
    # r14: the r13 blob surfaced only ~31 of 215 per-query walls (it
    # dropped wall+cpu pairs together) and the driver's round-over-round
    # common set kept shrinking; 1dp rounding + cpu-twin shedding must
    # lift wall coverage well past that (measured 58 on the real detail)
    result, timings = _mk(215)
    parsed = json.loads(fit_blob(result, timings))
    assert len(json.dumps(parsed, separators=(",", ":"))) <= 1900
    assert len(parsed["queries"]) >= 45
    # 1dp values, not 2dp: every kept entry is a multiple of 0.1
    assert all(
        abs(v * 10 - round(v * 10)) < 1e-9 for v in parsed["queries"].values()
    )
    # the surviving cpu twins are the SLOWEST-cpu queries (the trend
    # story), and every one has its wall entry
    cpu = parsed["queries_cpu"]
    assert set(cpu) <= set(parsed["queries"])
    assert 1 <= len(cpu) <= len(parsed["queries"])


def test_blob_without_cpu_twin_still_truncates():
    # a connect/cluster session has no /proc pid: cpu fields absent
    result, timings = _mk(300, cpu=False)
    parsed = json.loads(fit_blob(result, timings))
    assert "queries_cpu" not in parsed and "cpu_value" not in parsed
    assert parsed["value"] == round(sum(timings.values()), 3)
    assert parsed["queries_omitted"] == len(timings) - len(parsed["queries"])


def test_cpu_omitted_counts_twins_popped_with_their_wall_entry():
    # cpu order opposite to wall order: the cpu floor keeps the twins of
    # the FASTEST walls, so the wall drops pop them too; the count must
    # follow every pop, not only the cpu-shedding ones
    result, timings = _mk(300)
    names = list(timings)
    result["queries_cpu"] = {
        k: round(timings[names[-1 - i]] * 2, 2) for i, k in enumerate(names)
    }
    parsed = json.loads(fit_blob(result, timings))
    assert set(parsed["queries_cpu"]) <= set(parsed["queries"])
    assert parsed["cpu_omitted"] == len(timings) - len(parsed["queries_cpu"])


def test_rounding_alone_still_points_at_the_detail_file():
    # values long enough that only 2dp rounding is needed to fit: nothing
    # is dropped, but the blob no longer holds the exact values
    result, timings = _mk(40, cpu=False)
    result["queries"] = timings = {k: v + 1 / 3 for k, v in timings.items()}
    line = fit_blob(result, timings, budget=1500)
    parsed = json.loads(line)
    assert len(line) <= 1500
    assert len(parsed["queries"]) == 40
    assert "queries_omitted" not in parsed
    assert parsed["detail"] == "BENCH_DETAIL.json"
