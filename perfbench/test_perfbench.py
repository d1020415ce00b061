"""Tests of the benchmark's own helpers (no JVM needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import spec  # noqa: E402
import streams  # noqa: E402
import unify_live  # noqa: E402


@pytest.mark.parametrize("n", [21, 22, 37, 70, 101, 171, 1000])
def test_tail_is_highest_sample_with_ten_beyond(n):
    ops = [float(i) for i in range(n)]
    s = spec.op_summary(ops)
    assert sum(1 for x in ops if x > s["op_tail_s"]) == 10
    assert s["tail_beyond"] == 10
    assert s["op_tail_s"] >= s["op_p50_s"]


@pytest.mark.parametrize("n", [2, 3, 11, 12, 20])
def test_tail_of_few_ops_is_p90(n):
    ops = [float(i) for i in range(n)]
    s = spec.op_summary(ops)
    assert s["op_tail_s"] == ops[round(0.9 * (n - 1))]
    assert s["op_tail_s"] > s["op_p50_s"]


def test_tail_rule_small_and_shuffled():
    assert spec.op_summary([3.0, 1.0, 2.0])["op_tail_s"] == 3.0
    assert spec.op_summary([5.0])["op_tail_s"] == 5.0
    s = spec.op_summary([float(x) for x in reversed(range(200))])
    assert s["op_tail_s"] == 189.0
    assert s["tail_quantile"] == 0.95
    assert s["op_p50_s"] == 99.5


def test_inputs_are_seed_deterministic():
    assert spec.lifecycles(60, seed=7) == spec.lifecycles(60, seed=7)
    assert spec.lifecycles(60, seed=7) != spec.lifecycles(60, seed=8)
    assert unify_live.plan(4, seed=3) == unify_live.plan(4, seed=3)


def test_inputs_mix_complete_and_incomplete_orders():
    warm, first, waves, complete = unify_live.plan(2, seed=1)
    n_orders = len(first) + sum(len(f) for f in waves)
    assert 0 < len(complete) < n_orders
    lcs = spec.lifecycles(200, seed=1)
    assert any(len(lc) > 3 for lc in lcs)  # duplicates injected
    assert any(len(lc) < 3 for lc in lcs)  # events missing


def test_wire_value_keeps_details_raw_and_last():
    e = spec.lifecycles(1, seed=1)[0][0]
    v = spec.wire_value(e)
    assert list(json.loads(v)) == ["order-id", "type", "timestamp",
                                   "order_details"]
    assert v.endswith(',"order_details":' + e["order_details"] + "}")


def test_check_emitted_counts_every_wrong_outcome():
    complete = {"a", "b"}
    ok = [("a", 3, 0.0), ("b", 3, 0.0)]
    assert streams.check_emitted(ok, complete) == 0
    assert streams.check_emitted(ok[:1], complete) == 1  # missing
    assert streams.check_emitted(ok + ok[:1], complete) == 1  # twice
    assert streams.check_emitted(ok + [("c", 3, 0.0)], complete) == 1
    assert streams.check_emitted([("a", 2, 0.0), ok[1]], complete) == 1


def test_metric_table_matches_benchmark_json():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spec.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)


def test_registry_sample_is_the_recorded_one():
    import registry_sweep

    assert registry_sweep.sample() == list(registry_sweep.EXPECTED_SAMPLE)
