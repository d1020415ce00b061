"""Every registry query runs at sf0.001 and returns rows with the declared
columns; every oracle has a matching query key. (Full Spark-vs-DuckDB value
equality runs in scripts/check_oracle.py and the driver's own gate.)
"""

from __future__ import annotations

import pytest

from kafka_stream_unify_order_messages_spark import registry
from tests.conftest import SF_DIR


def test_oracles_subset_of_queries():
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_driver_window_rotation_stalest_first():
    # ordering policy (registry.py / PARITY.md): 14 pinned §2 queries
    # first every round; the remaining oracled queries sort by the round
    # of their most recent driver-green row ASCENDING (never-checked = 0
    # leads), so the ~36-slot window rolls re-verification through the
    # stalest rows; rows-only queries always sort last. Simulated here by
    # bumping each round's window to that round's green set and checking
    # the window cycles the whole registry.
    pinned = registry._PINNED
    slots = registry._ROTATING_SLOTS
    rotatable = [
        n for n in registry.QUERIES
        if n in registry.ORACLES and n not in pinned
    ]
    try:
        green: dict[str, int] = {}
        last_seen: dict[str, int] = {}
        rounds_needed = -(-len(rotatable) // slots)
        for rnd in range(1, 2 * rounds_needed + 1):
            registry._apply_registration_order(rnd, green_rounds=dict(green))
            window = list(registry.QUERIES)[: len(pinned) + slots]
            assert window[: len(pinned)] == pinned
            tail = window[len(pinned):]
            assert all(n in registry.ORACLES for n in tail)
            # stalest-first invariant: every window entry is at least as
            # stale as every non-window oracled query
            outside = [
                n for n in rotatable if n not in tail
            ]
            if tail and outside:
                assert max(green.get(n, 0) for n in tail) <= min(
                    green.get(n, 0) for n in outside
                )
            for n in tail:
                green[n] = rnd
                last_seen[n] = rnd
            for n in pinned:
                green[n] = rnd
        # after 2 full cycles every rotatable query was re-verified, and
        # no query waited more than one full cycle between visits
        assert set(last_seen) >= set(rotatable)
        assert min(last_seen[n] for n in rotatable) > rounds_needed
        # rows-only queries after every oracled one
        names = list(registry.QUERIES)
        idx_rows_only = [
            i for i, n in enumerate(names) if n not in registry.ORACLES
        ]
        if idx_rows_only:
            assert min(idx_rows_only) >= len(names) - len(idx_rows_only)
        # same (round, artifacts) -> same order (the driver imports more
        # than once per round)
        registry._apply_registration_order(3)
        once = list(registry.QUERIES)
        registry._apply_registration_order(3)
        assert list(registry.QUERIES) == once
    finally:
        registry._apply_registration_order()  # restore real-round order


# Queries allowed to run without a SQL oracle (rows-only driver check).
# Every entry must have a reason and a stronger pytest pinning
# correctness. EMPTY since round 8: ann_ivf_topk and semantic_dedup
# graduated onto the exact-trained k-means model (kmeans_train_exact,
# SQL-replicable), and unigram_agreement_eval's oracle pins the eval to
# the DuckDB-retrained model's perfect-agreement maxima.
ROWS_ONLY_ALLOWED: set[str] = set()


def test_driver_green_rounds_skips_malformed_artifacts(tmp_path, monkeypatch):
    """A CORRECTNESS_r*.json whose top level is a LIST (or junk) is
    skipped like a parse failure — query ordering must never crash on a
    malformed driver artifact — and a query green in several rounds maps
    to its HIGHEST round (the freshness index)."""
    import json

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(["not", "a", "dict"]))
    (tmp_path / "CORRECTNESS_r02.json").write_text("{broken json")
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(
        {"good_q": {"hash_match": True},
         "bad_q": {"hash_match": True, "err": "boom"},
         "weird": "not-a-dict-value"}
    ))
    (tmp_path / "CORRECTNESS_r05.json").write_text(json.dumps(
        {"good_q": {"hash_match": True},
         "other_q": {"hash_match": True}}
    ))
    # _driver_green_rounds globs Path(__file__).parent.parent first
    monkeypatch.setattr(
        registry, "__file__", str(tmp_path / "pkg" / "registry.py")
    )
    green = registry._driver_green_rounds()
    assert green == {"good_q": 5, "other_q": 5}


def test_benchmark_order_is_rotation_invariant():
    """bench.py measures in registry.benchmark_order(): it must cover
    every registered query exactly once and must NOT move when the
    driver-window rotation reorders QUERIES (execution order is part of
    the measurement on a shared JVM — see benchmark_order docstring)."""
    try:
        base = registry.benchmark_order()
        assert sorted(base) == sorted(registry.QUERIES)
        assert base[: len(registry._PINNED)] == registry._PINNED
        registry._apply_registration_order(7, green_rounds={n: i % 5 for i, n in enumerate(base)})
        assert registry.benchmark_order() == base
        assert list(registry.QUERIES) != base  # rotation really reordered
    finally:
        registry._apply_registration_order()


def test_every_query_is_oracle_checked_or_documented():
    missing = set(registry.QUERIES) - set(registry.ORACLES)
    assert missing <= ROWS_ONLY_ALLOWED, (
        f"queries without oracle or documented exemption: "
        f"{missing - ROWS_ONLY_ALLOWED}"
    )


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_runs(spark, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    rows = df.limit(5).collect()
    assert len(df.columns) > 0
    assert rows is not None


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_pinned_queries_all_registered():
    # _apply_registration_order skips pinned names missing from QUERIES
    # (so fixture deregistration can't KeyError a rebuild); this test is
    # the loud guard a typo or stale _PINNED entry would otherwise lose
    missing = [n for n in registry._PINNED if n not in registry.QUERIES]
    assert missing == [], f"stale names in registry._PINNED: {missing}"


def test_freshness_forward_view_sees_never_checked_queries(monkeypatch, capsys):
    """scripts/freshness.py's forward view is registry-aware: a query
    that has never earned a driver-green artifact row has no artifact
    presence at all, yet the live rotation ranks it FIRST (last-green
    round 0) — so the projection must list it leading the window, not
    silently omit it (the round-12 blind spot)."""
    import importlib

    freshness = importlib.import_module("scripts.freshness")

    monkeypatch.setitem(registry.ORACLES, "zz_hypothetical_new", "SELECT 1")
    freshness.main()
    out = capsys.readouterr().out
    assert "never driver-checked" in out
    assert "zz_hypothetical_new" in out
    # and round 0 leads the tier summary (count varies with how many
    # real queries are awaiting their first driver check, so assert the
    # tier exists rather than its exact size)
    assert "target: {0: " in out


@pytest.mark.parametrize("null_col", ["l_partkey", "l_orderkey"])
def test_basket_lift_null_keys_match_oracle(spark, tmp_path, null_col):
    # collect_set drops a null part where the oracle's DISTINCT keeps it,
    # and groupBy keeps a null order where count(DISTINCT okey) skips it;
    # neither may change the result
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    okeys = [1, 1, 1, 2, 2, 2, 3, 3, 4, 5, 5, 5]
    parts = [10, 20, 30, 10, 20, 30, 10, 20, 10, 10, 20, 30]
    nulls = [2, 5, 8, 9, 10]
    col = okeys if null_col == "l_orderkey" else parts
    for i in nulls:
        col[i] = None
    pq.write_table(
        pa.table({"l_orderkey": pa.array(okeys, pa.int64()),
                  "l_partkey": pa.array(parts, pa.int64())}),
        str(tmp_path / "lineitem.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet')"
    )
    want = sorted(con.execute(registry.ORACLES["basket_lift"]).fetchall())
    got = sorted(
        tuple(r) for r in registry.QUERIES["basket_lift"](
            spark, str(tmp_path)
        ).collect()
    )
    assert want  # the fixture leaves pairs with support >= 2
    assert got == want
