"""The one session cache (sources/files.py:cached) behind load_table and
the shared query artifacts: hit on identical (session, confs, inputs,
params), miss on anything that changes what the entry was built from.

Round-13 regression pinned here: the memo key ignored session confs, so a
test that flipped ``spark.sql.sources.useV1SourceList`` got back a stale V1
relation resolved under the default conf.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

from kafka_stream_unify_order_messages_spark import registry
from kafka_stream_unify_order_messages_spark.sources import files
from kafka_stream_unify_order_messages_spark.sources.files import (
    clear_cache,
    load_table,
)

SF = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parent.parent


def _part_file(path: str) -> str:
    return next(
        os.path.join(root, f)
        for root, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )


def test_memo_hit_same_args(spark):
    clear_cache()
    a = load_table(spark, SF, "lineitem")
    b = load_table(spark, SF, "lineitem")
    assert a is b


def test_memo_miss_on_v2_source_conf(spark):
    # flipping the V1/V2 split must yield a freshly-resolved relation,
    # and the V2 one must actually BE v2 (BatchScan, not FileScan)
    clear_cache()
    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    v1 = load_table(spark, SF, "lineitem")
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        v2 = load_table(spark, SF, "lineitem")
        assert v2 is not v1
        plan = v2._jdf.queryExecution().executedPlan().toString()
        assert "BatchScan" in plan, plan
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)
    # restoring the conf restores the original cache entry
    assert load_table(spark, SF, "lineitem") is v1


def _rewrite_in_place(path: str, part: str) -> None:
    # a rewrite of a same-named part file leaves every directory mtime
    # unchanged; only the file's own mtime moves
    dirs = {d: os.path.getmtime(d) for d in (path, os.path.dirname(part))}
    os.utime(part, (dirs[path] + 10, dirs[path] + 10))
    for d, t in dirs.items():
        os.utime(d, (t, t))


def test_memo_miss_on_part_file_rewrite(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "t.parquet")
    spark.range(10).toDF("id").write.mode("overwrite").parquet(path)
    clear_cache()
    a = load_table(spark, sf_dir, "t")
    _rewrite_in_place(path, _part_file(path))
    assert load_table(spark, sf_dir, "t") is not a


def test_memo_miss_on_nested_partition_rewrite(spark, tmp_path):
    # the part file sits one level down, in a k=1/ partition directory
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "t.parquet")
    spark.range(10).selectExpr("id", "id % 2 AS k").write.partitionBy(
        "k"
    ).parquet(path)
    clear_cache()
    a = load_table(spark, sf_dir, "t")
    _rewrite_in_place(path, _part_file(os.path.join(path, "k=1")))
    assert load_table(spark, sf_dir, "t") is not a


def test_memo_capped(spark, monkeypatch):
    clear_cache()
    load_table(spark, SF, "lineitem")
    monkeypatch.setattr(files, "_CACHE_CAP", len(files._CACHE))
    load_table(spark, SF, "orders")
    assert len(files._CACHE) <= files._CACHE_CAP
    clear_cache()


def test_memo_evicts_oldest_first(spark, monkeypatch):
    clear_cache()
    monkeypatch.setattr(files, "_CACHE_CAP", 2)
    first = load_table(spark, SF, "lineitem")
    second = load_table(spark, SF, "orders")
    newest = load_table(spark, SF, "part")  # at the cap: drops `first`
    assert load_table(spark, SF, "orders") is second
    assert load_table(spark, SF, "part") is newest
    assert load_table(spark, SF, "lineitem") is not first
    clear_cache()


def _copy_testdata(tmp_path) -> str:
    for name in os.listdir(SF):
        shutil.copyfile(os.path.join(SF, name), tmp_path / name)
    return str(tmp_path)


def _reverse_text(sf_dir: str) -> str:
    """Rewrite documents.parquet in place with every text reversed."""
    docs_path = os.path.join(sf_dir, "documents.parquet")
    docs = pq.read_table(docs_path)
    rev = docs.set_column(
        docs.schema.get_field_index("text"), "text",
        pc.utf8_reverse(docs["text"]),
    )
    pq.write_table(rev, docs_path)
    mtime = os.path.getmtime(docs_path) + 10  # past any mtime granularity
    os.utime(docs_path, (mtime, mtime))
    return docs_path


def test_trained_artifact_miss_on_input_rewrite(spark, tmp_path):
    # bpe_learn_merges trains once and reuses the merges; rewriting the
    # corpus under the same sf_dir must retrain, so the result matches a
    # fresh learn (the DuckDB oracle) on the NEW text
    sf_dir = _copy_testdata(tmp_path)
    q = registry.QUERIES["bpe_learn_merges"]
    before = sorted(tuple(r) for r in q(spark, sf_dir).collect())
    docs_path = _reverse_text(sf_dir)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')"
    )
    fresh = sorted(con.execute(registry.ORACLES["bpe_learn_merges"]).fetchall())
    after = sorted(tuple(r) for r in q(spark, sf_dir).collect())
    assert fresh != before  # the rewrite does change the merges
    assert after == fresh


def test_persisted_artifact_miss_on_input_rewrite(spark, tmp_path):
    # lm_perplexity persists its score frame: after a rewrite, the rebuilt
    # frame must not be served the old frame's persisted rows
    sf_dir = _copy_testdata(tmp_path)
    q = registry.QUERIES["lm_perplexity"]
    before = sorted(q(spark, sf_dir).collect())
    _reverse_text(sf_dir)
    after = sorted(q(spark, sf_dir).collect())
    spark.catalog.clearCache()
    clear_cache()
    fresh = sorted(q(spark, sf_dir).collect())
    assert fresh != before
    assert after == fresh


_RESTART = """
from kafka_stream_unify_order_messages_spark import get_spark, registry
q = registry.QUERIES["triangle_count"]
spark = get_spark("cache-restart", master="local[2]", shuffle_partitions=4)
first = sorted(q(spark, {sf!r}).collect())
spark.stop()
spark = get_spark("cache-restart", master="local[2]", shuffle_partitions=4)
assert sorted(q(spark, {sf!r}).collect()) == first
spark.stop()
print("restart-ok")
"""


def test_persisted_artifact_not_reused_after_session_restart():
    # a subprocess, so the suite's session-scoped `spark` stays untouched:
    # the persisted triangle frame of the stopped session must not be
    # handed to the new one
    out = subprocess.run(
        [sys.executable, "-c", _RESTART.format(sf=SF)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert "restart-ok" in out.stdout, out.stderr[-4000:]
