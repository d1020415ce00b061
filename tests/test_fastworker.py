"""Round-13 python-boundary optimizations: the memoized-invalidation
worker (pyspark_fastworker) and the gc-throttled daemon
(pyspark_fastdaemon).

The whole test suite already runs THROUGH these (conftest's session comes
from get_spark, which opts in), so every mapInPandas/Arrow-UDF test is an
integration test. Here we pin the parts that integration cannot see:
the memo's invalidation semantics (must still fire on includes change —
that is the one case upstream's per-task call serves), the throttle's
full-collection cadence, and that the session really has the confs on.
"""

from __future__ import annotations

import io
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark_fastdaemon
import pyspark_fastworker
from kafka_stream_unify_order_messages_spark.session import _fastworker_conf


def _files_payload(spark_files_dir: str, includes: list[str]) -> io.BytesIO:
    """Bytes exactly as the JVM writes them for setup_spark_files."""
    from pyspark.serializers import write_int

    buf = io.BytesIO()

    def put_utf8(s: str) -> None:
        b = s.encode("utf-8")
        write_int(len(b), buf)
        buf.write(b)

    put_utf8(spark_files_dir)
    write_int(len(includes), buf)
    for name in includes:
        put_utf8(name)
    buf.seek(0)
    return buf


class TestSetupSparkFilesMemo:
    def test_invalidates_first_then_skips_then_fires_on_change(
        self, monkeypatch, tmp_path
    ):
        calls = []
        monkeypatch.setattr(
            pyspark_fastworker.importlib,
            "invalidate_caches",
            lambda: calls.append(1),
        )
        monkeypatch.setattr(pyspark_fastworker, "_last_includes", None)
        d = str(tmp_path)

        pyspark_fastworker._setup_spark_files_memo(_files_payload(d, ["a.zip"]))
        assert len(calls) == 1  # first task: must invalidate

        pyspark_fastworker._setup_spark_files_memo(_files_payload(d, ["a.zip"]))
        pyspark_fastworker._setup_spark_files_memo(_files_payload(d, ["a.zip"]))
        assert len(calls) == 1  # unchanged includes: skipped

        pyspark_fastworker._setup_spark_files_memo(
            _files_payload(d, ["a.zip", "b.py"])
        )
        assert len(calls) == 2  # addPyFile-style change: fires again

        pyspark_fastworker._setup_spark_files_memo(
            _files_payload(str(tmp_path / "other"), ["a.zip", "b.py"])
        )
        assert len(calls) == 3  # files-dir change: fires again

    def test_invalidates_on_files_dir_mtime_change(self, monkeypatch, tmp_path):
        # sc.addFile() of a bare .py lands in spark_files_dir WITHOUT
        # changing the includes list; the dir-mtime key must catch it
        calls = []
        monkeypatch.setattr(
            pyspark_fastworker.importlib,
            "invalidate_caches",
            lambda: calls.append(1),
        )
        monkeypatch.setattr(pyspark_fastworker, "_last_includes", None)
        d = str(tmp_path)
        pyspark_fastworker._setup_spark_files_memo(_files_payload(d, []))
        pyspark_fastworker._setup_spark_files_memo(_files_payload(d, []))
        assert len(calls) == 1
        (tmp_path / "added.py").write_text("x = 1\n")  # bumps dir mtime
        pyspark_fastworker._setup_spark_files_memo(_files_payload(d, []))
        assert len(calls) == 2

    def test_pinned_pyspark_version(self):
        import pyspark

        # the module imported fine above, so the running version must be
        # in the pin list — and the pin list must be non-trivial
        assert pyspark.__version__ in pyspark_fastworker._PINNED_PYSPARK

    def test_adds_paths_like_upstream(self, monkeypatch, tmp_path):
        monkeypatch.setattr(
            pyspark_fastworker.importlib, "invalidate_caches", lambda: None
        )
        monkeypatch.setattr(pyspark_fastworker, "_last_includes", None)
        d = str(tmp_path)
        pyspark_fastworker._setup_spark_files_memo(
            _files_payload(d, ["inc.zip"])
        )
        assert d in sys.path
        assert str(tmp_path / "inc.zip") in sys.path
        sys.path.remove(d)
        sys.path.remove(str(tmp_path / "inc.zip"))

    def test_worker_main_binding_patched(self):
        import pyspark.worker as w

        # the module patched the binding worker.main actually calls
        assert w.setup_spark_files is pyspark_fastworker._setup_spark_files_memo
        assert pyspark_fastworker.main is w.main


class TestThrottledGc:
    def test_full_collection_every_nth(self, monkeypatch):
        g = pyspark_fastdaemon._ThrottledGc()
        seen = []
        monkeypatch.setattr(
            pyspark_fastdaemon, "_gc", type(
                "G", (), {"collect": staticmethod(lambda gen=2: seen.append(gen))}
            )
        )
        for _ in range(g.FULL_EVERY * 2):
            g.collect()
        # gen-1 collections every task, a full one exactly every FULL_EVERY
        assert len(seen) == g.FULL_EVERY * 2
        assert seen.count(2) == 2  # full path: collect() -> default gen 2
        assert seen.count(1) == g.FULL_EVERY * 2 - 2

    def test_passthrough_attributes(self):
        import gc

        g = pyspark_fastdaemon._ThrottledGc()
        assert g.get_count is gc.get_count

    @staticmethod
    def _fake_gc(monkeypatch, seen, found):
        # records each collection's generation; a full one "finds" the
        # next value of `found` unreachable objects
        found = iter(found)

        def collect(gen=2):
            seen.append(gen)
            return next(found) if gen == 2 else 0

        monkeypatch.setattr(
            pyspark_fastdaemon, "_gc", SimpleNamespace(collect=collect)
        )

    def test_rss_escape_hatch(self, monkeypatch):
        # RSS above the limit forces the FULL collection on every task
        # while those collections keep finding garbage
        g = pyspark_fastdaemon._ThrottledGc()
        seen = []
        self._fake_gc(monkeypatch, seen, [5, 5])
        monkeypatch.setattr(
            pyspark_fastdaemon, "_rss_bytes", lambda: g.RSS_LIMIT + 1
        )
        g.collect()
        g.collect()
        assert seen == [2, 2]

    def test_rss_escape_hatch_closes_when_full_gc_finds_nothing(
        self, monkeypatch
    ):
        # RSS held up by memory gc cannot free (Arrow buffers): once a full
        # collection finds nothing, tasks go back to gen-1 until the next
        # cadence collection, whose finding re-opens the hatch
        monkeypatch.setattr(pyspark_fastdaemon._ThrottledGc, "FULL_EVERY", 4)
        g = pyspark_fastdaemon._ThrottledGc()
        seen = []
        self._fake_gc(monkeypatch, seen, [0, 3, 0])
        monkeypatch.setattr(
            pyspark_fastdaemon, "_rss_bytes", lambda: g.RSS_LIMIT + 1
        )
        for _ in range(6):
            g.collect()
        assert seen == [2, 1, 1, 1, 2, 2]

    @pytest.mark.skipif(
        not Path("/proc/self/statm").exists(),
        reason="RSS is read from /proc/self/statm (Linux only)",
    )
    def test_rss_bytes_reads_proc(self):
        rss = pyspark_fastdaemon._rss_bytes()
        assert rss > 1 << 20  # this test process surely resides in >1 MB


class TestSessionOptIn:
    def test_conf_present_when_modules_exist(self):
        conf = _fastworker_conf()
        assert conf.get("spark.python.worker.module") == "pyspark_fastworker"
        assert conf.get("spark.python.daemon.module") == "pyspark_fastdaemon"

    def test_kill_switch(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_STOCK_WORKER", "1")
        assert _fastworker_conf() == {}

    def test_kill_switch_falsy_values_stay_fast(self, monkeypatch):
        # the round-13 footgun: =0 must NOT force the stock worker
        for v in ("0", "false", "no", "off", ""):
            monkeypatch.setenv("SPARK_GRAFT_STOCK_WORKER", v)
            assert _fastworker_conf(), v

    def test_cluster_master_stays_stock(self):
        # the daemon import path only reaches executors in local mode;
        # a cluster master must not opt in (ADVICE r13 medium)
        assert _fastworker_conf("spark://host:7077") == {}
        assert _fastworker_conf("yarn") == {}
        assert _fastworker_conf("local[32]") != {}

    def test_dataframe_debugging_off(self, spark):
        # r14: the per-call py4j call-site capture is ~40% of driver-side
        # plan-build time; the engine session must keep it off
        assert (
            spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
            == "false"
        )

    def test_live_session_uses_fast_worker(self, spark):
        assert (
            spark.conf.get("spark.python.worker.module") == "pyspark_fastworker"
        )
        # end-to-end: a python-boundary stage through the fast worker
        # produces exactly the right rows
        import pyspark.sql.functions as F

        def double(pdfs):
            for pdf in pdfs:
                pdf["y"] = pdf["x"] * 2
                yield pdf

        df = (
            spark.range(100)
            .select(F.col("id").alias("x"))
            .repartition(5)
            .mapInPandas(double, "x long, y long")
        )
        rows = {(r.x, r.y) for r in df.collect()}
        assert rows == {(i, 2 * i) for i in range(100)}
