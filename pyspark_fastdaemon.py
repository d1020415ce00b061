"""Daemon entry point that throttles the per-task full gc.collect().

Activated via the public ``spark.python.daemon.module`` conf (set by
``session.get_spark`` together with ``pyspark_fastworker``): the JVM runs
``python -m pyspark_fastdaemon pyspark_fastworker`` instead of
``python -m pyspark.daemon pyspark.worker``.

Why: upstream ``pyspark/daemon.py``'s worker-reuse loop runs a FULL
``gc.collect()`` after every task. With pyspark (+ pandas/numpy/pyarrow
in Arrow-stage workers) imported, a full collection walks a large
module-object graph: measured ~14 ms per call on this host — fixed
per-task overhead on the same scale as the task's real work for
metadata-sized batches, and a full bench sweep runs O(10k) python tasks.

The collection exists to keep reused workers from accumulating cyclic
garbage across tasks (reference-counted garbage is freed immediately
regardless). Throttling preserves that protection with bounded staleness:
every task still runs a cheap young-generation ``gc.collect(1)`` (the
bulk of per-task cycles die young), and every 16th task runs the full
collection — so cyclic garbage survives at most 16 tasks instead of 1,
while the fixed cost drops ~16x.

This module must import in the daemon with nothing but pyspark on the
path; ``session.get_spark`` only opts in when the file is importable
(same PYTHONPATH contract as pyspark_fastworker.py).

Note on the import-time argv contract: ``pyspark.daemon`` resolves the
worker module from ``sys.argv[1]`` AT IMPORT — running this module with
``pyspark_fastworker`` as argv[1] makes the stock daemon code import and
use the fast worker, so this wrapper only has to patch ``gc`` and
delegate to the stock ``manager()``.
"""

from __future__ import annotations

import gc as _gc
import os as _os

_PAGE = _os.sysconf("SC_PAGE_SIZE") if hasattr(_os, "sysconf") else 4096


def _rss_bytes() -> int:
    """Resident set size of this worker, ~1 µs via /proc/self/statm."""
    try:
        with open("/proc/self/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class _ThrottledGc:
    """Stand-in for the ``gc`` module inside pyspark.daemon's loop.

    Every ``FULL_EVERY``-th task runs the full collection, and so does
    every task while the worker's RSS exceeds ``RSS_LIMIT`` — the
    memory-pressure escape hatch, so cyclic garbage from large Arrow
    batches cannot pile up 16 tasks deep. The hatch stays open only
    while the last full collection found garbage: Arrow buffers count
    toward RSS but gc cannot free them, so a full collection that finds
    nothing waits for the next cadence one.
    """

    FULL_EVERY = 16
    RSS_LIMIT = 1024 << 20

    def __init__(self) -> None:
        self._since_full = 0
        self._full_found = True

    def collect(self, *args):  # signature-compatible with gc.collect
        self._since_full += 1
        if self._since_full >= self.FULL_EVERY or (
            self._full_found and _rss_bytes() > self.RSS_LIMIT
        ):
            self._since_full = 0
            found = _gc.collect()
            self._full_found = bool(found)
            return found
        return _gc.collect(1)

    def __getattr__(self, name):
        # anything else (enable/disable/freeze/...) passes through
        return getattr(_gc, name)


if __name__ == "__main__":
    import pyspark.daemon as _daemon  # parses sys.argv[1] -> worker module

    _daemon.gc = _ThrottledGc()
    _daemon.manager()
