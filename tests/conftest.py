from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kafka_stream_unify_order_messages_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming."
    "state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming."
    "state.RocksDBStateStoreProvider",
}


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def state_store(spark):
    """Call with "hdfs" or "rocksdb" to switch the session's state-store
    provider. The previous setting comes back after the test, even when
    it fails, and the conf is unset again if it was unset before: a
    leaked provider would move every later streaming test onto it."""
    prior = spark.conf.get(_PROVIDER_CONF, None)
    yield lambda store: spark.conf.set(_PROVIDER_CONF, _PROVIDERS[store])
    if prior is None:
        spark.conf.unset(_PROVIDER_CONF)
    else:
        spark.conf.set(_PROVIDER_CONF, prior)
