"""Full-topology assembly test: raw JSON (value, topic) rows through
deserialization, topic-fallback canonicalization, corrupt filtering, and
the stateful unify — the whole reference app minus the Kafka broker."""

from __future__ import annotations

import json
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from kafka_stream_unify_order_messages_spark.app import (
    UnifyConfig,
    unify_topology,
)


def msg(order_id, etype, second, details=None, drop_field=None):
    body = {
        "order-id": order_id,
        "type": etype,
        "timestamp": f"2026-01-01T00:00:{second:02d}.000Z",
        "order_details": details or {"s": second},
    }
    if drop_field:
        del body[drop_field]
    return json.dumps(body)


def write_batch(src_dir, rows, batch_no):
    table = pa.table(
        {
            "value": [r[0] for r in rows],
            "topic": [r[1] for r in rows],
        }
    )
    pq.write_table(table, f"{src_dir}/batch-{batch_no:04d}.parquet")


def wait_rows(spark, q, name, src, hb_row, deadline_s=180):
    """Wait for >=1 output row, re-feeding the (idempotent, first-wins-
    deduped) heartbeat row every few seconds so a missed watermark-advance
    micro-batch can't strand the test under full-suite JVM load."""
    deadline = time.time() + deadline_s
    batch_no = 1000
    last_nudge = time.time()
    while time.time() < deadline:
        if q.exception():
            raise q.exception()
        if spark.table(name).count() >= 1:
            return
        if time.time() - last_nudge > 5:
            write_batch(src, [hb_row], batch_no)
            batch_no += 1
            last_nudge = time.time()
        time.sleep(0.3)


def test_full_topology_from_raw_json(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    name = f"app_{uuid.uuid4().hex[:8]}"
    raw = spark.readStream.schema("value string, topic string").parquet(str(src))
    cfg = UnifyConfig(buffer_ms=5000, event_time_mode=True)
    q = (
        unify_topology(raw, cfg)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        write_batch(
            src,
            [
                # o1: junk type on the created topic -> topic fallback
                (msg("o1", "BOGUS", 0), "order-created"),
                (msg("o1", "Placed", 1), "order-placed"),  # case-insensitive
                (msg("o1", "order-cancelled", 2), "order-cancelled"),  # alias
                # corrupt JSON: flagged and filtered, not fatal
                ('{"order-id": broken', "order-created"),
                # missing required field: treated as corrupt too
                (msg("o9", "created", 3, drop_field="timestamp"), "order-created"),
                # watermark heartbeat closes o1's event-time window
                (msg("hb", "created", 59), "order-created"),
            ],
            0,
        )
        wait_rows(spark, q, name, src, (msg("hb", "created", 59), "order-created"))
        out = {r.order_id: json.loads(r.payload) for r in spark.table(name).collect()}
        assert set(out) == {"o1"}
        events = out["o1"]["events"]
        assert [e["type"] for e in events] == ["created", "placed", "cancelled"]
        assert events[0]["order_details"] == {"s": 0}
    finally:
        q.stop()


def test_config_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_UNIFY_BOOTSTRAP", "broker:9092")
    monkeypatch.setenv("SPARK_UNIFY_BUFFER_MS", "2500")
    cfg = UnifyConfig.from_env(strict_serde=True)
    assert cfg.bootstrap_servers == "broker:9092"
    assert cfg.buffer_ms == 2500
    assert cfg.strict_serde is True
    assert cfg.output_topic == "order-projection"


def test_rocksdb_state_store_end_to_end(spark, tmp_path, state_store):
    # the at-scale state store must work with the stateful unify; run one
    # complete lifecycle through it (the fixture restores the provider)
    from kafka_stream_unify_order_messages_spark.app import (
        apply_state_store_config,
    )

    apply_state_store_config(spark, UnifyConfig(rocksdb_state=True))
    src = tmp_path / "in"
    src.mkdir()
    name = f"rdb_{uuid.uuid4().hex[:8]}"
    raw = spark.readStream.schema("value string, topic string").parquet(
        str(src)
    )
    cfg = UnifyConfig(buffer_ms=5000, event_time_mode=True)
    q = (
        unify_topology(raw, cfg)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        write_batch(
            src,
            [
                (msg("r1", "created", 0), "order-created"),
                (msg("r1", "placed", 1), "order-placed"),
                (msg("r1", "cancelled", 2), "order-cancelled"),
                (msg("hb", "created", 59), "order-created"),
            ],
            0,
        )
        wait_rows(
            spark, q, name, src, (msg("hb", "created", 59), "order-created")
        )
        out = {r.order_id for r in spark.table(name).collect()}
        assert "r1" in out
    finally:
        q.stop()


def test_use_tws_sets_rocksdb_provider(spark, state_store):
    # transformWithState has no HDFS-backed store (its first batch fails
    # with STATE_STORE_MULTIPLE_COLUMN_FAMILIES), so use_tws alone must
    # select RocksDB
    from kafka_stream_unify_order_messages_spark.app import (
        apply_state_store_config,
    )

    state_store("hdfs")
    apply_state_store_config(spark, UnifyConfig(use_tws=True))
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    ).endswith(".RocksDBStateStoreProvider")


def test_use_tws_with_event_time_builds_the_tws_event_time_plan(
    spark, tmp_path
):
    # both flags together must reach the watermark-closed TWS twin, not
    # the v1 applyInPandasWithState event-time plan
    raw = spark.readStream.schema("value string, topic string").parquet(
        str(tmp_path)
    )
    out = unify_topology(raw, UnifyConfig(use_tws=True, event_time_mode=True))
    plan = out._jdf.queryExecution().logical().toString()
    assert "TransformWithStateInPySpark" in plan
    assert "EventTimeWatermark" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


def test_low_latency_tuning_applies_and_is_opt_in(spark):
    # the measured latency tuning (LATENCY.md) must apply through the
    # deployment surface, and must be OPT-IN: bulk/replay jobs should
    # keep default compaction cadence
    from kafka_stream_unify_order_messages_spark.app import apply_state_store_config

    keys = [
        "spark.sql.streaming.fileSource.log.compactInterval",
        "spark.sql.streaming.offsetLog.compactInterval",
        "spark.sql.streaming.commitLog.compactInterval",
    ]
    prior = {k: spark.conf.get(k, None) for k in keys}
    try:
        apply_state_store_config(spark, UnifyConfig(low_latency=False))
        for k in keys:
            assert spark.conf.get(k, None) == prior[k]
        apply_state_store_config(spark, UnifyConfig(low_latency=True))
        for k in keys:
            assert spark.conf.get(k) == "1000"
        assert (
            spark.conf.get(
                "spark.sql.streaming.stateStore.maintenanceInterval"
            )
            == "600s"
        )
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.conf.unset(
            "spark.sql.streaming.stateStore.maintenanceInterval"
        )
