"""Top-level pipeline assembly — the analogue of the reference's
OrderProjectionApp + OrderProjectionTopology.build (OrderProjectionApp.java:
19-39, OrderProjectionTopology.java:31-67): configuration with environment
overrides, then the full topology wired source -> serde -> normalize ->
stateful unify -> sink.

The reference's .properties/env layering (applyDefaults + envOrDefault,
OrderProjectionApp.java:56-69) maps to ``UnifyConfig.from_env`` with
``SPARK_UNIFY_*`` variables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from kafka_stream_unify_order_messages_spark.functions.normalize import (
    canonicalize_type,
    topic_fallback,
)
from kafka_stream_unify_order_messages_spark.sinks.kafka import (
    kafka_stream_writer,
    to_kafka_records,
)
from kafka_stream_unify_order_messages_spark.sources.kafka import (
    DEFAULT_TOPICS,
    kafka_stream_reader,
    parse_order_events,
)
from kafka_stream_unify_order_messages_spark.streaming import (
    unify_stream,
    unify_stream_event_time,
    unify_stream_tws,
)
from kafka_stream_unify_order_messages_spark.streaming.unify_tws import (
    unify_stream_tws_event_time,
)


@dataclass
class UnifyConfig:
    """Pipeline configuration (reference defaults where they exist)."""

    bootstrap_servers: str = "localhost:19092"  # OrderProjectionApp.java:59
    topics: tuple[str, ...] = DEFAULT_TOPICS
    output_topic: str = "order-projection"  # OrderProjectionTopology.java:26
    buffer_ms: int = 5000  # OrderProjectionTopology.java:29
    trigger_interval: str = "1 second"  # punctuation cadence parity
    checkpoint_location: str = "/tmp/spark-unify-checkpoint"
    event_time_mode: bool = False  # replay-deterministic alternative
    # v2 stateful API (transformWithStateInPandas): explicit per-key
    # timers; requires the RocksDB state store + protobuf runtime
    use_tws: bool = False
    strict_serde: bool = False  # reference parity: die on malformed input
    sasl_jaas: str | None = None
    # RocksDB state store: the at-scale choice (SURVEY.md §4.3) matching
    # the reference's RocksDB-backed pending-order store; False keeps the
    # HDFS-backed default (fine for tests/small state)
    rocksdb_state: bool = False
    # RocksDB changelog checkpointing: checkpoint the per-batch state
    # DELTA instead of snapshotting the store — the right trade once
    # live state is multi-GB per executor (checkpoint cost stops scaling
    # with state size). Opt-in, not bundled with rocksdb_state: at small
    # state its effect is inside run-to-run noise (LATENCY.md round-7
    # note) and it silently changes the checkpoint format.
    changelog_checkpointing: bool = False
    # Emission-latency tuning (measured in LATENCY.md): defer the
    # synchronous streaming-metadata-log compactions (file-source /
    # offset / commit logs) that otherwise stall ~every 10th micro-batch
    # and set the whole p95 tail, and keep state-store maintenance off
    # the measurement window. Trade-off: metadata logs grow until the
    # deferred compaction runs, so the interval should be sized to the
    # deployment's batch cadence — these values suit second-scale
    # triggers; leave False for bulk/replay jobs where per-batch latency
    # is irrelevant.
    low_latency: bool = False

    @classmethod
    def from_env(cls, **overrides) -> "UnifyConfig":
        env = os.environ
        cfg = cls(
            bootstrap_servers=env.get(
                "SPARK_UNIFY_BOOTSTRAP", cls.bootstrap_servers
            ),
            output_topic=env.get("SPARK_UNIFY_OUTPUT_TOPIC", cls.output_topic),
            buffer_ms=int(env.get("SPARK_UNIFY_BUFFER_MS", cls.buffer_ms)),
            checkpoint_location=env.get(
                "SPARK_UNIFY_CHECKPOINT", cls.checkpoint_location
            ),
            sasl_jaas=env.get("SPARK_UNIFY_SASL_JAAS"),
        )
        for k, v in overrides.items():
            setattr(cfg, k, v)
        return cfg


def unify_topology(raw: DataFrame, cfg: UnifyConfig) -> DataFrame:
    """The full logical topology over a raw (value, topic) stream:
    deserialize (S3) -> canonicalize with topic fallback (P2/P6) -> null
    filter (P3) -> stateful unify (T3-T9). Works on any DataFrame with
    (value, topic) columns — Kafka, file, or fixture."""
    events = parse_order_events(raw, strict=cfg.strict_serde)
    # P1 parity (the reference's per-record peek, OrderProjectionTopology.
    # java:75-78): record/corrupt counts per micro-batch via observation
    # metrics — read from StreamingQueryProgress.observedMetrics
    events = events.observe(
        "unify_source",
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.col("corrupt").cast("long")).alias("n_corrupt"),
    )
    normalized = events.withColumn(
        "type",
        canonicalize_type(F.col("type"), fallback=topic_fallback("topic")),
    ).filter(F.col("order_id").isNotNull() & ~F.col("corrupt"))
    slim = normalized.select("order_id", "type", "timestamp", "order_details")
    if cfg.use_tws:
        tws = unify_stream_tws_event_time if cfg.event_time_mode else unify_stream_tws
        return tws(slim, buffer_ms=cfg.buffer_ms)
    if cfg.event_time_mode:
        return unify_stream_event_time(slim, buffer_ms=cfg.buffer_ms)
    return unify_stream(slim, buffer_ms=cfg.buffer_ms)


def apply_state_store_config(spark: SparkSession, cfg: UnifyConfig) -> None:
    # transformWithState runs only on RocksDB (the HDFS-backed provider
    # has no multiple column families), so use_tws implies it
    if cfg.rocksdb_state or cfg.use_tws:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        )
        if cfg.changelog_checkpointing:
            # checkpoint the changelog instead of snapshotting the full
            # store every commit: cost scales with the batch's state
            # DELTA — the property that matters once live state is
            # multi-GB per executor (docs/DEPLOYMENT.md §5).
            spark.conf.set(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                "true",
            )
    if cfg.low_latency:
        # measured in LATENCY.md: the synchronous metadata-log
        # compaction every 10th batch is the single largest p95
        # contributor at second-scale cadence (~+0.5 s on the batch
        # that pays it)
        for k in (
            "spark.sql.streaming.fileSource.log.compactInterval",
            "spark.sql.streaming.offsetLog.compactInterval",
            "spark.sql.streaming.commitLog.compactInterval",
        ):
            spark.conf.set(k, "1000")
        spark.conf.set(
            "spark.sql.streaming.stateStore.maintenanceInterval", "600s"
        )
        # (spark.locality.wait is a core conf — session-build time only,
        # and measured neutral in local mode anyway)


def build_projection_query(spark: SparkSession, cfg: UnifyConfig):
    """Kafka-to-Kafka deployment entry point: returns the started
    StreamingQuery (the analogue of KafkaStreams.start())."""
    apply_state_store_config(spark, cfg)
    raw = kafka_stream_reader(
        spark, cfg.bootstrap_servers, cfg.topics, sasl_jaas=cfg.sasl_jaas
    ).load()
    projections = unify_topology(raw, cfg)
    records = to_kafka_records(
        projections, key_col="order_id", value_col="payload",
        topic=cfg.output_topic,
    )
    return kafka_stream_writer(
        records,
        cfg.bootstrap_servers,
        cfg.checkpoint_location,
        trigger_interval=cfg.trigger_interval,
        sasl_jaas=cfg.sasl_jaas,
    ).start()
