"""Structured Streaming orchestration: routed writes, prioritized
per-bucket consumption, and event-time telemetry."""

from prioritizing_event_processing_with_apache_kafka_spark.streaming.consume import (
    BucketReaderSpec,
    consume_plan,
    kafka_reader_options,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.route_stream import (
    route_stream,
    routed_foreach_batch,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.dimension import (
    scd2_apply_batch,
    scd2_current,
    scd2_foreach_batch,
    scd2_history_at,
    scd2_init_history,
    scd2_prune_versions,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.sinks import (
    idempotent_parquet_sink,
    read_idempotent_output,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.telemetry import (
    bucket_throughput,
    dedup_within_watermark,
    interval_join,
    user_sessions,
)

__all__ = [
    "BucketReaderSpec",
    "consume_plan",
    "kafka_reader_options",
    "route_stream",
    "idempotent_parquet_sink",
    "read_idempotent_output",
    "scd2_apply_batch",
    "scd2_current",
    "scd2_foreach_batch",
    "scd2_history_at",
    "scd2_init_history",
    "scd2_prune_versions",
    "routed_foreach_batch",
    "bucket_throughput",
    "dedup_within_watermark",
    "interval_join",
    "user_sessions",
]
