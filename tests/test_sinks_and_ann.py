"""Kafka sink-frame contract."""

from __future__ import annotations

from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import route
from prioritizing_event_processing_with_apache_kafka_spark.sources.kafka import (
    kafka_sink_frame,
)


class TestKafkaSinkFrame:
    def test_sink_schema_and_starved_drop(self, spark):
        cfg = BucketPriorityConfig(
            topic="orders", buckets=["B1", "B2", "B3"], allocation=["55%", "40%", "5%"]
        )
        rows = [(i, "orders", f"B{1 + i % 3}-{i}", f"v{i}") for i in range(9)]
        df = spark.createDataFrame(rows, "record_id long, topic string, key string, value string")
        routed = route(df, cfg, 10, topic_col="topic", order_col="record_id", mode="exact")
        sink = kafka_sink_frame(routed, cfg)
        assert sink.columns == ["key", "value", "topic", "partition"]
        out = sink.collect()
        # B3 is starved (partition -1) → its 3 records are dropped
        assert len(out) == 6
        assert all(r["topic"] == "orders" and r["partition"] >= 0 for r in out)

    def test_unroutable_null_partition_passes_through(self, spark):
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1"], allocation=[100])
        df = spark.createDataFrame(
            [(0, "orders", "Silver-1", "v")], "record_id long, topic string, key string, value string"
        )
        routed = route(df, cfg, 4, topic_col="topic", order_col="record_id", mode="exact")
        out = kafka_sink_frame(routed, cfg).collect()
        assert len(out) == 1 and out[0]["partition"] is None


