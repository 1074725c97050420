"""Round-7 ninth-batch operators: drain-tick percentiles."""

from __future__ import annotations


class TestDrainTickPercentiles:
    def test_priority_ordering_holds(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.inventory import (
            q_drain_tick_percentiles,
        )

        got = {
            r.bucket: r
            for r in q_drain_tick_percentiles(
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        for b, r in got.items():
            assert r.p50_tick <= r.p95_tick <= r.p99_tick, b
        # the pattern's value proposition: the priority bucket drains
        # its tail far earlier than the bulk bucket
        assert got["Platinum"].p95_tick < got["Standard"].p95_tick
        assert got["Platinum"].p99_tick < got["Standard"].p99_tick
