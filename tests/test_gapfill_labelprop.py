"""Unit tests for gap-fill interpolation (fixture parity is covered by
the oracle harness; these pin the semantics on hand-computable inputs)."""

from __future__ import annotations

from datetime import datetime

from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
    gap_fill_interpolate,
)


def _h(hour: int) -> datetime:
    return datetime(2024, 1, 1, hour)


class TestGapFill:
    SCHEMA = "event_type string, hour timestamp, n_events long, value_cents long"

    def test_linear_interpolation_across_gap(self, spark):
        hourly = spark.createDataFrame(
            [("a", _h(0), 2, 100), ("a", _h(3), 1, 400)], self.SCHEMA
        )
        out = {
            r.hour.hour: (r.n_events, r.filled, r.is_gap)
            for r in gap_fill_interpolate(hourly).collect()
        }
        assert out == {
            0: (2, 100.0, False),
            1: (0, 200.0, True),
            2: (0, 300.0, True),
            3: (1, 400.0, False),
        }

    def test_no_extrapolation_beyond_observed_span(self, spark):
        # Spine is bounded per KEY: key b observed only at hours 1-2
        # must not inherit key a's 0-4 span.
        hourly = spark.createDataFrame(
            [
                ("a", _h(0), 1, 10), ("a", _h(4), 1, 50),
                ("b", _h(1), 1, 70), ("b", _h(2), 1, 90),
            ],
            self.SCHEMA,
        )
        out = gap_fill_interpolate(hourly).collect()
        spans = {}
        for r in out:
            lo, hi = spans.get(r.event_type, (99, -1))
            spans[r.event_type] = (min(lo, r.hour.hour), max(hi, r.hour.hour))
        assert spans == {"a": (0, 4), "b": (1, 2)}
        assert sum(1 for r in out if r.event_type == "a" and r.is_gap) == 3
        assert not any(r.is_gap for r in out if r.event_type == "b")

    def test_uneven_gap_fractions(self, spark):
        # prev=0 at h0, next=300 at h4: gaps at 1/2/3 -> 75/150/225.
        hourly = spark.createDataFrame(
            [("a", _h(0), 1, 0), ("a", _h(4), 1, 300)], self.SCHEMA
        )
        filled = {
            r.hour.hour: r.filled for r in gap_fill_interpolate(hourly).collect()
        }
        assert filled == {0: 0.0, 1: 75.0, 2: 150.0, 3: 225.0, 4: 300.0}

    def test_single_observation_key_has_no_gaps(self, spark):
        hourly = spark.createDataFrame([("a", _h(5), 3, 42)], self.SCHEMA)
        out = gap_fill_interpolate(hourly).collect()
        assert len(out) == 1
        assert (out[0].n_events, out[0].filled, out[0].is_gap) == (3, 42.0, False)


EDGES = "x long, y long"
SEEDS = "node long, label string"
