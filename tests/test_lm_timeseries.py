"""Unit tests for the EWMA and rolling z-score operators (sf-fixture
parity is covered by the oracle harness; these pin the semantics on
hand-computable series)."""

from __future__ import annotations

import pytest

from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
    rolling_zscore,
    windowed_ewma,
)


class TestEwma:
    def test_known_series(self, spark):
        df = spark.createDataFrame(
            [(1, 1, 1.0), (2, 1, 2.0), (3, 1, 3.0)],
            "event_id long, user_id long, value double",
        )
        out = {
            r.event_id: r.ewma
            for r in windowed_ewma(
                df, partition_col="user_id", order_cols=("event_id",),
                value_col="value", window=10,
            ).collect()
        }
        assert out[1] == pytest.approx(1.0)
        assert out[2] == pytest.approx(round(2.5 / 1.5, 6), abs=1e-6)
        assert out[3] == pytest.approx(round(4.25 / 1.75, 6), abs=1e-6)

    def test_window_bounds_frame(self, spark):
        # window=2 → only the previous row contributes
        df = spark.createDataFrame(
            [(1, 1, 8.0), (2, 1, 0.0), (3, 1, 0.0)],
            "event_id long, user_id long, value double",
        )
        out = {
            r.event_id: r.ewma
            for r in windowed_ewma(
                df, partition_col="user_id", order_cols=("event_id",),
                value_col="value", window=2,
            ).collect()
        }
        # row 3's frame is [0, 0]: the value 8 two rows back is gone
        assert out[3] == 0.0

    def test_keys_are_independent(self, spark):
        df = spark.createDataFrame(
            [(1, 1, 100.0), (2, 2, 4.0)],
            "event_id long, user_id long, value double",
        )
        out = {
            r.event_id: r.ewma
            for r in windowed_ewma(
                df, partition_col="user_id", order_cols=("event_id",),
                value_col="value",
            ).collect()
        }
        assert out[2] == 4.0  # user 1's history never leaks into user 2


class TestRollingZscore:
    def _frame(self, spark, values):
        return spark.createDataFrame(
            [("B", i, v) for i, v in enumerate(values)],
            "bucket string, hour long, n_events long",
        )

    def test_spike_flagged_stable_not(self, spark):
        df = self._frame(spark, [4, 5, 6, 5, 20])
        out = {
            r.hour: r
            for r in rolling_zscore(
                df, partition_col="bucket", order_col="hour",
                value_col="n_events", window=3,
            ).collect()
        }
        # rows 0-2: fewer than `window` predecessors → unscored
        assert out[0].zscore is None and not out[0].anomalous
        assert out[2].zscore is None
        # row 3: baseline [4,5,6], mean 5, value 5 → z = 0
        assert out[3].zscore == 0.0 and not out[3].anomalous
        # row 4: baseline [5,6,5] → spike of 20 is way out
        assert out[4].zscore == pytest.approx(31.112698, abs=1e-5)
        assert out[4].anomalous

    def test_constant_baseline_unscored(self, spark):
        df = self._frame(spark, [5, 5, 5, 9])
        out = {
            r.hour: r
            for r in rolling_zscore(
                df, partition_col="bucket", order_col="hour",
                value_col="n_events", window=3,
            ).collect()
        }
        # zero-variance baseline has no scale — NULL, not ±inf
        assert out[3].zscore is None and not out[3].anomalous


