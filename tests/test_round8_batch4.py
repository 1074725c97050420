"""Round-8 batch-4 operator semantics: binned autocorrelation, Benford
first-digit audit and winsorization (fixture parity is covered by the oracle harness; these pin
hand-computable cases and the properties the oracles can't express)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
    BENFORD_PPM,
    benford_audit,
    winsorized_stats,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
    binned_acf,
)


def _hourly_events(spark, series):
    """One event per hour bin with the given values, one series 's'."""
    rows = [
        ("s", f"2024-01-01 {h:02d}:30:00", float(v)) for h, v in enumerate(series)
    ]
    return spark.createDataFrame(rows, "k string, ts string, value double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "value"
    )


class TestBinnedAcf:
    def test_linear_ramp_lag1(self, spark):
        # v = [1,2,3,4], mu=2.5: num1 = 1.25, den = 5 -> 0.25 exactly.
        df = _hourly_events(spark, [1, 2, 3, 4])
        row = binned_acf(
            df, series_col="k", ts_col="ts", value_col="value", lags=(1,)
        ).first()
        assert row["n_bins"] == 4
        assert row["acf1_ppm"] == 250_000

    def test_alternating_series_is_minus_one(self, spark):
        # v = [1,-1,1,-1,...]: every lag-1 product is -den/n pairs ->
        # acf1 = -(n-1)/n exactly on the lattice (finite-sample ACF of
        # a pure alternation); for n=8: -875000.
        df = _hourly_events(spark, [1, -1] * 4)
        row = binned_acf(
            df, series_col="k", ts_col="ts", value_col="value", lags=(1,)
        ).first()
        assert row["acf1_ppm"] == -875_000

    def test_constant_series_null(self, spark):
        df = _hourly_events(spark, [5, 5, 5, 5])
        row = binned_acf(
            df, series_col="k", ts_col="ts", value_col="value", lags=(1,)
        ).first()
        assert row["acf1_ppm"] is None

    def test_bin_mean_is_integer_div(self, spark):
        # Two points in the same hour (0.5, 0.6) -> bin mean micros
        # (500000+600000) DIV 2 = 550000; plus two more hours make the
        # signal [0.55, 1, 0.1] -> just assert it computes and n_bins=3.
        rows = [
            ("s", "2024-01-01 00:10:00", 0.5),
            ("s", "2024-01-01 00:50:00", 0.6),
            ("s", "2024-01-01 01:30:00", 1.0),
            ("s", "2024-01-01 02:30:00", 0.1),
        ]
        df = spark.createDataFrame(
            rows, "k string, ts string, value double"
        ).select("k", F.col("ts").cast("timestamp").alias("ts"), "value")
        row = binned_acf(
            df, series_col="k", ts_col="ts", value_col="value", lags=(1,)
        ).first()
        assert row["n_bins"] == 3

    def test_null_values_excluded(self, spark):
        rows = [
            ("s", "2024-01-01 00:30:00", 1.0),
            ("s", "2024-01-01 01:30:00", None),
            ("s", "2024-01-01 02:30:00", 2.0),
            ("s", "2024-01-01 03:30:00", 3.0),
        ]
        df = spark.createDataFrame(
            rows, "k string, ts string, value double"
        ).select("k", F.col("ts").cast("timestamp").alias("ts"), "value")
        row = binned_acf(
            df, series_col="k", ts_col="ts", value_col="value", lags=(1,)
        ).first()
        # NULL hour contributes no bin: signal is [1,2,3] over 3 bins.
        # Deviations [-1,0,1]: both lag-1 products hit the zero middle,
        # so acf1 is exactly 0 (and NOT NULL — den=2 is positive).
        assert row["n_bins"] == 3
        assert row["acf1_ppm"] == 0

    def test_validation(self, spark):
        df = _hourly_events(spark, [1, 2])
        with pytest.raises(ValueError, match="bin_minutes"):
            binned_acf(
                df, series_col="k", ts_col="ts", value_col="value", bin_minutes=0
            )
        with pytest.raises(ValueError, match="lags"):
            binned_acf(
                df, series_col="k", ts_col="ts", value_col="value", lags=()
            )


class TestBenfordAudit:
    def test_hand_counts(self, spark):
        # digits: 1.5 -> 1, 19 -> 1, 2 -> 2, 200 -> 2; 0.3 and -5 excluded.
        df = spark.createDataFrame(
            [(1.5,), (19.0,), (2.0,), (200.0,), (0.3,), (-5.0,)], "v double"
        )
        out = {
            r["digit"]: r
            for r in benford_audit(df, value_col="v").collect()
        }
        assert set(out) == {1, 2}
        assert out[1]["n"] == 2 and out[2]["n"] == 2
        assert out[1]["obs_ppm"] == 500_000
        assert out[1]["benford_ppm"] == BENFORD_PPM[1] == 301030
        assert out[1]["dev_ppm"] == 500_000 - 301030
        assert out[2]["dev_ppm"] == 500_000 - 176091

    def test_uniform_nine_digits(self, spark):
        df = spark.createDataFrame([(float(d),) for d in range(1, 10)], "v double")
        rows = benford_audit(df, value_col="v").collect()
        assert len(rows) == 9
        for r in rows:
            assert r["obs_ppm"] == 111_111
            assert r["benford_ppm"] == BENFORD_PPM[r["digit"]]

    def test_benford_constants_sum_to_one(self):
        assert sum(BENFORD_PPM.values()) == 1_000_000


class TestWinsorizedStats:
    def test_hand_case(self, spark):
        # values 1..9 and 100: disc_p25 = 3, disc_p75 = 8 (first value
        # with CDF >= p). Clipped: {1,2} low, {9,100} high.
        vals = [float(v) for v in list(range(1, 10)) + [100]]
        df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
        row = winsorized_stats(
            df, group_col="g", value_col="v", lo_p=25, hi_p=75
        ).first()
        assert row["n"] == 10
        assert row["lo_cut_micros"] == 3_000_000
        assert row["hi_cut_micros"] == 8_000_000
        assert row["n_clipped_low"] == 2
        assert row["n_clipped_high"] == 2
        assert row["mean_micros"] == 145 * 1_000_000 // 10
        assert row["wins_mean_micros"] == 55 * 1_000_000 // 10

    def test_no_clipping_when_fences_are_extremes(self, spark):
        df = spark.createDataFrame(
            [("g", float(v)) for v in range(1, 11)], "g string, v double"
        )
        row = winsorized_stats(
            df, group_col="g", value_col="v", lo_p=1, hi_p=99
        ).first()
        # n=10: p1 fence = first value (cum*100 >= 10), p99 = max.
        assert row["n_clipped_low"] == 0 and row["n_clipped_high"] == 0
        assert row["mean_micros"] == row["wins_mean_micros"]

    def test_validation(self, spark):
        df = spark.createDataFrame([("g", 1.0)], "g string, v double")
        with pytest.raises(ValueError, match="lo_p"):
            winsorized_stats(df, group_col="g", value_col="v", lo_p=50, hi_p=50)


