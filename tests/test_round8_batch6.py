"""Round-8 batch-6 operator semantics: sliding-window distinct counts
(exact + HLL twin), two-proportion A/B audit (fixture parity is covered
by the oracle harness; these pin hand-computable cases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
    two_proportion_audit,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
    hll_sliding_distinct,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
    sliding_distinct_counts,
)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))


class TestSlidingDistinctCounts:
    def test_hand_case(self, spark):
        # Users: u1 at hour 0 and hour 2, u2 at hour 1. Window = 3 bins.
        # win 0: {u1}=1; win 1: {u1,u2}=2; win 2: {u1,u2}=2 — and u1's
        # double presence inside win 2 must not double-count.
        rows = [
            (1, "2024-01-01 00:15:00"),
            (1, "2024-01-01 02:15:00"),
            (2, "2024-01-01 01:15:00"),
        ]
        out = {
            r["window_end"].hour: r["active_keys"]
            for r in sliding_distinct_counts(
                _events(spark, rows),
                key_col="user_id",
                ts_col="ts",
                window_bins=3,
            ).collect()
        }
        assert out == {0: 1, 1: 2, 2: 2}

    def test_windows_clipped_to_observed_support(self, spark):
        rows = [(1, "2024-01-01 00:15:00")]
        out = sliding_distinct_counts(
            _events(spark, rows), key_col="user_id", ts_col="ts", window_bins=24
        ).collect()
        # a single active hour contributes to only ONE in-support window
        assert len(out) == 1 and out[0]["active_keys"] == 1

    def test_user_leaving_window(self, spark):
        # u1 only at hour 0; with window 2, hour 2's window [1,2] no
        # longer sees them.
        rows = [(1, "2024-01-01 00:15:00"), (2, "2024-01-01 02:15:00")]
        out = {
            r["window_end"].hour: r["active_keys"]
            for r in sliding_distinct_counts(
                _events(spark, rows),
                key_col="user_id",
                ts_col="ts",
                window_bins=2,
            ).collect()
        }
        assert out == {0: 1, 1: 1, 2: 1}

    def test_validation(self, spark):
        df = _events(spark, [(1, "2024-01-01 00:00:00")])
        with pytest.raises(ValueError, match="window_bins"):
            sliding_distinct_counts(
                df, key_col="user_id", ts_col="ts", window_bins=0
            )


class TestHllSlidingDistinct:
    def test_matches_exact_on_small_sets(self, spark):
        # HLL is exact (sparse mode) at tiny cardinalities — the twin
        # frames must agree bin-for-bin.
        rows = [
            (u, f"2024-01-01 {h:02d}:30:00")
            for u in range(1, 30)
            for h in range(0, 6, 2)
            if (u + h) % 3
        ]
        df = _events(spark, rows)
        est = hll_sliding_distinct(
            df, key_col="user_id", ts_col="ts", window_bins=3
        )
        exact = sliding_distinct_counts(
            df, key_col="user_id", ts_col="ts", window_bins=3
        )
        joined = est.join(exact, "window_end")
        assert joined.filter("est_keys != active_keys").count() == 0
        assert joined.count() == exact.count()

    def test_validation(self, spark):
        df = _events(spark, [(1, "2024-01-01 00:00:00")])
        with pytest.raises(ValueError, match="bin_minutes"):
            hll_sliding_distinct(
                df, key_col="user_id", ts_col="ts", bin_minutes=0
            )


class TestTwoProportionAudit:
    def _armed(self, spark, rows):
        return spark.createDataFrame(rows, "arm int, converted boolean")

    def test_hand_case(self, spark):
        # arm 0: 4 trials 1 success; arm 1: 4 trials 3 successes.
        rows = [(0, i < 1) for i in range(4)] + [(1, i < 3) for i in range(4)]
        r = two_proportion_audit(
            self._armed(spark, rows), arm_col="arm", success_col="converted"
        ).first()
        assert (r["arm_a"], r["arm_b"]) == (0, 1)
        assert (r["n_a"], r["n_b"], r["conv_a"], r["conv_b"]) == (4, 4, 1, 3)
        assert r["rate_a_ppm"] == 250_000 and r["rate_b_ppm"] == 750_000
        # p_pool = 0.5: z = (0.25-0.75)/sqrt(0.25*0.5) = -1.414214
        assert r["z_score"] == pytest.approx(-1.414214)
        assert r["significant"] is False

    def test_significant_lift(self, spark):
        rows = [(0, i < 10) for i in range(100)] + [
            (1, i < 30) for i in range(100)
        ]
        r = two_proportion_audit(
            self._armed(spark, rows), arm_col="arm", success_col="converted"
        ).first()
        assert r["significant"] is True
        assert r["z_score"] < -1.96

    def test_single_arm_yields_null_verdict(self, spark):
        rows = [(0, True), (0, False)]
        r = two_proportion_audit(
            self._armed(spark, rows), arm_col="arm", success_col="converted"
        ).first()
        assert r["arm_a"] is None and r["z_score"] is None
