"""Round-8 batch-3 operator semantics: k-anonymity and M4 downsampling (fixture parity is covered by the oracle harness;
these pin hand-computable cases and the properties the oracles can't
express)."""

from __future__ import annotations

import pytest

from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
    k_anonymity_audit,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
    m4_downsample,
)


class TestKAnonymityAudit:
    def test_hand_computed(self, spark):
        # classes: (a,1)x3, (a,2)x1, (b,1)x2 → k=3: at-risk classes
        # {(a,2):1, (b,1):2} → rows_at_risk=3 of 6
        df = spark.createDataFrame(
            [("a", 1)] * 3 + [("a", 2)] + [("b", 1)] * 2, "q1 string, q2 int"
        )
        row = k_anonymity_audit(df, qi_cols=["q1", "q2"], k=3).first()
        assert row["n_rows"] == 6
        assert row["n_classes"] == 3
        assert row["min_class_size"] == 1
        assert row["max_class_size"] == 3
        assert row["classes_at_risk"] == 2
        assert row["rows_at_risk"] == 3
        assert row["at_risk_ppm"] == 500000

    def test_null_is_a_qi_value(self, spark):
        df = spark.createDataFrame(
            [("a", None), ("a", None), ("a", 1)], "q1 string, q2 int"
        )
        row = k_anonymity_audit(df, qi_cols=["q1", "q2"], k=2).first()
        assert row["n_classes"] == 2
        assert row["rows_at_risk"] == 1  # only the ("a",1) singleton

    def test_validation(self, spark):
        df = spark.createDataFrame([("a",)], "q1 string")
        with pytest.raises(ValueError, match="k must be"):
            k_anonymity_audit(df, qi_cols=["q1"], k=1)
        with pytest.raises(ValueError, match="qi_cols"):
            k_anonymity_audit(df, qi_cols=[], k=5)


class TestM4Downsample:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "s string, ts timestamp, v double"
        )

    def test_anchors_and_ties(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

        def at(sec):
            return t0 + dt.timedelta(seconds=sec)

        # one bin; min value 1.0 attained at sec 10 and 40 → min_ts is
        # the EARLIEST; max 9.0 at 20 and 50 → max_ts the LATEST.
        rows = [
            ("s", at(10), 1.0), ("s", at(20), 9.0), ("s", at(30), 5.0),
            ("s", at(40), 1.0), ("s", at(50), 9.0),
        ]
        row = m4_downsample(
            self._df(spark, rows), series_col="s", ts_col="ts",
            value_col="v", bin_minutes=60,
        ).first()
        assert row["n_rows"] == 5
        assert row["first_ts"] == at(10) and row["first_value"] == 1.0
        assert row["last_ts"] == at(50) and row["last_value"] == 9.0
        assert row["min_value"] == 1.0 and row["min_ts"] == at(10)
        assert row["max_value"] == 9.0 and row["max_ts"] == at(50)
        assert row["bin_start"] == t0

    def test_null_values_excluded(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [("s", t0, None), ("s", t0 + dt.timedelta(seconds=1), 2.0)]
        row = m4_downsample(
            self._df(spark, rows), series_col="s", ts_col="ts",
            value_col="v", bin_minutes=60,
        ).first()
        assert row["n_rows"] == 1 and row["min_value"] == 2.0

    def test_bins_split_series(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("s", t0 + dt.timedelta(minutes=m), float(m)) for m in (0, 30, 61)
        ]
        out = m4_downsample(
            self._df(spark, rows), series_col="s", ts_col="ts",
            value_col="v", bin_minutes=60,
        )
        assert out.count() == 2

    def test_validation(self, spark):
        df = self._df(spark, [])
        with pytest.raises(ValueError, match="bin_minutes"):
            m4_downsample(
                df, series_col="s", ts_col="ts", value_col="v", bin_minutes=0
            )
