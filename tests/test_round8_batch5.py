"""Round-8 batch-5 operator semantics: decile drift (fixture parity is covered by the oracle harness; these pin
hand-computable cases and the properties the oracles can't express —
per-group fence isolation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
    decile_drift,
)


class TestDecileDrift:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "g string, ts string, value double"
        ).select("g", F.col("ts").cast("timestamp").alias("ts"), "value")

    def test_identical_halves_have_zero_gap(self, spark):
        rows = []
        for h, half in ((0, "early"), (12, "late")):
            for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0]):
                rows.append(("g", f"2024-01-01 {h + i % 12:02d}:00:00", v))
        out = decile_drift(
            self._df(spark, rows), group_col="g", ts_col="ts", value_col="value"
        )
        assert out.filter("gap_ppm != 0").count() == 0

    def test_shifted_late_half_flags_gap(self, spark):
        rows = [("g", f"2024-01-01 0{i}:00:00", float(i + 1)) for i in range(5)]
        rows += [
            ("g", f"2024-01-01 2{i}:00:00", float(i + 100)) for i in range(4)
        ]
        out = decile_drift(
            self._df(spark, rows), group_col="g", ts_col="ts", value_col="value"
        ).collect()
        # every late value lands above the early p90 fence: the top bin
        # holds all the late mass.
        top = [r for r in out if r["bin"] == 9][0]
        assert top["late_ppm"] == 1_000_000
        assert sum(r["late_n"] for r in out) == 4

    def test_bins_span_zero_to_nine(self, spark):
        rows = [
            ("g", f"2024-01-01 {i:02d}:30:00", float(i)) for i in range(20)
        ]
        out = decile_drift(
            self._df(spark, rows), group_col="g", ts_col="ts", value_col="value"
        )
        bins = [r["bin"] for r in out.collect()]
        # bin 0 holds values strictly below the p10 disc fence — the
        # minimum early value IS that fence, so the occupied range here
        # is 1..9 (9 fences -> 10 possible bins, top bin reachable).
        assert max(bins) == 9 and len(set(bins)) >= 8

    def test_groups_use_their_own_fences(self, spark):
        # Group h's values are 100x group g's; if fences leaked across
        # groups every h row would pile into bin 9 / g into bin 0.
        rows = [
            (g, f"2024-01-01 {i:02d}:30:00", float(i) * mult)
            for g, mult in (("g", 1.0), ("h", 100.0))
            for i in range(1, 11)
        ]
        out = decile_drift(
            self._df(spark, rows), group_col="g", ts_col="ts", value_col="value"
        )
        per_group_bins = (
            out.groupBy("g").agg(F.countDistinct("bin").alias("nb")).collect()
        )
        assert all(r["nb"] > 1 for r in per_group_bins)
