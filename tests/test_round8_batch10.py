"""Round-8 batch-10 semantics: seasonal-naive backtest alignment and
churn flag algebra (fixture parity is covered by the oracle harness)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
    q_events_seasonal_backtest,
    q_user_churn_census,
)


class TestSeasonalBacktest:
    # sf0.01: hourly bins are dense enough for strict lag-24 alignment
    # (at sf0.001 nearly every 24-rows-back bin is NOT 24 hours back,
    # so the contract correctly scores nothing — also asserted below).
    def test_error_profile_shape(self, spark):
        out = q_events_seasonal_backtest(spark, "/root/testdata/sf0.01")
        rows = out.collect()
        assert rows, "dense fixture must produce scored hours"
        for r in rows:
            assert r["n_scored"] > 0
            assert r["mae_micros"] >= 0
            assert abs(r["bias_micros"]) <= r["mae_micros"]
            assert r["mape_ppm"] >= 0

    def test_scored_hours_bounded_by_bins(self, spark):
        out = q_events_seasonal_backtest(spark, "/root/testdata/sf0.01")
        import duckdb

        bins = duckdb.sql(
            "select count(*) from (select event_type, "
            "epoch_us(ts)//3600000000 b from "
            "'/root/testdata/sf0.01/events.parquet' "
            "where value is not null group by 1,2)"
        ).fetchone()[0]
        assert 0 < out.agg(F.sum("n_scored")).first()[0] < bins

    def test_sparse_series_scores_nothing(self, spark):
        # the gap==24 guard: at sf0.001 the hourly bins are sparse, so
        # the row 24 positions back is almost never 24 HOURS back — the
        # contract correctly refuses to score misaligned seasons.
        sparse = q_events_seasonal_backtest(spark, "/root/testdata/sf0.001")
        assert sparse.count() == 0


class TestUserChurnCensus:
    def test_flags_partition_users(self, spark):
        out = q_user_churn_census(spark, "/root/testdata/sf0.001")
        for r in out.collect():
            assert r["retained"] + r["churned"] + r["acquired"] == r["n_users"]
            if r["retained"] + r["churned"] > 0:
                assert r["churn_ppm"] == r["churned"] * 1_000_000 // (
                    r["retained"] + r["churned"]
                )


