"""Round-8 batch-12 semantics: Wilson interval algebra, calendar
matrix domains, Gini bounds (fixture parity covered by the oracle
harness)."""

from __future__ import annotations

from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
    q_conversion_wilson_ci,
    q_customer_revenue_gini,
    q_events_dow_hour_matrix,
)


class TestConversionWilsonCi:
    def test_interval_brackets_rate(self, spark):
        rows = q_conversion_wilson_ci(spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == 10
        for r in rows:
            rate = r["conversions"] / r["n"]
            assert 0.0 <= r["wilson_lo"] <= rate <= r["wilson_hi"] <= 1.0
            # Wilson never collapses to a point for 0 < c < n
            if 0 < r["conversions"] < r["n"]:
                assert r["wilson_lo"] < r["wilson_hi"]


class TestDowHourMatrix:
    def test_domains_and_shares(self, spark):
        rows = q_events_dow_hour_matrix(spark, "/root/testdata/sf0.001").collect()
        assert all(1 <= r["dow"] <= 7 and 0 <= r["hour"] <= 23 for r in rows)
        total = sum(r["share_ppm"] for r in rows)
        assert 1_000_000 - len(rows) <= total <= 1_000_000
        import duckdb

        n = duckdb.sql(
            "select count(*) from '/root/testdata/sf0.001/events.parquet' "
            "where ts is not null"
        ).fetchone()[0]
        assert sum(r["n_events"] for r in rows) == n


class TestCustomerRevenueGini:
    def test_bounds_and_brute_force(self, spark):
        r = q_customer_revenue_gini(spark, "/root/testdata/sf0.001").first()
        assert 0 <= r["gini_ppm"] < 1_000_000
        import duckdb

        xs = [
            row[0]
            for row in duckdb.sql(
                "select cast(sum(cast(floor(o_totalprice*100) as bigint)) "
                "as bigint) x from "
                "'/root/testdata/sf0.001/orders.parquet' group by o_custkey "
                "order by x"
            ).fetchall()
        ]
        n, s = len(xs), sum(xs)
        num = 2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s
        assert r["gini_ppm"] == num * 1_000_000 // (n * s)
