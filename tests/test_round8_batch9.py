"""Round-8 batch-9 order-status reconciliation semantics (fixture parity
is covered by the oracle harness; these pin hand-computable cases)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
    q_order_status_reconciliation,
)


class TestOrderStatusReconciliation:
    def test_census_covers_all_orders(self, spark):
        out = q_order_status_reconciliation(spark, "/root/testdata/sf0.001")
        import duckdb

        n_orders = duckdb.sql(
            "select count(*) from '/root/testdata/sf0.001/orders.parquet'"
        ).fetchone()[0]
        assert out.agg(F.sum("n_orders")).first()[0] == n_orders

    def test_derived_domain(self, spark):
        out = q_order_status_reconciliation(spark, "/root/testdata/sf0.001")
        vals = {r["derived"] for r in out.select("derived").distinct().collect()}
        assert vals <= {"F", "O", "P", "-"}
