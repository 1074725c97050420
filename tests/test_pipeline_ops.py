"""Pipeline-operator tests: cache scopes and the fact-table partition
probe.

Small in-memory inputs with known structure; the sf-fixture parity is
covered by the oracle harness (tools/check_oracle.py), so these tests
pin operator *semantics*: cache lifetime and the partition fallback.
"""

from __future__ import annotations

import pytest

from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import route


@pytest.fixture(scope="module")
def records(spark):
    rows = [(i, "orders", f"B{1 + i % 3}-{i}") for i in range(30)]
    return spark.createDataFrame(rows, "record_id long, topic string, key string")


def _route_exact(records):
    """``route(mode="exact")`` persists its sorted midframe through
    ``scoped_persist`` and materializes it in its stats job."""
    cfg = BucketPriorityConfig(
        topic="orders", buckets=["B1", "B2", "B3"], allocation=["50%", "30%", "20%"]
    )
    return route(records, cfg, 10, topic_col="topic", order_col="record_id", mode="exact")


class TestCacheScope:
    def test_scope_releases_operator_caches(self, spark, records):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
            cache_scope,
        )

        spark.catalog.clearCache()
        # Snapshot first: localCheckpoint()-ed RDDs from earlier tests
        # (streaming result reads) sit in getPersistentRDDs but NOT in the
        # catalog cache, so clearCache can't drop them and GC timing
        # decides when they vanish. The scope's contract is that it
        # releases what IT registered — assert against the baseline,
        # not an absolute zero.
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        with cache_scope():
            routed = _route_exact(records)
            assert routed.count() == 30  # action runs with caches live
            during = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
            assert len(during - before) > 0
        # scope exit unpersists every frame the operator cached
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        assert not (after - before), f"scope leaked RDDs: {after - before}"

    def test_scope_releases_on_error(self, spark, records):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
            cache_scope,
        )

        spark.catalog.clearCache()
        # Baseline snapshot for the same reason as above: lingering
        # localCheckpoint RDDs from other tests are outside the
        # scope's contract.
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        with pytest.raises(RuntimeError, match="boom"):
            with cache_scope():
                _route_exact(records).count()
                raise RuntimeError("boom")
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        assert not (after - before), f"scope leaked RDDs: {after - before}"

    def test_no_scope_keeps_legacy_behavior(self, spark, records):
        spark.catalog.clearCache()
        _route_exact(records).count()
        # outside a scope the cache stays for the session (documented:
        # callers clearCache between queries)
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) > 0
        spark.catalog.clearCache()


class TestFactPartitionsFallback:
    def test_missing_local_path_warns_not_silent(self, spark):
        # A non-local (or just wrong) sf_dir used to return 0 bytes
        # silently, quietly reverting to defaultParallelism — the
        # thrash regime the byte-sized re-plan avoids. The probe names
        # the degradation.
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            _fact_partitions,
        )

        with pytest.warns(RuntimeWarning, match="byte probe failed"):
            n = _fact_partitions(spark, "/nonexistent/sfX", "lineitem")
        assert n == spark.sparkContext.defaultParallelism

    def test_local_path_unchanged(self, spark, sf_dir):
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            _fact_partitions,
        )

        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("error")  # no warning on the happy path
            n = _fact_partitions(spark, sf_dir, "lineitem")
        assert n >= spark.sparkContext.defaultParallelism
