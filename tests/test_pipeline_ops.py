"""Pipeline-operator tests: k-means, mixture sampling, cache scopes and
the fact-table partition probe.

Small in-memory inputs with known structure; the sf-fixture parity is
covered by the oracle harness (tools/check_oracle.py), so these tests
pin operator *semantics*: convergence, stratum ratios, determinism and
cache lifetime.
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


class TestKmeans:
    def test_separated_blobs_converge_to_own_clusters(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        # Three tight, well-separated 4-dim blobs; seeds (the first 3
        # ids) land one in each blob, so two iterations must assign
        # every vector to its blob-mate seed's cluster.
        blobs = {0: [0.0, 0.0, 0.0, 0.0], 1: [10.0, 10.0, 0.0, 0.0], 2: [0.0, 0.0, 10.0, 10.0]}
        rows = []
        for i in range(30):
            blob = i % 3
            vec = [c + 0.01 * (i // 3) for c in blobs[blob]]
            rows.append((i, vec))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = kmeans_assignments(df, k=3, n_iter=2).collect()
        by_blob = {}
        for r in out:
            by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
        # each blob maps to exactly one cluster, and clusters differ
        assert all(len(c) == 1 for c in by_blob.values())
        assert len(set().union(*by_blob.values())) == 3

    def test_rejects_bad_params(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = spark.createDataFrame([(0, [0.0])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError):
            kmeans_assignments(df, k=0)
        with pytest.raises(ValueError):
            kmeans_assignments(df, n_iter=0)
        with pytest.raises(ValueError, match="assignment"):
            kmeans_assignments(df, assignment="bogus")

    def _blob_frame(self, spark, n_blobs=6, per_blob=30):
        import random

        rng = random.Random(3)
        rows = []
        for b in range(n_blobs):
            center = [20.0 * b + 10.0 * (d == b) for d in range(8)]
            for i in range(per_blob):
                rows.append(
                    (
                        b * per_blob + i,
                        [c + rng.uniform(-0.5, 0.5) for c in center],
                    )
                )
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_pruned_assignment_groups_eq_k_is_exact(self, spark):
        """groups >= k prunes nothing, so kmeans_assignments routes the
        degenerate case to the exact plan — bit-for-bit identical by
        construction (routing through rounded group means could
        otherwise flip near-tie assignments)."""
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = self._blob_frame(spark)
        exact = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in kmeans_assignments(df, k=6, n_iter=3).collect()
        }
        pruned = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in kmeans_assignments(
                df, k=6, n_iter=3, assignment="pruned", groups=6
            ).collect()
        }
        assert pruned == exact

    def test_pruned_assignment_high_agreement(self, spark):
        """Aggressive pruning (√k groups) keeps high agreement with the
        exact assignment on separated blobs — the IVF recall trade,
        bounded."""
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = self._blob_frame(spark)
        exact = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_assignments(df, k=6, n_iter=3).collect()
        }
        pruned = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_assignments(
                df, k=6, n_iter=3, assignment="pruned", groups=3
            ).collect()
        }
        assert len(pruned) == len(exact)  # every vector still assigned
        agreement = sum(exact[i] == pruned[i] for i in exact) / len(exact)
        assert agreement >= 0.8, agreement

    def test_multiprobe_probes_eq_groups_is_exact(self, spark):
        """probes=groups scores every group, hence every centroid —
        the multi-probe router must then be bit-identical to exact."""
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = self._blob_frame(spark)
        exact = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in kmeans_assignments(df, k=6, n_iter=2).collect()
        }
        probed = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in kmeans_assignments(
                df, k=6, n_iter=2, assignment="pruned", groups=3, probes=3
            ).collect()
        }
        assert probed == exact

    def test_multiprobe_improves_or_matches_single_probe(self, spark):
        """probes=2 must keep every vector assigned and agree with the
        exact assignment at least as often as probes=1 (the scored
        candidate set only grows)."""
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = self._blob_frame(spark)
        exact = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_assignments(df, k=6, n_iter=2).collect()
        }

        def agreement(probes):
            out = {
                r["vec_id"]: r["cluster"]
                for r in kmeans_assignments(
                    df, k=6, n_iter=2, assignment="pruned", groups=3,
                    probes=probes,
                ).collect()
            }
            assert len(out) == len(exact)
            return sum(exact[i] == out[i] for i in exact) / len(exact)

        assert agreement(2) >= agreement(1)

    def test_pruned_agreement_audit_query(self, spark, sf_dir):
        """The declared kmeans_pruned_agreement gate, enforced through
        the SAME SELF_AUDITS entry the oracle harness runs — the test
        and the gate cannot drift apart."""
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_kmeans_pruned_agreement,
        )
        from tools.check_oracle import SELF_AUDITS

        pdf = q_kmeans_pruned_agreement(spark, sf_dir).toPandas()
        assert len(pdf) == 1
        assert set(pdf.columns) == {
            "n_vecs",
            "agree_rate",
            "inertia_ratio",
            "min_excess_d2",
            "inertia_ratio_full",
        }
        assert SELF_AUDITS["kmeans_pruned_agreement"](pdf) == []
        row = pdf.iloc[0]
        # same seed centroids -> pruned scores a subset, ratio >= 1
        assert row["inertia_ratio"] >= 1.0
        assert 0.0 <= row["agree_rate"] <= 1.0


class TestMixtureSample:
    def test_limiting_stratum_full_and_ratios_hold(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
            mixture_sample,
        )

        # 300 web / 300 books / 60 code rows; weights 4:2:1 make code
        # the limiting stratum (60/1 < 300/2 < 300/4): scale=60, so
        # expected kept = 240 web / 120 books / 60 code (code in full).
        rows = (
            [(i, "web") for i in range(300)]
            + [(1000 + i, "books") for i in range(300)]
            + [(2000 + i, "code") for i in range(60)]
        )
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = mixture_sample(
            df, key="doc_id", strata_col="source",
            weights={"web": 4.0, "books": 2.0, "code": 1.0},
        )
        got = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
        assert got["code"] == 60           # limiting stratum kept whole
        # hash-coin sampling: expected 240/120, allow ~4 sigma
        assert abs(got["web"] - 240) < 40
        assert abs(got["books"] - 120) < 35
        # determinism: identical set on a different partitioning
        again = mixture_sample(
            df.repartition(13), key="doc_id", strata_col="source",
            weights={"web": 4.0, "books": 2.0, "code": 1.0},
        )
        assert {r.doc_id for r in again.collect()} == {
            r.doc_id for r in out.collect()
        }

    def test_unlisted_strata_dropped_and_bad_weights_rejected(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
            mixture_sample,
        )

        df = spark.createDataFrame(
            [(0, "a"), (1, "b")], "doc_id long, source string"
        )
        out = mixture_sample(
            df, key="doc_id", strata_col="source", weights={"a": 1.0}
        )
        assert [r.source for r in out.collect()] == ["a"]
        with pytest.raises(ValueError):
            mixture_sample(df, key="doc_id", strata_col="source", weights={})
        with pytest.raises(ValueError):
            mixture_sample(
                df, key="doc_id", strata_col="source", weights={"a": -1.0}
            )


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
