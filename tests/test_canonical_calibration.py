"""Invariant tests for the dedup canonical-survivor selection (hash
parity vs DuckDB is covered by the oracle harness; these pin the
structural guarantees on the fixture)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
    q_dedup_keep_canonical,
)


class TestKeepCanonical:
    def test_one_canonical_per_group_and_it_is_longest(self, spark):
        out = q_dedup_keep_canonical(spark, SF_DIR).collect()
        docs = {
            # byte length — the operator's "longest" metric
            r.doc_id: len(r.text.encode("utf-8"))
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text")
            .collect()
        }
        groups: dict[int, list] = {}
        for r in out:
            groups.setdefault(r.group_key, []).append(r)
        assert sum(len(v) for v in groups.values()) == len(docs)
        for members in groups.values():
            canons = [r for r in members if r.is_canonical]
            assert len(canons) == 1
            canon = canons[0]
            best_len = max(docs[r.doc_id] for r in members)
            assert docs[canon.doc_id] == best_len
            # tie-break: smallest doc_id among the longest
            assert canon.doc_id == min(
                r.doc_id for r in members if docs[r.doc_id] == best_len
            )
            assert all(r.canonical_doc_id == canon.doc_id for r in members)
            assert all(r.n_members == len(members) for r in members)

    def test_multi_member_groups_exist_on_fixture(self, spark):
        # the fixture contains real near-dup clusters; a regression that
        # silently drops the component join would make every group a
        # singleton and this test would catch it
        out = q_dedup_keep_canonical(spark, SF_DIR)
        assert out.filter(F.col("n_members") > 1).count() > 0


