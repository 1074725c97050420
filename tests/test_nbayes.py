"""Leakage-safe train/val/test split (`q_leakage_safe_split`): every
near-duplicate pair lands in one split, and every document is assigned
exactly once."""

from __future__ import annotations


def test_leakage_safe_split_invariant(spark):
    """Structural guarantee: every near-dup pair lands in one split,
    and the doc-level assignment covers every document exactly once."""
    from tests.conftest import SF_DIR

    from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
        q_leakage_safe_split,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.operators import dedup as D
    from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
        load_table,
    )

    out = q_leakage_safe_split(spark, SF_DIR)
    rows = {r["doc_id"]: (r["group_key"], r["split"]) for r in out.collect()}
    docs = load_table(spark, SF_DIR, "documents")
    assert len(rows) == docs.count()  # total, no dupes
    pairs = D.ngram_jaccard_pairs(docs, k=4, threshold=0.5).collect()
    assert pairs, "fixture should contain near-dup pairs"
    for p in pairs:
        assert rows[p["x"]][1] == rows[p["y"]][1], (p["x"], p["y"])
        assert rows[p["x"]][0] == rows[p["y"]][0]
    assert {s for _, s in rows.values()} <= {"train", "val", "test"}
