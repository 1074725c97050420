"""Plan-shape regression guard: headline queries must not grow
shuffles.

The bench at sf0.1 cannot see a new exchange (scheduler latency
dominates), but at 100 TB one extra shuffle re-partitions the whole
table — so the committed exchange counts in plan_fingerprints.json are
the scale contract. A query whose shuffle count GROWS fails here;
improvements (fewer exchanges) pass and should be committed via
``python tools/gen_plan_fingerprints.py``.
"""

from __future__ import annotations

import json
import os

import pytest

from prioritizing_event_processing_with_apache_kafka_spark.plans.fingerprint import (
    plan_exchange_counts,
    streaming_core_queries,
)

FINGERPRINTS = json.load(
    open(os.path.join(os.path.dirname(__file__), "plan_fingerprints.json"))
)


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entrymod

    merged = dict(entrymod.queries())
    # __core entries pin the per-batch plan of the streaming headline
    # queries (their queries() callable returns a store READ, which is
    # fingerprinted separately under the plain name).
    merged.update(streaming_core_queries())
    return merged


@pytest.mark.parametrize("name", sorted(FINGERPRINTS))
def test_no_new_exchanges(name, spark, sf_dir, queries):
    expected = FINGERPRINTS[name]
    # Isolate the build: queries persist shared subtrees as a side
    # effect of being CONSTRUCTED, and the CacheManager substitutes a
    # live cache into every later plan that embeds the same subtree —
    # so without this, each fingerprint depends on which queries were
    # built before it (test order, -k selections, the gen tool's list
    # order...). Cleared, every count is the query's own plan in
    # isolation — the same regime bench.py measures in.
    spark.catalog.clearCache()
    actual = plan_exchange_counts(queries[name](spark, sf_dir))
    assert actual["shuffle_exchanges"] <= expected["shuffle_exchanges"], (
        f"{name}: shuffle exchanges grew "
        f"{expected['shuffle_exchanges']} -> {actual['shuffle_exchanges']} — "
        "a new shuffle at 100 TB re-partitions the whole table; either "
        "remove it or deliberately update tests/plan_fingerprints.json "
        "(tools/gen_plan_fingerprints.py) in the same commit"
    )
    # A broadcast->shuffle join flip surfaces as a shuffle increase
    # (caught above); a NEW broadcast on top of the same shuffles is
    # also suspicious — flag growth, allow shrinkage.
    assert actual["broadcast_exchanges"] <= expected["broadcast_exchanges"], (
        f"{name}: broadcast exchanges grew "
        f"{expected['broadcast_exchanges']} -> {actual['broadcast_exchanges']}"
    )


def test_guard_trips_on_injected_repartition(spark, sf_dir, queries):
    """Prove the guard detects regressions: an injected repartition on
    a guarded query must raise its shuffle count above the committed
    fingerprint."""
    df = queries["q1_pricing_summary"](spark, sf_dir).repartition(8)
    actual = plan_exchange_counts(df)
    assert (
        actual["shuffle_exchanges"]
        > FINGERPRINTS["q1_pricing_summary"]["shuffle_exchanges"]
    )


def test_fingerprints_cover_zero_shuffle_pipelines(queries):
    """The map-only pipelines must stay map-only: their committed
    fingerprint is zero shuffles, so any future groupBy/join sneaking
    in fails test_no_new_exchanges. This meta-test just pins that the
    zero-entries exist (the guard above does the real work)."""
    for name in (
        "bucket_extract",
        "doc_fingerprint",
    ):
        assert FINGERPRINTS[name]["shuffle_exchanges"] == 0
