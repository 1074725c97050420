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
import re

import pytest

from prioritizing_event_processing_with_apache_kafka_spark.plans.fingerprint import (
    plan_exchange_counts,
    streaming_core_queries,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
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
def test_no_new_exchanges(name, spark, sf_dir, queries, monkeypatch):
    expected = FINGERPRINTS[name]
    # Same forcing as tools/gen_plan_fingerprints.py: fixture-sized
    # inputs size the exact-sequence kernel to one range partition,
    # whose coalesce(1) path would hide every shuffle downstream of an
    # exact route. Pinning the count to shuffle.partitions keeps the
    # at-scale shape under the guard.
    from prioritizing_event_processing_with_apache_kafka_spark.operators import routing

    ranges = int(spark.conf.get("spark.sql.shuffle.partitions"))
    monkeypatch.setattr(routing, "_range_partitions", lambda df, **_: ranges)
    # Isolate the build: queries persist shared subtrees as a side
    # effect of being CONSTRUCTED, and the CacheManager substitutes a
    # live cache into every later plan that embeds the same subtree —
    # so without this, each fingerprint depends on which queries were
    # built before it (test order, -k selections, the gen tool's list
    # order...). Cleared, every count is the query's own plan in
    # isolation.
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
    zero-entries exist (the guard above does the real work).
    ``error_purchase_interval`` joins its two filtered scans by
    broadcast, so neither side is shuffled."""
    for name in (
        "bucket_extract",
        "error_purchase_interval",
    ):
        assert FINGERPRINTS[name]["shuffle_exchanges"] == 0


class TestFingerprintCountDerived:
    def test_coverage_fingerprint_count_matches_registry(self):
        # A hand-written count once said "131 pinned" while the
        # registry held 129. The count lives in docs/COVERAGE.md and is
        # pinned here to len(tests/plan_fingerprints.json) so it can
        # never drift from the registry again.
        n = len(json.load(open(os.path.join(REPO, "tests", "plan_fingerprints.json"))))
        text = open(os.path.join(REPO, "docs", "COVERAGE.md")).read()
        m = re.search(r"(\d+) pinned plan fingerprints", text)
        assert m, "COVERAGE.md fingerprint-count sentence not found"
        assert int(m.group(1)) == n, (
            f"COVERAGE.md says {m.group(1)} pinned fingerprints, "
            f"tests/plan_fingerprints.json holds {n}"
        )


class TestFingerprintProseCounts:
    def test_scale_md_fingerprint_counts_match_registry(self):
        # SCALE.md once said "all 130 plan fingerprints" while the
        # registry held 129. Every numeric "<N> plan fingerprints"
        # mention in SCALE.md prose is pinned to
        # len(tests/plan_fingerprints.json).
        n = len(
            json.load(open(os.path.join(REPO, "tests", "plan_fingerprints.json")))
        )
        text = open(os.path.join(REPO, "docs", "SCALE.md")).read()
        mentions = [int(m) for m in re.findall(r"(\d+) plan\s+fingerprints", text)]
        assert mentions, "SCALE.md fingerprint-count sentence not found"
        wrong = [m for m in mentions if m != n]
        assert not wrong, (
            f"SCALE.md mentions fingerprint counts {wrong}, registry holds {n}"
        )
