"""Round-12 fixes: the certified MG readout returned as a local
relation so the candidate recount runs once (ADVICE r11), the
_fact_partitions non-local-path fallback (ADVICE r11), and the
SCALE.md fingerprint-count prose now derivation-tested like
COVERAGE.md's (VERDICT r11 item 6)."""

from __future__ import annotations

import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestFingerprintProseCounts:
    def test_scale_md_fingerprint_counts_match_registry(self):
        # VERDICT r11 "what's wrong" #3: SCALE.md said "all 130 plan
        # fingerprints" while the registry held 129. Every numeric
        # "<N> plan fingerprints" mention in SCALE.md prose is now
        # pinned to len(tests/plan_fingerprints.json).
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


class TestMgCertifiedReadoutRunsOnce:
    def test_certified_head_is_local_relation(self, spark, tmp_path):
        # ADVICE r11: when err_bound > 0 and the certificate passes,
        # the collected head must be handed back as a local relation —
        # NOT the uncollected `top` plan, whose materialization would
        # re-run the candidate recount job a second time.
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.mgstate import (
            mg_apply_batch,
            mg_exact_topk,
            mg_state_meta,
        )

        rows = []
        for k in range(100, 112):  # 12 noise keys, 5 each
            rows += [(k,)] * 5
        rows += [(7,)] * 300  # heavy hitters far above any decrement total
        rows += [(8,)] * 250
        src = spark.createDataFrame(rows, "user_id bigint")
        state = str(tmp_path / "state")
        mg_apply_batch(
            src, state_path=state, key_col="user_id", capacity=2, batch_id=0
        )
        err = mg_state_meta(spark, state).collect()[0]["err_bound"]
        assert err > 0, "fixture must exercise the decrement path"
        got = mg_exact_topk(spark, state, src, key_col="user_id", k=2)
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan or "LogicalRDD" in plan, (
            "certified readout must be pre-collected driver-local data, "
            f"got plan:\n{plan}"
        )
        for op in ("Join", "Aggregate", "Relation"):
            assert op not in plan, (
                f"certified readout re-plans the recount ({op}):\n{plan}"
            )
        assert [(r["user_id"], r["n_events"]) for r in got.collect()] == [
            (7, 300),
            (8, 250),
        ]


class TestFactPartitionsFallback:
    def test_missing_local_path_warns_not_silent(self, spark):
        # ADVICE r11: a non-local (or just wrong) sf_dir used to return
        # 0 bytes silently, quietly reverting to defaultParallelism —
        # the exact thrash regime the r11 re-plan fixed. The probe now
        # names the degradation.
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
