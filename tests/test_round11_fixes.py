"""Round-11 fixes: the MG exactness certificate (ADVICE r10 — a true
top-k key dropped by decrements must never go silently missing; the
readout now certifies against the decrement bound and falls back to a
full exact recount) and the registry-derived pinned-fingerprint count
(VERDICT r10 "what's wrong" #2)."""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestFingerprintCountDerived:
    def test_coverage_fingerprint_count_matches_registry(self):
        # The round-10 commit message hand-wrote "131 pinned" while the
        # registry held 129. The count now lives in docs/COVERAGE.md and
        # is pinned here to len(tests/plan_fingerprints.json) so it can
        # never drift from the registry again.
        n = len(json.load(open(os.path.join(REPO, "tests", "plan_fingerprints.json"))))
        text = open(os.path.join(REPO, "docs", "COVERAGE.md")).read()
        m = re.search(r"(\d+) pinned plan fingerprints", text)
        assert m, "COVERAGE.md fingerprint-count sentence not found"
        assert int(m.group(1)) == n, (
            f"COVERAGE.md says {m.group(1)} pinned fingerprints, "
            f"tests/plan_fingerprints.json holds {n}"
        )


class TestMgExactTopkCertificate:
    def test_fallback_recovers_decremented_heavy_hitter(self, spark, tmp_path):
        # capacity=2 over 12 distinct keys: the summary decrements
        # aggressively (err_bound > 0) and the candidates-only recount
        # is NOT certifiably complete — the readout must fall back to
        # the full exact recount and still return the true top-k.
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.mgstate import (
            mg_apply_batch,
            mg_exact_topk,
            mg_state_meta,
        )

        rows = []
        # near-uniform noise: keys 100..110, 5 each
        for k in range(100, 111):
            rows += [(k,)] * 5
        # the true heavy hitter, only modestly above the noise floor
        rows += [(7,)] * 8
        src = spark.createDataFrame(rows, "user_id bigint")
        state = str(tmp_path / "state")
        mg_apply_batch(
            src, state_path=state, key_col="user_id", capacity=2, batch_id=0
        )
        err = mg_state_meta(spark, state).collect()[0]["err_bound"]
        assert err > 0, "fixture must exercise the decrement path"
        got = mg_exact_topk(
            spark, state, src, key_col="user_id", k=3
        ).collect()
        expect = (
            src.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .orderBy(F.desc("n_events"), F.asc("user_id"))
            .limit(3)
            .collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in expect]

    def test_certified_path_skips_full_recount(self, spark, tmp_path):
        # capacity >= distinct keys: zero decrements, err_bound 0, the
        # candidates-only recount is certified and must equal the exact
        # answer without any fallback.
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.mgstate import (
            mg_apply_batch,
            mg_exact_topk,
            mg_state_meta,
        )

        rows = [(k,) for k in (1, 1, 1, 2, 2, 3)]
        src = spark.createDataFrame(rows, "user_id bigint")
        state = str(tmp_path / "state")
        mg_apply_batch(
            src, state_path=state, key_col="user_id", capacity=64, batch_id=0
        )
        assert mg_state_meta(spark, state).collect()[0]["err_bound"] == 0
        got = mg_exact_topk(spark, state, src, key_col="user_id", k=2).collect()
        assert [(r["user_id"], r["n_events"]) for r in got] == [(1, 3), (2, 2)]
