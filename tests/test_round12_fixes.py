"""Round-12 fixes: the per-user 0700 vendored-protobuf staging dir
(ADVICE r11 medium — a predictable world-writable /tmp zip could be
pre-planted and would execute in the driver and every worker), the
scoped google.* sys.modules eviction (ADVICE r11), the certified MG
readout returned as a local relation so the candidate recount runs
once (ADVICE r11), the
_fact_partitions non-local-path fallback (ADVICE r11), and the
SCALE.md fingerprint-count prose now derivation-tested like
COVERAGE.md's (VERDICT r11 item 6)."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

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


class TestPrivateZipPath:
    def test_fresh_dir_is_user_only(self, tmp_path):
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.stateful import (
            _private_zip_path,
        )

        zpath = _private_zip_path(base_tmp=str(tmp_path))
        zdir = os.path.dirname(zpath)
        st = os.lstat(zdir)
        assert st.st_uid == os.getuid()
        assert (st.st_mode & 0o777) == 0o700
        # idempotent: second call reuses the same safe dir
        assert _private_zip_path(base_tmp=str(tmp_path)) == zpath

    def test_group_accessible_preexisting_dir_refused(self, tmp_path):
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.stateful import (
            _private_zip_path,
        )

        planted = tmp_path / f"peps-protobuf-{os.getuid()}"
        planted.mkdir(mode=0o777)
        os.chmod(planted, 0o777)  # defeat umask
        zpath = _private_zip_path(base_tmp=str(tmp_path))
        zdir = os.path.dirname(zpath)
        assert zdir != str(planted), "group/other-accessible dir must be refused"
        assert (os.lstat(zdir).st_mode & 0o777) == 0o700

    def test_symlinked_preexisting_dir_refused(self, tmp_path):
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.stateful import (
            _private_zip_path,
        )

        target = tmp_path / "elsewhere"
        target.mkdir(mode=0o700)
        link = tmp_path / f"peps-protobuf-{os.getuid()}"
        link.symlink_to(target)
        zpath = _private_zip_path(base_tmp=str(tmp_path))
        assert os.path.dirname(zpath) != str(link)

    def test_google_eviction_is_scoped(self):
        # ADVICE r11: ensure_protobuf must not evict unrelated google.*
        # namespace packages (e.g. google.cloud) — read the eviction
        # predicate straight from the source to pin the scope.
        import inspect

        from prioritizing_event_processing_with_apache_kafka_spark.streaming import (
            stateful,
        )

        src = inspect.getsource(stateful.ensure_protobuf)
        assert 'n.startswith("google.protobuf.")' in src
        assert 'n.startswith("google.")' not in src


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


class TestBenchReferenceMedian:
    def test_per_query_median_across_runs(self):
        import sys

        sys.path.insert(0, REPO)
        from tools.gen_bench_reference import build_reference

        runs = [
            {"sf": 0.1, "queries": {"a": 1.0, "b": 2.0}, "setup_floor_sec": 2.0},
            {"sf": 0.1, "queries": {"a": 1.2, "b": 5.0}, "setup_floor_sec": 2.2},
            {"sf": 0.1, "queries": {"a": 1.1, "b": 2.1}, "setup_floor_sec": 2.4},
        ]
        ref = build_reference("r12_solo", runs)
        # the lucky/unlucky single draws (b: 5.0) don't leak into the
        # reference — this is exactly the r11 false-flag mechanism
        assert ref["queries"] == {"a": 1.1, "b": 2.1}
        assert ref["setup_floor_sec"] == 2.2
        assert ref["n_runs"] == 3

    def test_sf_mismatch_refused(self):
        import sys

        sys.path.insert(0, REPO)
        from tools.gen_bench_reference import build_reference

        with pytest.raises(ValueError, match="disagree on sf"):
            build_reference(
                "r12",
                [
                    {"sf": 0.1, "queries": {"a": 1.0}},
                    {"sf": 0.01, "queries": {"a": 0.1}},
                ],
            )

    def test_committed_reference_is_multi_run(self):
        # VERDICT r11 item 1 done-criterion: the committed series must
        # come from a >=3-run median, not one solo draw.
        ref = json.load(
            open(os.path.join(REPO, "docs", "artifacts", "bench_reference.json"))
        )
        assert ref.get("n_runs", 1) >= 3, (
            "bench_reference.json must be a per-query median across "
            ">=3 solo runs (VERDICT r11 item 1)"
        )


class TestAdjudicatorRemeasureAndMarginals:
    def _bench(self):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "bench", os.path.join(REPO, "bench.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_remeasure_rescues_false_drift(self):
        # The r11 false alarm: one query's committed reference point is
        # a lucky draw, its in-run spread never recovers, BUT a fresh
        # solo re-measure does — the verdict must NOT be plan drift.
        b = self._bench()
        q = {f"s{i}": 1.0 for i in range(8)}
        q["a"] = 2.0
        now = {f"s{i}": 1.0 for i in range(8)}
        now["a"] = 5.0
        spreads = {f"s{i}": [0.95, 1.1] for i in range(8)}
        spreads["a"] = [4.8, 5.5]
        calls = []

        def remeasure(name):
            calls.append(name)
            return [2.1, 2.3, 2.2]  # fresh solo reps DO recover

        adj = b.adjudicate(
            now, spreads, {"round": "rX", "queries": q}, remeasure=remeasure
        )
        assert calls == ["a"]
        assert adj["verdict"] == "contention_suspected_plans_unchanged"
        assert adj["divergent"]["a"]["remeasured"] == [2.1, 2.2, 2.3]

    def test_remeasure_confirms_real_drift(self):
        b = self._bench()
        q = {f"s{i}": 1.0 for i in range(8)}
        q["a"] = 2.0
        now = {f"s{i}": 1.0 for i in range(8)}
        now["a"] = 5.0
        spreads = {f"s{i}": [0.95, 1.1] for i in range(8)}
        spreads["a"] = [4.8, 5.5]
        adj = b.adjudicate(
            now,
            spreads,
            {"round": "rX", "queries": q},
            remeasure=lambda n: [4.9, 5.1, 5.0],
        )
        assert adj["verdict"] == "plan_drift_suspected"

    def test_stream_twin_compared_on_marginal(self):
        # A twin whose raw median looks fine (floor dilution) but whose
        # MARGINAL doubled must be flagged: 2.0 floor + 0.5 data -> 2.5
        # ref; now 2.0 floor + 1.6 data -> 3.6 raw (1.44x raw, under
        # the old 1.5x gate) but 3.2x on the marginal.
        b = self._bench()
        q = {f"s{i}": 1.0 for i in range(8)}
        q["stream_t"] = 2.5
        now = {f"s{i}": 1.0 for i in range(8)}
        now["stream_t"] = 3.6
        spreads = {f"s{i}": [0.95, 1.1] for i in range(8)}
        spreads["stream_t"] = [3.5, 3.7]
        adj = b.adjudicate(
            now,
            spreads,
            {"round": "rX", "queries": q, "setup_floor_sec": 2.0},
            floors=(2.0, 2.0),
            stream_twins=frozenset({"stream_t"}),
        )
        assert "stream_t" in adj["divergent"]
        d = adj["divergent"]["stream_t"]
        assert d["marginal"] == 1.6 and d["ref_marginal"] == 0.5
        # and without floors the same numbers pass silently — the
        # masking this item exists to remove
        adj_raw = b.adjudicate(
            now, spreads, {"round": "rX", "queries": q}
        )
        assert "stream_t" not in adj_raw["divergent"]

    def test_setup_floor_twin_runs(self, spark):
        b = self._bench()
        df = b.setup_floor_query(spark)
        assert df.count() == 1  # one key, two merged one-row batches
        row = df.collect()[0]
        assert row["v_sum"] == 2


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
