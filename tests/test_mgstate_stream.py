"""Streaming mergeable Misra-Gries state (streaming/mgstate.py): merge
algebra, crash-replay idempotence, split invariance of the final
answer, the truncation/decrement path at tiny capacity, the MG
completeness/weight invariants and the certified exact top-k readout.
The twin contract itself (fixture hash parity of `stream_heavy_hitters`
vs the shared batch `heavy_hitter_users` oracle) is enforced by the
oracle harness."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.streaming.mgstate import (
    mg_apply_batch,
    mg_state_candidates,
    mg_state_meta,
)


@pytest.fixture()
def store(tmp_path):
    return str(tmp_path / "state")


def _df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k bigint")


def _cands(spark, store):
    return {
        r.k: r.mg_weight for r in mg_state_candidates(spark, store).collect()
    }


def _meta(spark, store):
    row = mg_state_meta(spark, store).first()
    return row.err_bound, row.total_rows


# Skewed synthetic stream: key 0 dominates, a long uniform tail.
KEYS = [0] * 120 + [1] * 40 + [2] * 25 + list(range(3, 60)) * 3


class TestMgAlgebra:
    def test_exact_when_capacity_covers_cardinality(self, spark, store):
        mg_apply_batch(
            _df(spark, KEYS[:100]), state_path=store, key_col="k",
            capacity=1024, batch_id=0,
        )
        mg_apply_batch(
            _df(spark, KEYS[100:]), state_path=store, key_col="k",
            capacity=1024, batch_id=1,
        )
        err, rows = _meta(spark, store)
        assert err == 0 and rows == len(KEYS)
        assert _cands(spark, store) == dict(Counter(KEYS))

    def test_split_invariance_of_candidates_plus_bound(self, spark, store):
        # Different batch boundaries may shift individual weights, but
        # the MG INVARIANT (true - err <= w <= true; every key with
        # true > err is a candidate) must hold for every split.
        true = Counter(KEYS)
        for i, split in enumerate((50, 137, 200)):
            s = f"{store}-{i}"
            mg_apply_batch(
                _df(spark, KEYS[:split]), state_path=s, key_col="k",
                capacity=16, batch_id=0,
            )
            mg_apply_batch(
                _df(spark, KEYS[split:]), state_path=s, key_col="k",
                capacity=16, batch_id=1,
            )
            err, rows = _meta(spark, s)
            cands = _cands(spark, s)
            assert rows == len(KEYS)
            assert len(cands) <= 16
            for k, w in cands.items():
                assert w <= true[k]
                assert true[k] - w <= err
            for k, t in true.items():
                if t > err:
                    assert k in cands, (k, t, err)

    def test_truncation_bounds_state_size(self, spark, store):
        # 57 distinct keys through capacity 8: every version's kept-key
        # count stays <= 8 and the decrement total surfaces.
        mg_apply_batch(
            _df(spark, KEYS), state_path=store, key_col="k",
            capacity=8, batch_id=0,
        )
        mg_apply_batch(
            _df(spark, KEYS), state_path=store, key_col="k",
            capacity=8, batch_id=1,
        )
        cands = _cands(spark, store)
        err, rows = _meta(spark, store)
        assert len(cands) <= 8
        assert err > 0
        assert rows == 2 * len(KEYS)
        # the dominant key must survive truncation (240 > any possible
        # decrement of this 484-row stream at capacity 8)
        assert 0 in cands

    def test_crash_replay_idempotent(self, spark, store):
        mg_apply_batch(
            _df(spark, KEYS[:100]), state_path=store, key_col="k",
            capacity=16, batch_id=0,
        )
        mg_apply_batch(
            _df(spark, KEYS[100:]), state_path=store, key_col="k",
            capacity=16, batch_id=1,
        )
        before = (_cands(spark, store), _meta(spark, store))
        # foreachBatch is at-least-once: replaying batch 1 re-reads the
        # same parent version and rewrites the same partition.
        mg_apply_batch(
            _df(spark, KEYS[100:]), state_path=store, key_col="k",
            capacity=16, batch_id=1,
        )
        after = (_cands(spark, store), _meta(spark, store))
        assert before == after

    def test_null_keys_ignored(self, spark, store):
        df = spark.createDataFrame(
            [(None,), (1,), (1,), (2,)], "k bigint"
        )
        mg_apply_batch(
            df, state_path=store, key_col="k", capacity=8, batch_id=0
        )
        assert _cands(spark, store) == {1: 2, 2: 1}
        err, rows = _meta(spark, store)
        # NULL keys never enter the summary or the row accounting
        # (misra_gries_partial drops them before counting)
        assert err == 0 and rows == 3

    def test_capacity_validation(self, spark, store):
        with pytest.raises(ValueError, match="capacity"):
            mg_apply_batch(
                _df(spark, [1]), state_path=store, key_col="k",
                capacity=0, batch_id=0,
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


class TestMgCertifiedReadoutRunsOnce:
    def test_certified_head_is_local_relation(self, spark, tmp_path):
        # When err_bound > 0 and the certificate passes,
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
        assert plan.startswith("LocalRelation"), (
            "certified readout must be pre-collected driver-local data, "
            f"got plan:\n{plan}"
        )
        # "Relation" alone is a file scan; the LocalRelation leaf is not
        rest = plan.replace("LocalRelation", "")
        for op in ("Join", "Aggregate", "Relation"):
            assert op not in rest, (
                f"certified readout re-plans the recount ({op}):\n{plan}"
            )
        assert [(r["user_id"], r["n_events"]) for r in got.collect()] == [
            (7, 300),
            (8, 250),
        ]
