"""Streaming mergeable per-key rollup (streaming/rollup.py): merge
algebra, crash-replay idempotence, split invariance, and the RFM twin
contract (fixture hash parity vs the shared batch oracle is enforced
by the oracle harness)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.streaming.rollup import (
    rollup_apply_batch,
    rollup_state_result,
)

SPECS = [
    ("n", "count", "1"),
    ("mx", "max", "v"),
    ("mn", "min", "v"),
    ("sm", "sum", "v"),
]


@pytest.fixture()
def store(tmp_path):
    return str(tmp_path / "state")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v bigint")


def _state(spark, store):
    return {
        r.k: (r.n, r.mx, r.mn, r.sm)
        for r in rollup_state_result(spark, store).collect()
    }


class TestStringKeyRollup:
    def test_token_counts_merge_across_batches(self, spark, tmp_path):
        # STRING keys (tokens), count spec,
        # merges across two exploded batches == one global aggregate
        from pyspark.sql import functions as F

        store = str(tmp_path / "state")
        docs = [("a b b c",), ("c c d",), ("a d d d",), ("b e",)]
        df = spark.createDataFrame(docs, "text string")
        tok = lambda d: d.select(  # noqa: E731
            F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        halves = [df.limit(2), df.subtract(df.limit(2))]
        rollup_apply_batch(
            tok(halves[0]), state_path=store, key_col="token",
            specs=[("n", "count", "1")], batch_id=0,
        )
        rollup_apply_batch(
            tok(halves[1]), state_path=store, key_col="token",
            specs=[("n", "count", "1")], batch_id=1,
        )
        got = {
            r.token: r.n
            for r in rollup_state_result(spark, store).collect()
        }
        want = {}
        for (t,) in docs:
            for w in t.split():
                want[w] = want.get(w, 0) + 1
        assert got == want


class TestRollupAlgebra:
    def test_two_batch_merge_equals_batch_aggregate(self, spark, store):
        rows = [(i % 7, (i * 31) % 100 - 50) for i in range(200)]
        rollup_apply_batch(
            _df(spark, rows[:90]), state_path=store, key_col="k",
            specs=SPECS, batch_id=0,
        )
        rollup_apply_batch(
            _df(spark, rows[90:]), state_path=store, key_col="k",
            specs=SPECS, batch_id=1,
        )
        got = _state(spark, store)
        want = {}
        for k, v in rows:
            n, mx, mn, sm = want.get(k, (0, None, None, 0))
            want[k] = (
                n + 1,
                v if mx is None else max(mx, v),
                v if mn is None else min(mn, v),
                sm + v,
            )
        assert got == want

    def test_split_point_invariance(self, spark, store):
        rows = [((i * 13) % 11, (i * 7) % 40) for i in range(150)]
        results = []
        for cut in (1, 50, 149):
            s = tempfile.mkdtemp(prefix="peps-rollup-")
            try:
                rollup_apply_batch(
                    _df(spark, rows[:cut]), state_path=s, key_col="k",
                    specs=SPECS, batch_id=0,
                )
                rollup_apply_batch(
                    _df(spark, rows[cut:]), state_path=s, key_col="k",
                    specs=SPECS, batch_id=1,
                )
                results.append(_state(spark, s))
            finally:
                shutil.rmtree(s, ignore_errors=True)
        assert results[0] == results[1] == results[2]

    def test_keys_silent_in_a_batch_carry_forward(self, spark, store):
        rollup_apply_batch(
            _df(spark, [(1, 10), (2, 20)]), state_path=store, key_col="k",
            specs=SPECS, batch_id=0,
        )
        rollup_apply_batch(
            _df(spark, [(2, 5)]), state_path=store, key_col="k",
            specs=SPECS, batch_id=1,
        )
        got = _state(spark, store)
        assert got[1] == (1, 10, 10, 10)  # untouched by batch 1
        assert got[2] == (2, 20, 5, 25)


class TestRollupReplay:
    def test_replayed_batch_is_idempotent(self, spark, store):
        b0 = _df(spark, [(1, 3), (2, 4)])
        b1 = _df(spark, [(1, 7), (3, 1)])
        rollup_apply_batch(b0, state_path=store, key_col="k", specs=SPECS, batch_id=0)
        rollup_apply_batch(b1, state_path=store, key_col="k", specs=SPECS, batch_id=1)
        want = _state(spark, store)
        # crash-replay: batch 1 fires again (foreachBatch redelivery) —
        # it must re-read version 1's PARENT (version 1 excluded by the
        # strict bound) and overwrite version 2 with identical content
        rollup_apply_batch(b1, state_path=store, key_col="k", specs=SPECS, batch_id=1)
        assert _state(spark, store) == want

    def test_unknown_kind_rejected(self, spark, store):
        with pytest.raises(ValueError, match="unknown rollup kind"):
            rollup_apply_batch(
                _df(spark, [(1, 1)]), state_path=store, key_col="k",
                specs=[("x", "avg", "v")], batch_id=0,
            )

    def test_empty_store_raises_on_read(self, spark, store):
        with pytest.raises(FileNotFoundError):
            rollup_state_result(spark, store)


class TestRollupNullKeys:
    def test_null_key_group_merges_across_batches(self, spark, store):
        # NULL keys are ONE group in a batch aggregate; the state merge
        # must treat them the same (null-safe join) or partial rows
        # accumulate one per null-bearing batch.
        rollup_apply_batch(
            spark.createDataFrame([(None, 5), (1, 2)], "k bigint, v bigint"),
            state_path=store, key_col="k", specs=SPECS, batch_id=0,
        )
        rollup_apply_batch(
            spark.createDataFrame([(None, 7)], "k bigint, v bigint"),
            state_path=store, key_col="k", specs=SPECS, batch_id=1,
        )
        rows = rollup_state_result(spark, store).collect()
        nulls = [r for r in rows if r.k is None]
        assert len(nulls) == 1, "null-key state rows must merge, not duplicate"
        assert (nulls[0].n, nulls[0].mx, nulls[0].mn, nulls[0].sm) == (2, 7, 5, 12)
        assert [r for r in rows if r.k == 1][0].sm == 2
