"""Streaming LOCF (`streaming/locf.py`): batch-parity, state carry
across batches, and exactly-once under foreachBatch replay."""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.streaming.locf import (
    locf_apply_batch,
    locf_result,
)

SCHEMA = "event_id long, event_type string, ts timestamp, value double"


def _t(m: int) -> datetime:
    return datetime(2024, 1, 1, 0, m)


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _obs():
    return F.when(F.col("value") >= 19.0, F.col("value"))


def _apply(spark, batch, root, batch_id):
    return locf_apply_batch(
        batch,
        state_path=os.path.join(root, "state"),
        out_path=os.path.join(root, "out"),
        key_col="event_type",
        order_cols=("ts", "event_id"),
        obs_col=_obs(),
        batch_id=batch_id,
    )


class TestLocf:
    def test_fill_crosses_batch_boundary(self, spark):
        root = tempfile.mkdtemp(prefix="peps-locf-")
        # batch 0: a reading (20) then a gap row; batch 1: only gap rows
        _apply(spark, _rows(spark, [
            (1, "a", _t(0), 20.0),
            (2, "a", _t(1), 3.0),
        ]), root, 0)
        _apply(spark, _rows(spark, [
            (3, "a", _t(2), 4.0),
            (4, "a", _t(3), 25.0),
            (5, "a", _t(4), 1.0),
        ]), root, 1)
        got = {
            r.event_id: (r.filled_value, r.was_filled)
            for r in locf_result(spark, os.path.join(root, "out")).collect()
        }
        assert got == {
            1: (20.0, False),
            2: (20.0, True),
            3: (20.0, True),   # carried ACROSS the batch boundary
            4: (25.0, False),
            5: (25.0, True),
        }

    def test_rows_before_any_observation_stay_null(self, spark):
        root = tempfile.mkdtemp(prefix="peps-locf-")
        _apply(spark, _rows(spark, [
            (1, "a", _t(0), 2.0),
            (2, "a", _t(1), 30.0),
        ]), root, 0)
        got = {
            r.event_id: r.filled_value
            for r in locf_result(spark, os.path.join(root, "out")).collect()
        }
        assert got[1] is None and got[2] == 30.0

    def test_keys_fill_independently(self, spark):
        root = tempfile.mkdtemp(prefix="peps-locf-")
        _apply(spark, _rows(spark, [
            (1, "a", _t(0), 20.0),
            (2, "b", _t(1), 5.0),
            (3, "b", _t(2), 40.0),
            (4, "a", _t(3), 6.0),
        ]), root, 0)
        got = {
            r.event_id: r.filled_value
            for r in locf_result(spark, os.path.join(root, "out")).collect()
        }
        assert got == {1: 20.0, 2: None, 3: 40.0, 4: 20.0}

    def test_replayed_batch_is_exactly_once(self, spark):
        root = tempfile.mkdtemp(prefix="peps-locf-")
        b0 = _rows(spark, [(1, "a", _t(0), 20.0), (2, "a", _t(1), 2.0)])
        b1 = _rows(spark, [(3, "a", _t(2), 3.0)])
        _apply(spark, b0, root, 0)
        # crash-replay of batch 0 (foreachBatch is at-least-once): the
        # replay must re-read the same (absent) parent state and
        # atomically replace its own output partition
        _apply(spark, b0, root, 0)
        _apply(spark, b1, root, 1)
        out = locf_result(spark, os.path.join(root, "out")).collect()
        assert sorted(r.event_id for r in out) == [1, 2, 3]  # no dupes
        got = {r.event_id: r.filled_value for r in out}
        assert got == {1: 20.0, 2: 20.0, 3: 20.0}

    def test_non_double_observation_keeps_one_output_type(self, spark):
        # Regression (review-found): the batch-0 seed used a hardcoded
        # double cast, forking the output schema between batch 0 and
        # later batches for non-double observations.
        import pyspark.sql.functions as F
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.locf import (
            locf_apply_batch,
        )

        root = tempfile.mkdtemp(prefix="peps-locf-")
        obs = F.when(F.col("value") >= 19.0, F.col("event_id"))  # long
        for i, rows in enumerate(
            [[(1, "a", _t(0), 20.0)], [(2, "a", _t(1), 1.0)]]
        ):
            locf_apply_batch(
                _rows(spark, rows),
                state_path=os.path.join(root, "state"),
                out_path=os.path.join(root, "out"),
                key_col="event_type",
                order_cols=("ts", "event_id"),
                obs_col=obs,
                batch_id=i,
            )
        res = locf_result(spark, os.path.join(root, "out"))
        assert dict(res.dtypes)["filled_value"] == "bigint", res.dtypes
        got = {r.event_id: r.filled_value for r in res.collect()}
        assert got == {1: 1, 2: 1}

    def test_batch_without_observations_carries_state(self, spark):
        root = tempfile.mkdtemp(prefix="peps-locf-")
        _apply(spark, _rows(spark, [(1, "a", _t(0), 20.0)]), root, 0)
        _apply(spark, _rows(spark, [(2, "a", _t(1), 1.0)]), root, 1)
        _apply(spark, _rows(spark, [(3, "a", _t(2), 2.0)]), root, 2)
        got = {
            r.event_id: r.filled_value
            for r in locf_result(spark, os.path.join(root, "out")).collect()
        }
        assert got == {1: 20.0, 2: 20.0, 3: 20.0}

    def test_null_keys_form_one_seeded_group(self, spark):
        import duckdb

        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            SQL_STREAM_LOCF_FILL,
        )

        b0 = [(1, None, _t(0), 20.0), (2, "a", _t(1), 30.0), (3, None, _t(2), 1.0)]
        b1 = [(4, None, _t(3), 2.0), (5, "a", _t(4), 3.0)]
        root = tempfile.mkdtemp(prefix="peps-locf-null-")
        _apply(spark, _rows(spark, b0), root, 0)
        _apply(spark, _rows(spark, b1), root, 1)
        got = {
            r.event_id: (r.filled_value, r.was_filled)
            for r in locf_result(spark, os.path.join(root, "out")).collect()
        }
        con = duckdb.connect()
        con.register("events", _rows(spark, b0 + b1).toPandas())
        want = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                f"SELECT event_id, filled_value, was_filled FROM ({SQL_STREAM_LOCF_FILL})"
            ).fetchall()
        }
        # event 4 is filled across the batch boundary from the NULL-key
        # state row written by batch 0
        assert got == want == {
            1: (20.0, False),
            2: (30.0, False),
            3: (20.0, True),
            4: (20.0, True),
            5: (30.0, True),
        }
