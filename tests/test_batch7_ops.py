"""Round-7 seventh-batch operators: streaming transition counts,
grouped OLS trend, session paths, Merkle bucket checksums.

The streaming module is exercised directly at the apply_batch level
(boundary recovery, state carry, exactly-once replay) the same way
``tests/test_locf_stream.py`` drives LOCF; the arithmetic operators
get goldens plus hypothesis properties against independent references
(Fraction-exact OLS, hashlib digests, dict-replay transitions over
arbitrary time-respecting splits).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from datetime import datetime
from fractions import Fraction

from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.diffing import (
    merkle_bucket_checksums,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.sequence import (
    session_paths,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
    grouped_ols_trend,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.transitions import (
    transition_counts_result,
    transitions_apply_batch,
)

SCHEMA = "event_id long, user_id long, event_type string, ts timestamp"


def _t(m: int) -> datetime:
    return datetime(2024, 1, 1, 0, m)


def _apply(spark, rows, root, batch_id):
    batch = spark.createDataFrame(rows, SCHEMA)
    return transitions_apply_batch(
        batch,
        state_path=os.path.join(root, "state"),
        out_path=os.path.join(root, "out"),
        key_col="user_id",
        state_col="event_type",
        order_cols=("ts", "event_id"),
        batch_id=batch_id,
    )


def _result(spark, root):
    return {
        (r.prev_state, r.next_state): (r.transitions, r.prob_ppm)
        for r in transition_counts_result(
            spark, os.path.join(root, "out")
        ).collect()
    }


class TestStreamingTransitions:
    def test_boundary_transition_counted_once(self, spark):
        root = tempfile.mkdtemp(prefix="peps-trans-")
        # user 1: a,b in batch 0; c in batch 1 -> edges a>b, b>c
        _apply(spark, [(1, 1, "a", _t(0)), (2, 1, "b", _t(1))], root, 0)
        _apply(spark, [(3, 1, "c", _t(2))], root, 1)
        assert _result(spark, root) == {
            ("a", "b"): (1, 1_000_000),
            ("b", "c"): (1, 1_000_000),
        }

    def test_silent_batch_carries_state(self, spark):
        root = tempfile.mkdtemp(prefix="peps-trans-")
        _apply(spark, [(1, 1, "a", _t(0))], root, 0)
        # batch 1 has only user 2 — user 1's last state must survive
        _apply(spark, [(2, 2, "x", _t(1))], root, 1)
        _apply(spark, [(3, 1, "b", _t(2))], root, 2)
        assert _result(spark, root) == {("a", "b"): (1, 1_000_000)}

    def test_replayed_batch_is_exactly_once(self, spark):
        root = tempfile.mkdtemp(prefix="peps-trans-")
        _apply(spark, [(1, 1, "a", _t(0)), (2, 1, "b", _t(1))], root, 0)
        _apply(spark, [(3, 1, "a", _t(2))], root, 1)
        once = _result(spark, root)
        # foreachBatch is at-least-once: replaying batch 1 must
        # overwrite its own partition, not double the b>a edge
        _apply(spark, [(3, 1, "a", _t(2))], root, 1)
        assert _result(spark, root) == once

    def test_null_states_match_batch_operator(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sequence import (
            transition_matrix,
        )

        # user 1: a, NULL, b | c   -> a>NULL counted, NULL>b not, b>c
        # user 2: a, NULL | b      -> batch 0 ends on NULL: no NULL>b
        b0 = [
            (1, 1, "a", _t(0)), (2, 1, None, _t(1)), (3, 1, "b", _t(2)),
            (4, 2, "a", _t(3)), (5, 2, None, _t(4)),
        ]
        b1 = [(6, 1, "c", _t(5)), (7, 2, "b", _t(6))]
        root = tempfile.mkdtemp(prefix="peps-trans-null-")
        _apply(spark, b0, root, 0)
        _apply(spark, b1, root, 1)
        want = {
            (r.prev_state, r.next_state): (r.transitions, r.prob_ppm)
            for r in transition_matrix(
                spark.createDataFrame(b0 + b1, SCHEMA),
                key_col="user_id",
                state_col="event_type",
                order_cols=("ts", "event_id"),
            ).collect()
        }
        assert _result(spark, root) == want == {
            ("a", None): (2, 1_000_000),
            ("b", "c"): (1, 1_000_000),
        }

    def test_property_matches_batch_operator_on_any_split(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from prioritizing_event_processing_with_apache_kafka_spark.operators.sequence import (
            transition_matrix,
        )

        seqs = st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=6),
            min_size=1,
            max_size=4,
        )

        @settings(
            max_examples=6,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(seqs, st.integers(min_value=0, max_value=20))
        def run(users, cut):
            rows, eid = [], 0
            for uid, states in enumerate(users):
                for s in states:
                    rows.append((eid, uid, s, _t(eid)))
                    eid += 1
            cut = min(cut, len(rows))
            root = tempfile.mkdtemp(prefix="peps-trans-prop-")
            # a time-respecting split: rows are globally time-ordered,
            # so any prefix/suffix cut respects each key's order; an
            # empty side still runs as a (legal) empty micro-batch
            batches = [rows[:cut], rows[cut:]]
            for bid, part in enumerate(batches):
                _apply(spark, part if part else [], root, bid)
            df = spark.createDataFrame(rows, SCHEMA).withColumn(
                "value", F.lit(0.0)
            )
            want = {
                (r.prev_state, r.next_state): (r.transitions, r.prob_ppm)
                for r in transition_matrix(
                    df,
                    key_col="user_id",
                    state_col="event_type",
                    order_cols=("ts", "event_id"),
                ).collect()
            }
            assert _result(spark, root) == want

        run()


def _py_ols(points: list[tuple[int, int]]):
    n = len(points)
    sx = sum(x for x, _ in points)
    sy = sum(y for _, y in points)
    sxy = sum(x * y for x, y in points)
    sxx = sum(x * x for x, y in points)
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = None
    if den > 0:
        # truncation toward zero, like Spark DIV / DuckDB // — python's
        # // floors, so negate around it for negative numerators; the
        # Fraction import keeps the intent greppable (int(Fraction)
        # also truncates toward zero and cross-checks the arithmetic)
        scaled = num * 1_000_000
        slope = scaled // den if scaled >= 0 else -((-scaled) // den)
        assert slope == int(Fraction(scaled, den))
    return n, sx, sy, num, den, slope


class TestGroupedOlsTrend:
    def test_hand_computed_positive_and_negative(self, spark):
        # user 1 rises 100 cents/day; user 2 falls 100 cents/day
        rows = [
            (1, datetime(2024, 1, 1), 1, "a", 1.00),
            (2, datetime(2024, 1, 2), 1, "a", 2.00),
            (3, datetime(2024, 1, 3), 1, "a", 3.00),
            (4, datetime(2024, 1, 1), 2, "a", 3.00),
            (5, datetime(2024, 1, 2), 2, "a", 2.00),
            (6, datetime(2024, 1, 3), 2, "a", 1.00),
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        got = {r.user_id: r for r in grouped_ols_trend(df).collect()}
        assert got[1]["slope_ppm"] == 100 * 1_000_000
        assert got[2]["slope_ppm"] == -100 * 1_000_000
        assert got[1]["sxx_den"] == 3 * 5 - 9  # n*sxx - sx^2 = 6

    def test_sub_day_elapsed_floors_to_zero(self, spark):
        # 23h apart is 0 WHOLE days elapsed — x is elapsed-time floor,
        # not a calendar-label difference (1am -> next-day 0am is also
        # 0 despite crossing midnight)
        rows = [
            (1, datetime(2024, 1, 1, 1, 0), 1, "a", 1.0),
            (2, datetime(2024, 1, 2, 0, 0), 1, "a", 9.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        r = grouped_ols_trend(df).collect()[0]
        assert r["sum_x"] == 0 and r["sxx_den"] == 0 and r["slope_ppm"] is None

    def test_single_day_null_slope(self, spark):
        rows = [
            (1, datetime(2024, 1, 1, 0, 0), 1, "a", 1.0),
            (2, datetime(2024, 1, 1, 0, 5), 1, "a", 9.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        r = grouped_ols_trend(df).collect()[0]
        assert r["sxx_den"] == 0 and r["slope_ppm"] is None

    def test_property_matches_fraction_ols(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        pts = st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=27),
                st.integers(min_value=-500, max_value=500),
            ),
            min_size=1,
            max_size=12,
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(pts)
        def run(points):
            # midnight-aligned timestamps: elapsed-micros DIV day (the
            # engine's x) then equals the day-label difference the
            # reference uses; sub-day offsets are covered by the
            # dedicated hand-computed tests
            rows = [
                (i, datetime(2024, 1, 1 + x), 1, "a", y / 100.0)
                for i, (x, y) in enumerate(points)
            ]
            df = spark.createDataFrame(
                rows,
                "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
            )
            r = grouped_ols_trend(df).collect()[0]
            # python reference re-derives x/y the way the engine does
            xs = [x for x, _ in points]
            base = min(xs)
            import math

            norm = [(x - base, math.floor(y / 100.0 * 100.0)) for x, y in points]
            n, sx, sy, num, den, slope = _py_ols(norm)
            assert (r["n"], r["sum_x"], r["sum_y"]) == (n, sx, sy)
            assert (r["sxy_num"], r["sxx_den"]) == (num, den)
            assert r["slope_ppm"] == slope

        run()


class TestSessionPaths:
    def test_gap_splits_and_truncates(self, spark):
        rows = (
            # session 1: six events 1 min apart -> path truncated to 5
            [(i, 1, t, _t(i)) for i, t in enumerate("abcdef")]
            # session 2 (same user, 40-min gap): two events
            + [(10, 1, "x", _t(50)), (11, 1, "y", _t(51))]
            # user 2: one singleton session
            + [(20, 2, "a", _t(0))]
        )
        df = spark.createDataFrame(
            [(eid, uid, et, ts) for eid, uid, et, ts in rows],
            "event_id bigint, user_id bigint, event_type string, ts timestamp",
        )
        got = {
            r["path"]: r["n_sessions"] for r in session_paths(df).collect()
        }
        assert got == {"a>b>c>d>e": 1, "x>y": 1, "a": 1}

    def test_identical_paths_counted_together(self, spark):
        rows = [
            (1, 1, "a", _t(0)), (2, 1, "b", _t(1)),
            (3, 2, "a", _t(0)), (4, 2, "b", _t(1)),
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, event_type string, ts timestamp"
        )
        got = {r["path"]: r["n_sessions"] for r in session_paths(df).collect()}
        assert got == {"a>b": 2}


class TestMerkleBuckets:
    @staticmethod
    def _py_checksum(rows, num_buckets=4):
        P = 1_000_000_007
        out = {}
        for doc_id, text in rows:
            s = f"{doc_id}|{text}"
            d = int(hashlib.md5(s.encode()).hexdigest()[:14], 16) % P
            b = doc_id % num_buckets
            n, c = out.get(b, (0, 0))
            out[b] = (n + 1, (c + d) % P)
        return out

    def test_matches_hashlib_replay(self, spark):
        rows = [(i, f"doc number {i} body") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {
            r["bucket"]: (r["n_rows"], r["checksum"])
            for r in merkle_bucket_checksums(
                df, key_col="doc_id", content_cols=("text",), num_buckets=4
            ).collect()
        }
        assert got == self._py_checksum(rows)

    def test_single_char_flip_changes_checksum(self, spark):
        rows = [(i, f"payload {i}") for i in range(8)]
        tampered = [(i, t if i != 5 else t + "!") for i, t in rows]
        a = merkle_bucket_checksums(
            spark.createDataFrame(rows, "doc_id bigint, text string"),
            key_col="doc_id", content_cols=("text",), num_buckets=4,
        )
        b = merkle_bucket_checksums(
            spark.createDataFrame(tampered, "doc_id bigint, text string"),
            key_col="doc_id", content_cols=("text",), num_buckets=4,
        )
        ga = {r["bucket"]: r["checksum"] for r in a.collect()}
        gb = {r["bucket"]: r["checksum"] for r in b.collect()}
        diff = {k for k in ga if ga[k] != gb[k]}
        assert diff == {5 % 4}
