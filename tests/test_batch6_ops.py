"""Round-7 sixth-batch operators: rendezvous routing, co-occurrence
lift, HHI concentration, CUSUM alarm, interval concurrency.

Each checked against a hand-computed golden and, where the operator
has a genuinely different independent derivation (CUSUM's closed form
vs the textbook recurrence, HRW vs a hashlib replay, sweep line vs an
O(n²) scan), a hypothesis property against that reference.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest

from prioritizing_event_processing_with_apache_kafka_spark.operators.basket import (
    cooccurrence_lift,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.rangejoin import (
    interval_concurrency_peak,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    rendezvous_route,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.skew import (
    key_concentration,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
    cusum_alarm,
)

EPOCH = dt.datetime(2024, 1, 1)


def _ts(seconds: float) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=seconds)


def _hrw_pick(key: str, n: int) -> int:
    """Independent HRW reference: hashlib md5 hex, python max."""
    return max(
        range(n),
        key=lambda p: (hashlib.md5(f"{key}:{p}".encode()).hexdigest(), p),
    )


class TestRendezvousRoute:
    def test_matches_hashlib_replay(self, spark):
        keys = [f"Gold-{i}" for i in range(40)] + ["Platinum-7", "x y:z"]
        df = spark.createDataFrame([(k,) for k in keys], "key string")
        got = {
            r["key"]: r["partition"]
            for r in rendezvous_route(df, num_partitions=12).collect()
        }
        assert got == {k: _hrw_pick(k, 12) for k in keys}

    def test_resize_remaps_only_to_new_partition(self, spark):
        # THE property HRW buys: growing N -> N+1 either keeps a key in
        # place or moves it to the NEW partition — never between old
        # partitions (the new candidate only ever wins; relative order
        # of old digests is untouched).
        keys = [f"k{i}" for i in range(300)]
        df = spark.createDataFrame([(k,) for k in keys], "key string")
        before = {
            r["key"]: r["partition"]
            for r in rendezvous_route(df, num_partitions=8).collect()
        }
        after = {
            r["key"]: r["partition"]
            for r in rendezvous_route(df, num_partitions=9).collect()
        }
        moved = {k for k in keys if before[k] != after[k]}
        assert all(after[k] == 8 for k in moved)
        # and the move rate is in the ~1/9 ballpark, not ~everything
        assert len(moved) < len(keys) / 3

    def test_invalid_num_partitions_raises(self, spark):
        df = spark.createDataFrame([("k",)], "key string")
        for bad in (0, -3):
            with pytest.raises(ValueError, match="num_partitions"):
                rendezvous_route(df, num_partitions=bad)


class TestKeyConcentration:
    def test_monopoly_and_even(self, spark):
        rows = [("mono", 1)] * 10 + [("even", k) for k in range(4) for _ in range(5)]
        df = spark.createDataFrame(rows, "g string, k bigint")
        got = {r["g"]: r for r in key_concentration(df, "g", "k").collect()}
        assert got["mono"]["n_rows"] == 10
        assert got["mono"]["n_keys"] == 1
        assert got["mono"]["top_share_ppm"] == 1_000_000
        assert got["mono"]["hhi_pptr"] == 1_000_000_000_000
        assert got["even"]["n_rows"] == 20
        assert got["even"]["n_keys"] == 4
        assert got["even"]["top_share_ppm"] == 250_000
        assert got["even"]["hhi_pptr"] == 4 * 250_000 * 250_000


def _py_cusum(xs: list[int], k: int) -> list[int]:
    """Textbook iterative recurrence — the independent reference for
    the closed-form prefix/min formulation."""
    s, out = 0, []
    for x in xs:
        s = max(0, s + (x - k))
        out.append(s)
    return out


class TestCusumAlarm:
    def _frame(self, spark, xs, k, h):
        rows = [("b", _ts(i * 3600), int(x), k, h) for i, x in enumerate(xs)]
        return spark.createDataFrame(
            rows,
            "bucket string, hour timestamp, n_events bigint, "
            "ref_level bigint, alarm_h bigint",
        )

    def test_step_change_alarms(self, spark):
        # baseline 10/hour (k=12 absorbs it), then a sustained step to
        # 15 — no single hour is anomalous, but CUSUM accumulates 3/hr.
        xs = [10] * 6 + [15] * 10
        df = self._frame(spark, xs, k=12, h=20)
        got = [
            (r["cusum"], r["alarm"])
            for r in cusum_alarm(df).orderBy("hour").collect()
        ]
        want_s = _py_cusum(xs, 12)
        assert [s for s, _ in got] == want_s
        assert [a for _, a in got] == [s > 20 for s in want_s]
        assert got[-1][1] is True  # the step IS eventually flagged

    def test_property_closed_form_equals_recurrence(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=30),
            st.integers(min_value=0, max_value=40),
        )
        def run(xs, k):
            df = self._frame(spark, xs, k=k, h=10)
            got = [
                r["cusum"] for r in cusum_alarm(df).orderBy("hour").collect()
            ]
            assert got == _py_cusum(xs, k)

        run()


class TestCooccurrenceLift:
    def test_hand_computed(self, spark):
        # baskets: {a,b} x3, {a,c}, {b,c}, {a} — n=6 baskets
        rows = (
            [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "b")]
            + [(4, "a"), (4, "c"), (5, "b"), (5, "c"), (6, "a")]
            + [(1, "a")]  # duplicate item in basket 1 — must not double count
        )
        df = spark.createDataFrame(rows, "b bigint, i string")
        got = {
            (r["item_a"], r["item_b"]): (
                r["pair_count"], r["count_a"], r["count_b"], r["lift_ppm"]
            )
            for r in cooccurrence_lift(
                df, basket_col="b", item_col="i", min_pair_count=2
            ).collect()
        }
        # only (a,b) reaches support 2: count_a=5, count_b=4
        # lift = 3 * 6 * 1e6 // (5*4) = 900_000 (slightly repulsive)
        assert got == {("a", "b"): (3, 5, 4, 900_000)}


def _py_peak(intervals, group):
    """O(n²) reference: concurrency at every start boundary."""
    best = None
    for s, _ in intervals:
        c = sum(1 for s2, e2 in intervals if s2 <= s < e2)
        if best is None or c > best[0] or (c == best[0] and s < best[1]):
            best = (c, s)
    return best


class TestIntervalConcurrencyPeak:
    def test_hand_computed(self, spark):
        iv = [
            ("HIGH", _ts(0), _ts(100)),
            ("HIGH", _ts(50), _ts(150)),   # overlaps 1st: peak 2 at t=50
            ("HIGH", _ts(100), _ts(200)),  # 1st closes exactly at 100
            ("LOW", _ts(0), _ts(10)),
        ]
        df = spark.createDataFrame(iv, "g string, s timestamp, e timestamp")
        got = {
            r["g"]: (r["peak_open"], r["peak_at"])
            for r in interval_concurrency_peak(
                df, group_col="g", start_col="s", end_col="e"
            ).collect()
        }
        assert got["HIGH"] == (2, _ts(50))
        assert got["LOW"] == (1, _ts(0))

    def test_property_matches_quadratic_scan(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        ivs = st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=50),
                st.integers(min_value=1, max_value=30),
            ),
            min_size=1,
            max_size=15,
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(ivs)
        def run(raw):
            intervals = [(s, s + d) for s, d in raw]
            df = spark.createDataFrame(
                [("g", _ts(s), _ts(e)) for s, e in intervals],
                "g string, s timestamp, e timestamp",
            )
            peak, at = _py_peak(intervals, "g")
            r = interval_concurrency_peak(
                df, group_col="g", start_col="s", end_col="e"
            ).collect()[0]
            assert (r["peak_open"], r["peak_at"]) == (peak, _ts(at))

        run()
