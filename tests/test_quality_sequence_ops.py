"""Round-7 fifth-batch operators: constraint audit, transition matrix,
rolling median, time-weighted mean.

Each checked two ways: a hand-computed golden on a planted fixture,
and (for the arithmetic-heavy ones) a hypothesis property against an
independent pure-Python reference — a different derivation, not the
Spark formula re-typed.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
    Check,
    constraint_audit,
    micros,
    violation_count,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.sequence import (
    transition_matrix,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
    rolling_median,
    time_weighted_mean,
)

EPOCH = dt.datetime(2024, 1, 1)


def _ts(seconds: float) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=seconds)


class TestConstraintAudit:
    def test_planted_violations_counted(self, spark):
        facts = spark.createDataFrame(
            [
                (1, 10, 5.0, "O"),
                (2, 10, -1.0, "O"),   # nonpositive amount
                (2, 20, 3.0, "F"),    # duplicate key
                (3, None, 2.0, "X"),  # null fk + bad status
                (4, 99, 1.0, "P"),    # orphan fk
            ],
            "k bigint, fk bigint, amount double, status string",
        )
        dim = spark.createDataFrame(
            [(10,), (20,)], "dk bigint"
        )
        checks = [
            Check("null_fk", violation_count(F.col("fk").isNull()), 0),
            Check(
                "dup_k",
                (F.count(F.lit(1)) - F.countDistinct("k")).cast("bigint"),
                0,
            ),
            Check(
                "nonpositive_amount",
                violation_count(F.col("amount") <= 0),
                0,
            ),
            Check(
                "bad_status",
                violation_count(~F.col("status").isin("O", "F", "P")),
                0,
            ),
            Check(
                "amount_sum_micros",
                F.coalesce(F.sum(micros(F.col("amount"))), F.lit(0)).cast(
                    "bigint"
                ),
                10_000_000_000,
            ),
        ]
        out = constraint_audit(
            facts, checks, anti_joins=[("orphan_fk", dim, "fk", "dk")]
        )
        rows = {r["check"]: (r["observed"], r["passed"]) for r in out.collect()}
        assert rows == {
            "null_fk": (1, False),
            "dup_k": (1, False),
            "nonpositive_amount": (1, False),
            "bad_status": (1, False),
            # 5.0 - 1.0 + 3.0 + 2.0 + 1.0 = 10.0 -> 10_000_000 micros
            "amount_sum_micros": (10_000_000, True),
            "orphan_fk": (1, False),
        }
        # Row order is the declaration order (scalar checks, then
        # anti-joins) — the contract the long-format ledger relies on.
        assert [r["check"] for r in out.collect()] == [
            "null_fk",
            "dup_k",
            "nonpositive_amount",
            "bad_status",
            "amount_sum_micros",
            "orphan_fk",
        ]

    def test_clean_batch_passes(self, spark):
        facts = spark.createDataFrame(
            [(1, 10, 5.0, "O")], "k bigint, fk bigint, amount double, status string"
        )
        dim = spark.createDataFrame([(10,)], "dk bigint")
        out = constraint_audit(
            facts,
            [Check("null_fk", violation_count(F.col("fk").isNull()), 0)],
            anti_joins=[("orphan_fk", dim, "fk", "dk")],
        )
        assert all(r["passed"] for r in out.collect())

    def test_empty_batch_observes_zero(self, spark):
        facts = spark.createDataFrame(
            [], "k bigint, fk bigint, amount double, status string"
        )
        out = constraint_audit(
            facts,
            [
                Check("null_fk", violation_count(F.col("fk").isNull()), 0),
                Check(
                    "amount_sum_micros",
                    F.coalesce(
                        F.sum(micros(F.col("amount"))), F.lit(0)
                    ).cast("bigint"),
                    10,
                ),
            ],
        )
        rows = {r["check"]: r["observed"] for r in out.collect()}
        assert rows == {"null_fk": 0, "amount_sum_micros": 0}


class TestTransitionMatrix:
    def test_hand_computed(self, spark):
        rows = [
            # user 1: a -> b -> a -> c
            (1, _ts(0), 1, "a", 0.0),
            (2, _ts(1), 1, "b", 0.0),
            (3, _ts(2), 1, "a", 0.0),
            (4, _ts(3), 1, "c", 0.0),
            # user 2: a -> b
            (5, _ts(0), 2, "a", 0.0),
            (6, _ts(1), 2, "b", 0.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        got = {
            (r.prev_state, r.next_state): (r.transitions, r.prob_ppm)
            for r in transition_matrix(df).collect()
        }
        # a -> b twice, a -> c once (prob 666666 / 333333 ppm by
        # integer division), b -> a once (1_000_000 ppm).
        assert got == {
            ("a", "b"): (2, 666666),
            ("a", "c"): (1, 333333),
            ("b", "a"): (1, 1000000),
        }

    def test_first_event_has_no_transition(self, spark):
        df = spark.createDataFrame(
            [(1, _ts(0), 1, "a", 0.0)],
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
        )
        assert transition_matrix(df).count() == 0

    def test_property_matches_dict_replay(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        seqs = st.lists(
            st.lists(
                st.sampled_from(["a", "b", "c"]), min_size=1, max_size=8
            ),
            min_size=1,
            max_size=5,
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(seqs)
        def run(users):
            rows, eid = [], 0
            expect: dict[tuple[str, str], int] = {}
            for uid, states in enumerate(users):
                for i, s in enumerate(states):
                    rows.append((eid, _ts(eid), uid, s, 0.0))
                    eid += 1
                    if i:
                        key = (states[i - 1], s)
                        expect[key] = expect.get(key, 0) + 1
            totals: dict[str, int] = {}
            for (p, _n), c in expect.items():
                totals[p] = totals.get(p, 0) + c
            df = spark.createDataFrame(
                rows,
                "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
            )
            got = {
                (r.prev_state, r.next_state): (r.transitions, r.prob_ppm)
                for r in transition_matrix(df).collect()
            }
            want = {
                k: (c, c * 1_000_000 // totals[k[0]])
                for k, c in expect.items()
            }
            assert got == want

        run()


def _py_rolling_median(values: list[float], window: int) -> list[float]:
    out = []
    for i in range(len(values)):
        frame = sorted(values[max(0, i - window + 1) : i + 1])
        n = len(frame)
        if n % 2:
            out.append(frame[n // 2])
        else:
            out.append((frame[n // 2 - 1] + frame[n // 2]) / 2.0)
    return out


class TestRollingMedian:
    def test_hand_computed(self, spark):
        vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
        rows = [(i, _ts(i), 1, "a", v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        got = [
            r.rolling_median
            for r in rolling_median(df, window=5)
            .orderBy("event_id")
            .collect()
        ]
        assert got == _py_rolling_median(vals, 5)

    def test_property_matches_python(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        vals = st.lists(
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, width=32
            ),
            min_size=1,
            max_size=12,
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(vals, st.integers(min_value=1, max_value=6))
        def run(values, window):
            rows = [(i, _ts(i), 1, "a", float(v)) for i, v in enumerate(values)]
            df = spark.createDataFrame(
                rows,
                "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
            )
            got = [
                r.rolling_median
                for r in rolling_median(df, window=window)
                .orderBy("event_id")
                .collect()
            ]
            assert got == _py_rolling_median(values, window)

        run()

    def test_null_contract(self, spark):
        # NULLs inside the trailing frame do not participate in the
        # median (collect_list drops them); an all-NULL frame yields a
        # NULL median. The DuckDB oracle mirrors via list_filter.
        vals = [5.0, None, 1.0, None, None]
        rows = [(i, _ts(i), 1, "a", v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
        )
        got = [
            r.rolling_median
            for r in rolling_median(df, window=2)
            .orderBy("event_id")
            .collect()
        ]
        # frames (window=2): [5], [5,N], [N,1], [1,N], [N,N]
        assert got == [5.0, 5.0, 1.0, 1.0, None]


class TestTimeWeightedMean:
    def test_hand_computed(self, spark):
        rows = [
            (1, _ts(0), 1, "a", 10.0),   # held 5 s
            (2, _ts(5), 1, "a", 20.0),   # held 10 s
            (3, _ts(15), 1, "a", 99.0),  # final, zero hold
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        r = time_weighted_mean(df).collect()[0]
        assert r.weighted_micros == 10_000_000 * 5 + 20_000_000 * 10
        assert r.held_seconds == 15
        assert r.twap_micros == (10_000_000 * 5 + 20_000_000 * 10) // 15

    def test_subsecond_boundary_holds_zero(self, spark):
        # 0.9s -> 1.1s spans a second boundary but holds only 0 whole
        # seconds — the truncated-cast bug this operator avoids.
        rows = [
            (1, _ts(0.9), 1, "a", 10.0),
            (2, _ts(1.1), 1, "a", 20.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        r = time_weighted_mean(df).collect()[0]
        assert r.held_seconds == 0
        assert r.twap_micros is None

    def test_single_event_null_mean(self, spark):
        df = spark.createDataFrame(
            [(1, _ts(0), 1, "a", 10.0)],
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
        )
        r = time_weighted_mean(df).collect()[0]
        assert (r.weighted_micros, r.held_seconds, r.twap_micros) == (0, 0, None)

    def test_property_matches_python(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        events = st.lists(
            st.tuples(
                st.floats(min_value=0, max_value=100, allow_nan=False),
                st.floats(min_value=0.01, max_value=500, allow_nan=False),
            ),
            min_size=1,
            max_size=10,
            unique_by=lambda t: round(t[0] * 1_000_000),
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(events)
        def run(evs):
            evs = sorted(evs)
            rows = [
                (i, _ts(ts), 1, "a", float(v))
                for i, (ts, v) in enumerate(evs)
            ]
            df = spark.createDataFrame(
                rows,
                "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
            )
            r = time_weighted_mean(df).collect()[0]
            # Python reference replays micros timestamps the way the
            # fixture materializes them (timedelta microsecond lattice).
            def _us(ts: float) -> int:
                d = _ts(ts) - EPOCH  # timedelta stores exact micros
                return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds

            micros_ts = [(_us(ts), v) for ts, v in evs]
            import math

            num = den = 0
            for i, (us, v) in enumerate(micros_ts):
                hold = (
                    (micros_ts[i + 1][0] - us) // 1_000_000
                    if i + 1 < len(micros_ts)
                    else 0
                )
                num += math.floor(v * 1_000_000.0) * hold
                den += hold
            assert (r.weighted_micros, r.held_seconds) == (num, den)
            assert r.twap_micros == (num // den if den else None)

        run()
