"""Upsert/merge operators: SCD2 history.

Covers the contracts that matter under re-delivery and ordering:
multi-row update batches collapse latest-wins, SCD2 close/open/no-op
classification, and idempotency of re-merging the same batch.
"""

from __future__ import annotations

from prioritizing_event_processing_with_apache_kafka_spark.operators.merge import (
    scd2_merge,
)


def _history(spark):
    return spark.createDataFrame(
        [
            # closed historical row for k=1, open successor
            (1, "seg-a0", "2023-01-01", "2024-01-01", False),
            (1, "seg-a1", "2024-01-01", None, True),
            (2, "seg-b", "2024-01-01", None, True),
            (3, "seg-c", "2024-01-01", None, True),
        ],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    )


def _merge(history, updates):
    return scd2_merge(
        history,
        updates,
        key_cols=["k"],
        tracked_cols=["seg"],
        effective_col="eff",
    )


def test_scd2_close_open_noop_insert(spark):
    history = _history(spark)
    updates = spark.createDataFrame(
        [
            (1, "seg-a2", "2024-06-01"),  # changed -> close + open
            (2, "seg-b", "2024-06-01"),  # identical -> no-op
            (9, "seg-new", "2024-06-01"),  # new key -> insert open
        ],
        "k long, seg string, eff string",
    )
    rows = {
        (r["k"], r["seg"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in _merge(history, updates).collect()
    }
    assert rows == {
        (1, "seg-a0"): ("2023-01-01", "2024-01-01", False),
        (1, "seg-a1"): ("2024-01-01", "2024-06-01", False),
        (1, "seg-a2"): ("2024-06-01", None, True),
        (2, "seg-b"): ("2024-01-01", None, True),
        (3, "seg-c"): ("2024-01-01", None, True),
        (9, "seg-new"): ("2024-06-01", None, True),
    }


def test_scd2_idempotent_redelivery(spark):
    """Merging the same batch into the merged result changes nothing."""
    history = _history(spark)
    updates = spark.createDataFrame(
        [(1, "seg-a2", "2024-06-01"), (9, "seg-new", "2024-06-01")],
        "k long, seg string, eff string",
    )
    once = _merge(history, updates)
    twice = _merge(once, updates)
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


def test_scd2_multi_row_batch_collapses_latest(spark):
    history = _history(spark)
    updates = spark.createDataFrame(
        [(3, "seg-c1", "2024-03-01"), (3, "seg-c2", "2024-06-01")],
        "k long, seg string, eff string",
    )
    rows = {
        (r["k"], r["seg"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in _merge(history, updates).collect()
        if r["k"] == 3
    }
    # Only the latest update applies; the intermediate never lands.
    assert rows == {
        (3, "seg-c"): ("2024-01-01", "2024-06-01", False),
        (3, "seg-c2"): ("2024-06-01", None, True),
    }


def test_scd2_broadcast_plan(spark):
    """broadcast_updates pins a broadcast join on the open slice."""
    history = _history(spark)
    updates = spark.createDataFrame(
        [(1, "seg-a2", "2024-06-01")], "k long, seg string, eff string"
    )
    merged = scd2_merge(
        history,
        updates,
        key_cols=["k"],
        tracked_cols=["seg"],
        effective_col="eff",
        broadcast_updates=True,
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_scd2_null_valid_from_still_recognized_as_history(spark):
    """Regression: an open row whose valid_from is NULL (the schema
    permits it) must be classified as EXISTING history — close + open
    on change — not misread as a brand-new key (which would emit a
    corrupted row with NULL tracked/validity columns). Presence is
    detected via literal marker columns, not data-column nullability."""
    history = spark.createDataFrame(
        [(1, "seg-a", None, None, True)],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "seg-b", "2024-06-01")], "k long, seg string, eff string"
    )
    for broadcast in (False, True):
        rows = {
            (r["k"], r["seg"]): (r["valid_from"], r["valid_to"], r["is_current"])
            for r in scd2_merge(
                history,
                updates,
                key_cols=["k"],
                tracked_cols=["seg"],
                effective_col="eff",
                broadcast_updates=broadcast,
            ).collect()
        }
        assert rows == {
            (1, "seg-a"): (None, "2024-06-01", False),  # closed, NOT dropped
            (1, "seg-b"): ("2024-06-01", None, True),
        }, f"broadcast={broadcast}"


def test_scd2_null_effective_update_is_noop(spark):
    """Regression: an update whose effective timestamp is NULL cannot
    close or open a validity interval, so it must be a no-op — NOT a
    change that closes the open row with valid_to=NULL and inserts an
    all-NULL open row (which would then double-match every fact in
    scd2_point_in_time, since valid_to NULL means open-ended). A key
    mixing NULL- and non-NULL-effective rows uses only the usable
    ones."""
    history = spark.createDataFrame(
        [(1, "seg-a", "2024-01-01", None, True), (2, "seg-b", "2024-01-01", None, True)],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "seg-x", None), (2, "seg-ignored", None), (2, "seg-b2", "2024-06-01")],
        "k long, seg string, eff string",
    )
    for broadcast in (False, True):
        rows = {
            (r["k"], r["seg"]): (r["valid_from"], r["valid_to"], r["is_current"])
            for r in scd2_merge(
                history,
                updates,
                key_cols=["k"],
                tracked_cols=["seg"],
                effective_col="eff",
                broadcast_updates=broadcast,
            ).collect()
        }
        assert rows == {
            (1, "seg-a"): ("2024-01-01", None, True),  # untouched no-op
            (2, "seg-b"): ("2024-01-01", "2024-06-01", False),
            (2, "seg-b2"): ("2024-06-01", None, True),
        }, f"broadcast={broadcast}"


def test_scd2_null_tracked_values(spark):
    """NULL tracked values compare null-safe: NULL->NULL is a no-op,
    NULL->value and value->NULL are changes."""
    history = spark.createDataFrame(
        [(1, None, "2024-01-01", None, True), (2, "x", "2024-01-01", None, True)],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, None, "2024-06-01"), (2, None, "2024-06-01")],
        "k long, seg string, eff string",
    )
    out = _merge(history, updates)
    by_key = {}
    for r in out.collect():
        by_key.setdefault(r["k"], []).append(
            (r["seg"], r["valid_from"], r["valid_to"], r["is_current"])
        )
    assert by_key[1] == [(None, "2024-01-01", None, True)]
    assert sorted(by_key[2], key=lambda t: (t[0] is not None, t)) == [
        (None, "2024-06-01", None, True),
        ("x", "2024-01-01", "2024-06-01", False),
    ]


class TestPointInTime:
    def _history(self, spark):
        return spark.createDataFrame(
            [
                (1, "a0", "2024-01-01 00:00:00", "2024-02-01 00:00:00", False),
                (1, "a1", "2024-02-01 00:00:00", None, True),
                (2, "b", "2024-01-01 00:00:00", None, True),
            ],
            "k long, seg string, valid_from string, valid_to string, is_current boolean",
        ).selectExpr(
            "k",
            "seg",
            "CAST(valid_from AS timestamp) AS valid_from",
            "CAST(valid_to AS timestamp) AS valid_to",
            "is_current",
        )

    def _facts(self, spark, rows):
        return spark.createDataFrame(rows, "k long, ts string").selectExpr(
            "k", "CAST(ts AS timestamp) AS ts"
        )

    def test_interval_selection(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.merge import (
            scd2_point_in_time,
        )

        facts = self._facts(
            spark,
            [
                (1, "2024-01-15 12:00:00"),  # inside closed interval -> a0
                (1, "2024-02-01 00:00:00"),  # boundary: >= from of a1 -> a1
                (1, "2024-03-01 00:00:00"),  # open interval -> a1
                (2, "2024-06-01 00:00:00"),  # open -> b
                (3, "2024-01-15 00:00:00"),  # unknown key -> NULL
            ],
        )
        out = scd2_point_in_time(
            facts, self._history(spark), key_cols=["k"], ts_col="ts"
        )
        got = sorted((r["k"], str(r["ts"]), r["seg"]) for r in out.collect())
        assert got == [
            (1, "2024-01-15 12:00:00", "a0"),
            (1, "2024-02-01 00:00:00", "a1"),
            (1, "2024-03-01 00:00:00", "a1"),
            (2, "2024-06-01 00:00:00", "b"),
            (3, "2024-01-15 00:00:00", None),
        ]

    def test_fact_before_history_unmatched(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.merge import (
            scd2_point_in_time,
        )

        facts = self._facts(spark, [(1, "2023-06-01 00:00:00")])
        out = scd2_point_in_time(
            facts, self._history(spark), key_cols=["k"], ts_col="ts"
        )
        assert [r["seg"] for r in out.collect()] == [None]

    def test_broadcast_plan(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.merge import (
            scd2_point_in_time,
        )

        facts = self._facts(spark, [(1, "2024-01-15 12:00:00")])
        out = scd2_point_in_time(
            facts, self._history(spark), key_cols=["k"], ts_col="ts"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestScd2Properties:
    """Hypothesis property suite: for ANY seed dimension + batch
    sequence, the distributed scd2_merge chain equals a sequential
    per-key replay, and the SCD2 structural invariants hold — per key
    exactly one open row, validity intervals partition time (each
    closed row's valid_to is the next row's valid_from), and
    re-delivering the final batch is a no-op."""

    SEGS = ["red", "green", "blue", None]  # None exercises null-safe compare

    @staticmethod
    def _key(row):
        # None-safe total order (tuples mix str and None)
        return tuple((v is None, v if v is not None else "") for v in row)

    @staticmethod
    def _replay(seed_rows, batches):
        """Sequential per-key reference (plain Python)."""
        hist = {k: [[seg, "2024-01-01", None, True]] for k, seg in seed_rows}
        for batch in batches:
            latest = {}
            for k, seg, eff in batch:
                if k not in latest or eff > latest[k][1]:
                    latest[k] = (seg, eff)
            for k, (seg, eff) in latest.items():
                rows = hist.setdefault(k, [])
                open_row = next((r for r in rows if r[3]), None)
                if open_row is None:
                    rows.append([seg, eff, None, True])
                elif open_row[0] == seg:  # None == None is a no-op
                    continue
                else:
                    open_row[2] = eff
                    open_row[3] = False
                    rows.append([seg, eff, None, True])
        return sorted(
            ((k, r[0], r[1], r[2], r[3]) for k, rows in hist.items() for r in rows),
            key=TestScd2Properties._key,
        )

    @classmethod
    def _scenario_strategy(cls):
        from hypothesis import strategies as st

        keys = st.integers(0, 5)
        segs = st.sampled_from(cls.SEGS)

        @st.composite
        def scenario(draw):
            seed_keys = draw(
                st.lists(keys, unique=True, min_size=1, max_size=5)
            )
            seed_rows = [(k, draw(segs)) for k in seed_keys]
            batches = []
            for i in range(draw(st.integers(1, 3))):
                batch = []
                for k in draw(st.lists(keys, unique=True, max_size=4)):
                    days = draw(
                        st.lists(
                            st.integers(1, 28),
                            unique=True,
                            min_size=1,
                            max_size=2,
                        )
                    )
                    for d in days:
                        batch.append((k, draw(segs), f"2024-0{i + 3}-{d:02d}"))
                batches.append(batch)
            return seed_rows, batches

        return scenario()

    def test_scd2_equals_sequential_replay(self, spark):
        from hypothesis import HealthCheck, given, settings

        schema_h = (
            "k long, seg string, valid_from string, "
            "valid_to string, is_current boolean"
        )
        schema_u = "k long, seg string, eff string"

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(self._scenario_strategy())
        def run(scenario):
            seed_rows, batches = scenario
            hist = spark.createDataFrame(
                [(k, s, "2024-01-01", None, True) for k, s in seed_rows],
                schema_h,
            )
            for i, batch in enumerate(batches):
                updates = spark.createDataFrame(batch, schema_u)
                hist = scd2_merge(
                    hist,
                    updates,
                    key_cols=["k"],
                    tracked_cols=["seg"],
                    effective_col="eff",
                    # alternate plans so both join strategies are property-checked
                    broadcast_updates=(i % 2 == 1),
                )
            got = sorted(
                (
                    (r["k"], r["seg"], r["valid_from"], r["valid_to"], r["is_current"])
                    for r in hist.collect()
                ),
                key=self._key,
            )
            expected = self._replay(seed_rows, batches)
            assert got == expected, (seed_rows, batches)

            # structural invariants on the final history
            by_key = {}
            for k, seg, vf, vt, cur in got:
                by_key.setdefault(k, []).append((vf, vt, cur))
            for k, rows in by_key.items():
                assert sum(1 for _vf, _vt, cur in rows if cur) == 1, k
                rows.sort(key=lambda r: r[0])
                for (_f1, t1, _c1), (f2, _t2, _c2) in zip(rows, rows[1:]):
                    assert t1 == f2, (k, rows)  # intervals chain exactly
                assert rows[-1][1] is None  # the open row is last

            # idempotent re-delivery of the final batch
            if batches and batches[-1]:
                updates = spark.createDataFrame(batches[-1], schema_u)
                again = scd2_merge(
                    hist,
                    updates,
                    key_cols=["k"],
                    tracked_cols=["seg"],
                    effective_col="eff",
                )
                got2 = sorted(
                    (
                        (
                            r["k"],
                            r["seg"],
                            r["valid_from"],
                            r["valid_to"],
                            r["is_current"],
                        )
                        for r in again.collect()
                    ),
                    key=self._key,
                )
                assert got2 == got, (seed_rows, batches)

        run()


class TestPointInTimeProperties:
    """Hypothesis property: for ANY SCD2 history built by the replay
    model and ANY fact timestamps (including pre-history ones),
    scd2_point_in_time picks exactly the interval containing each
    fact — verified against a brute-force per-fact lookup."""

    def test_point_in_time_equals_bruteforce(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from prioritizing_event_processing_with_apache_kafka_spark.operators.merge import (
            scd2_point_in_time,
        )

        scenario = TestScd2Properties._scenario_strategy()
        # ISO strings compare lexicographically == chronologically, so
        # the whole property runs on strings (exact across engines).
        ts_strategy = st.tuples(
            st.integers(0, 5),  # key (may be absent from history)
            st.sampled_from(
                ["2023-06-15", "2024-01-01", "2024-03-15", "2024-04-02",
                 "2024-05-28", "2024-09-01"]
            ),
        )

        @settings(
            max_examples=6,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(scenario, st.lists(ts_strategy, min_size=1, max_size=12))
        def run(scn, fact_rows):
            seed_rows, batches = scn
            hist_rows = TestScd2Properties._replay(seed_rows, batches)
            history = spark.createDataFrame(
                hist_rows,
                "k long, seg string, valid_from string, valid_to string, "
                "is_current boolean",
            )
            facts = spark.createDataFrame(
                [(i, k, ts) for i, (k, ts) in enumerate(fact_rows)],
                "fact_id long, k long, ts string",
            )
            out = {
                r["fact_id"]: r["seg"]
                for r in scd2_point_in_time(
                    facts, history, key_cols=["k"], ts_col="ts"
                ).collect()
            }
            expected = {}
            for i, (k, ts) in enumerate(fact_rows):
                seg = None
                for hk, hseg, vf, vt, _cur in hist_rows:
                    if hk == k and vf <= ts and (vt is None or ts < vt):
                        seg = hseg
                        break
                expected[i] = seg
            assert out == expected, (seed_rows, batches, fact_rows)

        run()


