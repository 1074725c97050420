"""Hypothesis property suites for the round-7 second/third-batch
operators, each checked against an INDEPENDENT single-node reference
(a different derivation, not the same formula re-typed) — the guard
that caught the NB dense-grid bug, applied to the new surface:

- drain schedule: closed-form tick vs an actual poll-loop simulation;
- gap fill: Spark windows vs a pure-Python per-key interpolation.
"""

from __future__ import annotations

from prioritizing_event_processing_with_apache_kafka_spark.operators.drain import (
    consumer_map_table,
    drain_schedule,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
    gap_fill_interpolate,
)


def test_property_drain_tick_matches_poll_loop(spark):
    """The closed form `(pos-1)*owned + poll_idx + 1` prices the
    fixed-stride poll model; this SIMULATES that model — consumers
    visiting their partitions cyclically, one tick per poll, idle
    polls preserved — and requires exact agreement on every event."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    shapes = st.lists(  # events per partition, partition id = index
        st.integers(min_value=0, max_value=5), min_size=1, max_size=6
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(shapes, st.randoms(use_true_random=False))
    def run(depths, rnd):
        partitions = list(range(len(depths)))
        consumers = [f"c{i}" for i in range(rnd.randint(1, len(depths)))]
        owner = {p: rnd.choice(consumers) for p in partitions}
        plan = {c: [] for c in consumers}
        for p, c in owner.items():
            plan[c].append(("t", p))
        rows = []
        eid = 0
        for p, depth in enumerate(depths):
            for _ in range(depth):
                rows.append((eid, "B", p))
                eid += 1
        if not rows:
            return
        routed = spark.createDataFrame(
            rows, "event_id long, bucket string, partition int"
        )
        cmap = consumer_map_table(spark, plan, topic="t")
        got = {
            r.event_id: (r.consumer, r.drain_tick)
            for r in drain_schedule(routed, cmap, allow_small_scale=True).collect()
        }
        # simulate: each consumer polls its owned partitions (id asc)
        # cyclically, one tick per poll, idle polls preserved
        want = {}
        queues = {
            p: [e for e, _, pp in rows if pp == p] for p in partitions
        }
        for c in consumers:
            owned = sorted(p for t, p in plan[c])
            if not owned:
                continue
            tick = 0
            while any(queues[p] for p in owned):
                for p in owned:
                    tick += 1
                    if queues[p]:
                        want[queues[p].pop(0)] = (c, tick)
        assert got == want

    run()


def test_property_gap_fill_matches_python_reference(spark):
    """Random sparse per-key hourly observations: the Spark spine +
    bracket windows must reproduce a dict-based forward/backward scan
    with the same interpolation arithmetic, exactly."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    base = datetime(2024, 1, 1)
    obs = st.dictionaries(  # hour offset -> (count, cents)
        st.integers(min_value=0, max_value=20),
        st.tuples(
            st.integers(min_value=1, max_value=9),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=8,
    )
    keyed = st.dictionaries(
        st.sampled_from(["a", "b", "c"]), obs, min_size=1, max_size=3
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(keyed)
    def run(data):
        rows = [
            (k, base + timedelta(hours=h), n, v)
            for k, o in data.items()
            for h, (n, v) in o.items()
        ]
        hourly = spark.createDataFrame(
            rows,
            "event_type string, hour timestamp, n_events long, value_cents long",
        )
        got = {
            (r.event_type, r.hour): (r.n_events, r.filled, r.is_gap)
            for r in gap_fill_interpolate(hourly).collect()
        }
        want = {}
        for k, o in data.items():
            hours = sorted(o)
            for h in range(hours[0], hours[-1] + 1):
                ts = base + timedelta(hours=h)
                if h in o:
                    n, v = o[h]
                    want[(k, ts)] = (n, round(float(v), 6), False)
                else:
                    prev_h = max(x for x in hours if x < h)
                    next_h = min(x for x in hours if x > h)
                    pv, nv = float(o[prev_h][1]), float(o[next_h][1])
                    filled = pv + (nv - pv) * (
                        float(h - prev_h) / float(next_h - prev_h)
                    )
                    want[(k, ts)] = (0, round(filled, 6), True)
        assert got == want

    run()
