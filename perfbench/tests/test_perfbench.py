"""Fast checks of the benchmark's own helpers (no Spark session).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))

import common  # noqa: E402
import gen  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


class TestGenerator:
    def test_same_seed_gives_byte_identical_files(self, tmp_path):
        a, _ = gen.keyed_events(7, 5000)
        b, _ = gen.keyed_events(7, 5000)
        pa_ = gen.write_parquet(a, str(tmp_path / "a"), files=2)
        pb_ = gen.write_parquet(b, str(tmp_path / "b"), files=2)
        assert [_digest(p) for p in pa_] == [_digest(p) for p in pb_]
        ea = tmp_path / "ea.parquet"
        eb = tmp_path / "eb.parquet"
        import pyarrow.parquet as pq

        pq.write_table(gen.events_table(7, 3000), str(ea))
        pq.write_table(gen.events_table(7, 3000), str(eb))
        assert _digest(str(ea)) == _digest(str(eb))

    def test_other_seed_gives_other_events(self):
        a, _ = gen.keyed_events(7, 2000)
        b, _ = gen.keyed_events(8, 2000)
        assert a.column("key").to_pylist() != b.column("key").to_pylist()

    def test_planted_status_counts_are_exact(self):
        n = 10_000
        table, cats = gen.keyed_events(3, n)
        counts = np.bincount(cats, minlength=len(gen.CATEGORIES))
        assert dict(zip(gen.CATEGORIES, counts.tolist())) == gen.category_counts(n)
        assert sum(gen.status_counts(n).values()) == n
        assert all(v > 0 for v in gen.status_counts(n).values())
        keys = table.column("key").to_pylist()
        topics = table.column("topic").to_pylist()
        for key, topic, cat in zip(keys, topics, cats.tolist()):
            name = gen.CATEGORIES[cat]
            assert (key is None) == (name == "null_key")
            assert (topic == gen.FOREIGN_TOPIC) == (name == "foreign")
            if name == "starved":
                assert key.split("-")[0].strip() == gen.STARVED_BUCKET

    def test_platinum_is_the_minority(self):
        c = gen.category_counts(100_000)
        assert c["Platinum"] < c["Gold"] < c["Standard"]

    def test_starved_bucket_has_no_partitions(self):
        from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import (
            compute_layout,
        )

        cfg = gen.bench_config()
        layout = {r.bucket: r for r in compute_layout(
            gen.NUM_PARTITIONS, cfg.buckets_with_allocation(), topic=cfg.topic)}
        assert layout[gen.STARVED_BUCKET].size == 0
        assert all(layout[b].size > 0 for b in ("Platinum", "Gold", "Standard"))

    def test_payload_carries_event_id(self):
        table, _ = gen.keyed_events(1, 100, first_id=5000)
        values = table.column("value").to_pylist()
        assert [int(v[:12]) for v in values] == list(range(5000, 5100))
        assert len(set(values)) == 100

    def test_exact_partitions_round_robin(self):
        cats = np.array([gen.CATEGORIES.index(c) for c in
                         ["Gold", "Gold", "foreign", "Gold", "Gold", "Platinum"]])

        class R:
            def __init__(self, bucket, lo, size):
                self.bucket, self.partition_lo, self.size = bucket, lo, size

        layout = [R("Platinum", 0, 5), R("Gold", 5, 3), R("Standard", 8, 2)]
        assert gen.exact_partitions(cats, layout).tolist() == [5, 6, -1, 7, 5, 0]


class TestPercentiles:
    def test_linear_interpolation(self):
        xs = list(range(1, 101))
        assert common.percentile(xs, 50) == pytest.approx(50.5)
        assert common.percentile(xs, 0) == 1
        assert common.percentile(xs, 100) == 100
        assert common.percentile(xs, 95) == pytest.approx(float(np.percentile(xs, 95)))

    def test_tail_needs_ten_samples_beyond(self):
        assert common.tail_percentile(list(range(1000)))[0] == 99.0
        assert common.tail_percentile(list(range(999)))[0] == 95.0
        assert common.tail_percentile(list(range(200)))[0] == 95.0
        assert common.tail_percentile(list(range(199)))[0] == 90.0
        assert common.tail_percentile(list(range(40)))[0] == 75.0
        assert common.tail_percentile(list(range(20)))[0] == 50.0

    def test_tail_falls_back_to_max(self):
        assert common.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)


class TestOpenLoop:
    def test_stall_shows_as_lateness_on_later_sends(self):
        offsets = [i * 0.01 for i in range(10)]

        def send(k):
            if k == 3:
                time.sleep(0.08)  # the system under test stalls the sender

        due, sent = common.open_loop(offsets, send, time.perf_counter() + 0.01)
        late = common.lateness(due, sent)
        assert due == sorted(due)
        assert [d2 - d1 for d1, d2 in zip(due, due[1:])] == pytest.approx([0.01] * 9, abs=1e-9)
        assert max(late[:3]) < 0.05
        assert late[3] >= 0.075
        assert late[4] >= 0.06  # due while the stall lasted: still late
        assert late[-1] < 0.05  # the schedule did not shift

    def test_backlog_counts_uncommitted_earlier_sends(self):
        sent = [0.0, 1.0, 2.0, 3.0]
        committed = [2.5, 2.5, 2.5, 3.5]
        assert common.backlog_at(sent, committed) == [0, 1, 2, 0]


class TestTracer:
    def test_disabled_records_nothing(self):
        tr = common.Tracer(False)
        with tr.span("x", "a"):
            pass
        tr.add("y", "b", 0.0, 1.0)
        assert tr.spans == []

    def test_self_time_subtracts_children(self):
        tr = common.Tracer(True)
        with tr.span("outer", "bench", "g1"):
            with tr.span("inner", "operators", "g1"):
                time.sleep(0.03)
        st = tr.self_times()
        assert st["operators"] >= 0.03
        assert st["bench"] < 0.02
        inner = next(s for s in tr.spans if s["name"] == "inner")
        outer = next(s for s in tr.spans if s["name"] == "outer")
        assert inner["parent"] == outer["id"]

    def test_group_containment_links_spans_from_other_threads(self):
        import threading

        tr = common.Tracer(True)

        def sink():
            with tr.span("sink_write", "sinks", "mb-1"):
                time.sleep(0.03)

        start = time.perf_counter()
        th = threading.Thread(target=sink)
        th.start()
        th.join()
        time.sleep(0.01)
        tr.add("micro_batch", "streaming", start, time.perf_counter(), group="mb-1")
        st = tr.self_times()
        assert st["sinks"] >= 0.03
        assert st["streaming"] < 0.03


def test_expected_digest_counts_multiplicity():
    assert common.expected_digest([1, 2, 3]) == (3, 3, 6, 14)
    assert common.expected_digest(np.array([1, 2, 3]), times=2) == (6, 3, 12, 28)
