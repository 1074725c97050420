"""Lifetime round-robin: the counter must continue across micro-batches
exactly like the reference's per-bucket AtomicInteger
(``Bucket.java:14,22-29``). ``streaming/lifetime.py`` is the package's
one lifetime-exact router; these tests drive it through real file
streams, including a sink crash between the write and the commit."""

from __future__ import annotations

import collections
import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import route
from prioritizing_event_processing_with_apache_kafka_spark.streaming.lifetime import (
    lifetime_foreach_batch,
    load_counters,
    route_batch_lifetime,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.route_stream import (
    route_stream,
    routed_foreach_batch,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.sinks import (
    idempotent_parquet_sink,
    read_idempotent_output,
)

CFG = BucketPriorityConfig(
    topic="events", buckets=["Platinum", "Gold"], allocation=[70, 30]
)
# layout over 10 partitions: Platinum=[0..6] (7), Gold=[7..9] (3)
LAYOUT = {"Platinum": (0, 7), "Gold": (7, 3)}

SCHEMA = "event_id long, ts timestamp, user_id long, key string"


@pytest.fixture()
def dirs():
    paths = [
        tempfile.mkdtemp(prefix=f"peps-lifetime-{p}-")
        for p in ("src", "chk", "state")
    ]
    yield paths
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def chunk(spark, src, n0, n, bucket="Platinum"):
    """One parquet drop of events ``n0..n0+n-1``; ``bucket`` may be a
    tuple of bucket names, cycled over the events."""
    names = (bucket,) if isinstance(bucket, str) else bucket
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=i), 1, f"{names[i % len(names)]}-{i}")
        for i in range(n0, n0 + n)
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)


def start_lifetime(spark, dirs, sink=None):
    """Start ``lifetime_foreach_batch`` over the parquet drops in the
    source dir, one file per micro-batch. Returns ``(query, rows)``;
    without a ``sink``, ``rows`` collects every routed row."""
    src, chk, state = dirs
    rows = []

    def collect(batch_df, batch_id):
        rows.extend(batch_df.collect())

    source = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        source.writeStream.foreachBatch(
            lifetime_foreach_batch(
                CFG, 10, sink or collect, state_dir=state, order_col="event_id"
            )
        )
        .option("checkpointLocation", chk)
        .start()
    )
    return q, rows


def test_counter_continues_across_micro_batches(spark, dirs):
    src = dirs[0]
    chunk(spark, src, 0, 5)  # 5 Platinum records before the query starts
    q, routed = start_lifetime(spark, dirs)
    try:
        q.processAllAvailable()
        first = {r["event_id"]: (r["seq"], r["partition"]) for r in routed}
        # batch 1: seq 0..4 → partitions 0..4 (Platinum lo=0, size=7)
        assert first == {i: (i, i) for i in range(5)}

        chunk(spark, src, 100, 5)  # second micro-batch
        q.processAllAvailable()
        both = {r["event_id"]: (r["seq"], r["partition"]) for r in routed}
        # batch 2 CONTINUES the counter: seq 5..9 → partitions 5, 6, 0, 1, 2
        assert both[100] == (5, 5)
        assert both[101] == (6, 6)
        assert both[102] == (7, 0)  # wraps at bucket size 7
        assert both[103] == (8, 1)
        assert both[104] == (9, 2)
    finally:
        q.stop()


def test_buckets_keep_independent_counters(spark, dirs):
    src = dirs[0]
    chunk(spark, src, 0, 3, "Platinum")
    chunk(spark, src, 50, 4, "Gold")
    q, rows = start_lifetime(spark, dirs)
    try:
        q.processAllAvailable()
        platinum = sorted(
            (r["seq"], r["partition"]) for r in rows if r["bucket"] == "Platinum"
        )
        gold = sorted((r["seq"], r["partition"]) for r in rows if r["bucket"] == "Gold")
        assert platinum == [(0, 0), (1, 1), (2, 2)]
        # Gold lo=7 size=3: seq 0..3 → 7, 8, 9, wrap to 7
        assert gold == [(0, 7), (1, 8), (2, 9), (3, 7)]
    finally:
        q.stop()


def test_unknown_bucket_gets_null_partition(spark, dirs):
    chunk(spark, dirs[0], 0, 2, "Silver")
    q, rows = start_lifetime(spark, dirs)
    try:
        q.processAllAvailable()
        assert len(rows) == 2
        assert all(r["partition"] is None for r in rows)
    finally:
        q.stop()


def test_counter_state_equals_rows_routed_per_bucket(spark, dirs):
    """The lifetime counters are a small JSON file per micro-batch;
    ``load_counters(state_dir, b)`` is the ops path for inspecting the
    live counter state, and after batch b it must equal the number of
    rows routed per bucket so far, unknown buckets included."""
    src, _, state = dirs
    chunk(spark, src, 0, 7, "Platinum")
    q, rows = start_lifetime(spark, dirs)
    try:
        q.processAllAvailable()
        assert load_counters(state, 0) == {"Platinum": 7}
        chunk(spark, src, 50, 3, "Gold")
        q.processAllAvailable()
        chunk(spark, src, 80, 2, "Silver")
        q.processAllAvailable()
    finally:
        q.stop()
    routed = collections.Counter(r["bucket"] for r in rows)
    assert load_counters(state, 2) == dict(routed)
    assert dict(routed) == {"Platinum": 7, "Gold": 3, "Silver": 2}


# ---------------------------------------------------------------------------
# Counter-block reservation + distributed rank must reproduce the
# reference's sequence bit-exactly with no per-bucket task funnel.
# ---------------------------------------------------------------------------


def next_partition_model(batches):
    """``Bucket.nextPartition`` in plain Python: one lifetime counter
    per group (the NULL-key group and unknown buckets included) and
    ``partition = lo + n % size``, NULL outside the layout. Returns
    ``({event_id: (key, bucket, partition, seq)}, counters)``."""
    counters = collections.Counter()
    out = {}
    for rows in batches:
        for event_id, _ts, _user, key in sorted(rows):
            bucket = None if key is None else key.split(CFG.delimiter)[0].strip()
            n = counters[bucket]
            counters[bucket] += 1
            lo_size = LAYOUT.get(bucket)
            partition = None if lo_size is None else lo_size[0] + n % lo_size[1]
            out[event_id] = (key, bucket, partition, n)
    return out, dict(counters)


def test_lifetime_batch_matches_reference_model(spark):
    """route_batch_lifetime chained over two batches must equal the
    plain-Python counter model per event: same seq, same partition,
    same bucket — including the NULL-key group, an unknown bucket, and
    the cross-batch continuation."""
    _check_lifetime_batch_matches_reference_model(spark)


def test_lifetime_batch_matches_reference_model_forced_ranges(spark, exact_ranges, aqe):
    """The same check with the kernel's range-partition count forced,
    under AQE on and off."""
    _check_lifetime_batch_matches_reference_model(spark)


def _check_lifetime_batch_matches_reference_model(spark):
    base = dt.datetime(2024, 1, 1)

    def rows(n0, n):
        out = []
        for i in range(n0, n0 + n):
            key = (
                None
                if i % 7 == 3
                else ("Silver" if i % 5 == 4 else ["Platinum", "Gold"][i % 2])
                + f"-{i}"
            )
            out.append((i, base + dt.timedelta(seconds=i), 1, key))
        return out

    batches = [rows(0, 13), rows(13, 11)]
    got = {}
    counters = None
    for batch in batches:
        routed, counters = route_batch_lifetime(
            spark.createDataFrame(batch, SCHEMA), CFG, 10, counters
        )
        got.update(
            {
                r["event_id"]: (r["key"], r["bucket"], r["partition"], r["seq"])
                for r in routed.collect()
            }
        )
    expect, expect_counters = next_partition_model(batches)
    assert got == expect
    # the advanced counters equal the per-group row totals
    assert counters == expect_counters
    assert sum(counters.values()) == 24


def test_exact_routers_write_no_session_conf(spark, monkeypatch):
    """Neither exact router may write a session conf: concurrent
    foreachBatch queries share the session, and two interleaved
    set/restore pairs leave the session with one query's temporary
    value for good."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    real_set = RuntimeConfig.set

    def record(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    df = spark.createDataFrame(
        [(i, ["Platinum", "Gold"][i % 2] + f"-{i}") for i in range(20)],
        "event_id long, key string",
    )
    route(df, CFG, 10, order_col="event_id", mode="exact").collect()
    routed, _counters = route_batch_lifetime(df, CFG, 10, {"Gold": 3})
    routed.collect()
    assert calls == []


def test_lifetime_starved_bucket_parity(spark):
    """A bucket with 0 partitions must route to -1 (reference
    fall-through, Bucket.nextPartition returning -1)."""
    cfg = BucketPriorityConfig(
        topic="events", buckets=["Big", "Tiny"], allocation=[99, 1]
    )
    # 2 partitions: Big gets both, Tiny starves (size 0)
    df = spark.createDataFrame(
        [(0, "Tiny-a"), (1, "Big-a"), (2, "Tiny-b")], "event_id long, key string"
    )
    routed, counters = route_batch_lifetime(df, cfg, 2)
    got = {r["event_id"]: (r["partition"], r["seq"]) for r in routed.collect()}
    assert got == {0: (-1, 0), 1: (0, 0), 2: (-1, 1)}
    assert counters == {"Big": 1, "Tiny": 2}


def test_lifetime_foreach_batch_restart_continuity(spark, dirs, tmp_path):
    """6 micro-batches, stop, 5 more from the same checkpoint + counter
    dir — seq must be the unbroken global arrival order and partition =
    seq % 7 (Platinum lo=0 size=7)."""
    out = str(tmp_path / "out")
    per_batch = 4

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    def run(n_batches, first_batch):
        q, _ = start_lifetime(spark, dirs, sink)
        try:
            for b in range(first_batch, first_batch + n_batches):
                chunk(spark, dirs[0], b * 100, per_batch)
                q.processAllAvailable()
        finally:
            q.stop()

    run(6, 0)
    run(5, 6)
    combined = {
        r["event_id"]: (r["seq"], r["partition"])
        for r in spark.read.parquet(out).collect()
    }
    assert len(combined) == 11 * per_batch
    by_arrival = sorted(combined)
    seqs = [combined[e][0] for e in by_arrival]
    assert seqs == list(range(11 * per_batch))
    assert all(combined[e][1] == combined[e][0] % 7 for e in by_arrival)


# ---------------------------------------------------------------------------
# Sink crash between the write and the offset commit: the query restarts
# from its checkpoint, Structured Streaming replays the same batch id, and
# the output must equal a no-fault run exactly once.
# ---------------------------------------------------------------------------


def crash_once_after_write(sink, crash_at, attempts):
    """Wrap a ``foreachBatch`` sink: the first attempt of batch
    ``crash_at`` raises right after the inner write, like a driver that
    dies before the offset commit. ``attempts[b]`` records the rows each
    attempt of batch ``b`` wrote."""

    def write(batch_df, batch_id):
        sink(batch_df, batch_id)
        attempts.setdefault(batch_id, []).append(
            {r["event_id"]: tuple(r) for r in batch_df.collect()}
        )
        if batch_id == crash_at and len(attempts[batch_id]) == 1:
            raise RuntimeError("injected crash between sink write and commit")

    return write


def drain_files(spark, src, chk, foreach, transform=None):
    """Drain every drop in ``src`` (one file per micro-batch) through
    ``foreach``, restarting from the same checkpoint after a failed
    micro-batch. ``transform``, if given, maps the source stream before
    the sink. Returns the number of restarts."""
    for restarts in range(2):
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        if transform is not None:
            stream = transform(stream)
        q = (
            stream.writeStream.foreachBatch(foreach)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
            return restarts
        except StreamingQueryException:
            pass
        finally:
            q.stop()
    raise AssertionError("the restarted query failed again")


def crash_and_compare(spark, dirs, tmp_path, make_write, transform=None):
    """Drain three mixed Platinum/Gold micro-batches through
    ``make_write(sink, state_dir)`` twice: once with the sink crashing
    after batch 1's first write and the query restarted from the same
    checkpoint, once with no fault. ``transform`` maps the source
    stream in both runs (see ``drain_files``). The replayed batch must
    route identically and the two outputs must match row for row.
    Returns the crashed run's output, sorted by event_id."""
    src, chk, state = dirs
    for b in range(3):
        chunk(spark, src, b * 100, 6, ("Platinum", "Gold"))
    out, clean = str(tmp_path / "out"), str(tmp_path / "clean")
    attempts = {}
    faulty = crash_once_after_write(idempotent_parquet_sink(out), 1, attempts)
    assert drain_files(spark, src, chk, make_write(faulty, state), transform) == 1
    no_fault = make_write(idempotent_parquet_sink(clean), str(tmp_path / "state"))
    assert drain_files(spark, src, str(tmp_path / "chk"), no_fault, transform) == 0

    assert len(attempts[1]) == 2 and attempts[1][0] == attempts[1][1]
    got = sorted(read_idempotent_output(spark, out).collect())
    assert got == sorted(read_idempotent_output(spark, clean).collect())
    assert len(got) == 18
    return got


def test_lifetime_sink_crash_restart_is_exactly_once(spark, dirs, tmp_path):
    got = crash_and_compare(
        spark,
        dirs,
        tmp_path,
        lambda sink, state: lifetime_foreach_batch(
            CFG, 10, sink, state_dir=state, order_col="event_id"
        ),
    )
    per_bucket = collections.defaultdict(list)
    for r in got:  # arrival order
        per_bucket[r["bucket"]].append(r["seq"])
    for seqs in per_bucket.values():
        assert seqs == list(range(len(seqs)))  # no gap, no repeat
    assert load_counters(dirs[2], 2) == {b: len(s) for b, s in per_bucket.items()}


def test_routed_foreach_batch_sink_crash_replays_identically(spark, dirs, tmp_path):
    crash_and_compare(
        spark,
        dirs,
        tmp_path,
        lambda sink, _state: routed_foreach_batch(
            CFG, 10, sink, order_col="event_id"
        ),
    )


def test_route_stream_sink_crash_restart_is_exactly_once(spark, dirs, tmp_path):
    """The stateless streaming router, restarted from its checkpoint
    after a sink crash, writes every event exactly once, on the same
    partition as a no-fault run: ``spread`` routes by the event's own
    sequence column, so the replayed batch routes identically."""
    got = crash_and_compare(
        spark,
        dirs,
        tmp_path,
        lambda sink, _state: sink,
        transform=lambda stream: route_stream(
            stream, CFG, 10, mode="spread", seq_col="event_id"
        ),
    )
    assert [r["event_id"] for r in got] == sorted(
        b * 100 + i for b in range(3) for i in range(6)
    )
    for r in got:
        lo, size = LAYOUT[r["bucket"]]
        assert lo <= r["partition"] < lo + size


def test_lifetime_missing_state_raises(spark):
    assert load_counters("/nonexistent-peps-state", -1) == {}
    with pytest.raises(RuntimeError, match="counter state for batch 4"):
        load_counters("/nonexistent-peps-state", 4)


def test_declared_lifetime_query_matches_batch_exact_router(spark):
    """The declared `stream_route_lifetime` query (VERDICT r12 item 1)
    must be bit-identical to the batch exact-mode router: the two-batch
    replay through counter-block reservation IS the lifetime
    AtomicInteger sequence, so both paths share the
    `route_events_exact` oracle."""
    from prioritizing_event_processing_with_apache_kafka_spark.inventory import (
        q_route_events_exact,
        q_stream_route_lifetime,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_id"]: (r["bucket"], r["partition"])
        for r in q_stream_route_lifetime(spark, sf).collect()
    }
    expect = {
        r["event_id"]: (r["bucket"], r["partition"])
        for r in q_route_events_exact(spark, sf).collect()
    }
    assert got == expect
