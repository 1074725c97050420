"""Routing-operator tests.

Each scenario replays a behavioral assertion from the reference's
``BucketPriorityPartitionerTest`` (MockProducer-based), re-expressed
over in-memory DataFrames: records carry ``(record_id, topic, key)``;
routing must land them on the same partitions the reference chooses.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    layout_table,
    route,
    routed_distribution,
)


def make_records(spark, keys, topic="orders"):
    rows = [(i, topic, k) for i, k in enumerate(keys)]
    return spark.createDataFrame(rows, "record_id long, topic string, key string")


def routed_map(df):
    return {r["record_id"]: (r["bucket"], r["partition"], r["route_status"]) for r in df.collect()}


CFG_3B = dict(topic="orders", buckets=["B1", "B2", "B3"], allocation=["50%", "30%", "20%"])


class TestRoutingExactMode:
    def test_records_land_in_own_bucket_range(self, spark):
        # BucketPriorityPartitionerTest.java:110-183 — 10 records per
        # bucket over 10 partitions, 50/30/20: every record must land in
        # its own bucket's partition range.
        cfg = BucketPriorityConfig(**CFG_3B)
        keys = [f"B{b}-{i}" for b in (1, 2, 3) for i in range(10)]
        out = route(
            make_records(spark, keys), cfg, 10,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        ranges = {"B1": range(0, 5), "B2": range(5, 8), "B3": range(8, 10)}
        for rid, (bucket, partition, status) in routed_map(out).items():
            assert status == "routed"
            assert partition in ranges[bucket], (rid, bucket, partition)

    def test_starved_bucket_routes_to_minus_one(self, spark):
        # BucketPriorityPartitionerTest.java:186-262 — 55/40/5 over 10:
        # B3 has no partitions; its records get partition -1 (dropped).
        cfg = BucketPriorityConfig(
            topic="orders", buckets=["B1", "B2", "B3"], allocation=["55%", "40%", "5%"]
        )
        keys = [f"B{b}-{i}" for b in (1, 2, 3) for i in range(10)]
        out = route(
            make_records(spark, keys), cfg, 10,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        for rid, (bucket, partition, status) in routed_map(out).items():
            if bucket == "B3":
                assert (partition, status) == (-1, "starved")
            elif bucket == "B1":
                assert partition in range(0, 6) and status == "routed"
            else:
                assert partition in range(6, 10) and status == "routed"

    def test_exact_round_robin_uniformity(self, spark):
        # BucketPriorityPartitionerTest.java:344-419 — 80/20 over 10:
        # 32 B1 records over 8 partitions → exactly 4 each;
        # 32 B2 records over 2 partitions → exactly 16 each.
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1", "B2"], allocation=[80, 20])
        keys = [f"B1-{i}" for i in range(32)] + [f"B2-{i}" for i in range(32)]
        out = route(
            make_records(spark, keys), cfg, 10,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        dist = {
            (r["bucket"], r["partition"]): r["record_count"]
            for r in routed_distribution(out).collect()
        }
        assert dist == {**{("B1", p): 4 for p in range(8)}, **{("B2", p): 16 for p in (8, 9)}}

    def test_layout_rebuild_on_partition_increase(self, spark):
        # BucketPriorityPartitionerTest.java:421-567 — after 10→20
        # partitions: B1=[0..15] at 2 records/partition (32 records),
        # B2=[16..19] at 8 records/partition (32 records).
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1", "B2"], allocation=[80, 20])
        keys = [f"B1-{i}" for i in range(32)] + [f"B2-{i}" for i in range(32)]
        out = route(
            make_records(spark, keys), cfg, 20,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        dist = {
            (r["bucket"], r["partition"]): r["record_count"]
            for r in routed_distribution(out).collect()
        }
        assert dist == {
            **{("B1", p): 2 for p in range(16)},
            **{("B2", p): 8 for p in range(16, 20)},
        }

    def test_round_robin_sequence_is_deterministic(self, spark):
        # Counter starts at -1 ⇒ first record → first partition of the
        # bucket (Bucket.java:19,22-29), then strictly cycling.
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1", "B2"], allocation=[50, 50])
        keys = [f"B1-{i}" for i in range(6)]
        out = route(
            make_records(spark, keys), cfg, 4,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        got = [routed_map(out)[i][1] for i in range(6)]
        assert got == [0, 1, 0, 1, 0, 1]


class TestFallThrough:
    def test_topic_guard(self, spark):
        # BucketPriorityPartitionerTest.java — records on another topic
        # bypass bucket routing (UNKNOWN_PARTITION → NULL partition)
        # but are NOT this config's business: status 'bypassed'.
        cfg = BucketPriorityConfig(**CFG_3B)
        df = make_records(spark, ["B1-1", "B1-2"], topic="other-topic")
        out = route(df, cfg, 10, topic_col="topic", order_col="record_id", mode="exact")
        for _, (bucket, partition, status) in routed_map(out).items():
            assert bucket is None and partition is None and status == "bypassed"

    def test_discard_never_drops_foreign_topics(self, spark):
        # reference parity: foreign-topic records fall through to the
        # producer's own partitioner and are still produced — discard
        # mode must only drop unroutable records OF the bucket topic.
        cfg = BucketPriorityConfig(**CFG_3B, on_unroutable="discard")
        rows = [
            (0, "orders", "B1-1"),        # routed
            (1, "orders", "Silver-1"),    # unroutable → dropped
            (2, "other", "whatever"),     # bypassed → kept
        ]
        df = spark.createDataFrame(rows, "record_id long, topic string, key string")
        out = route(df, cfg, 10, topic_col="topic", order_col="record_id", mode="exact")
        kept = routed_map(out)
        assert set(kept) == {0, 2}
        assert kept[2][2] == "bypassed"

    def test_unknown_bucket_falls_through(self, spark):
        cfg = BucketPriorityConfig(**CFG_3B)
        out = route(
            make_records(spark, ["Silver-1", "B1-1"]), cfg, 10,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        rm = routed_map(out)
        assert rm[0] == ("Silver", None, "unroutable")
        assert rm[1][2] == "routed"

    def test_null_key_falls_through(self, spark):
        cfg = BucketPriorityConfig(**CFG_3B)
        out = route(
            make_records(spark, [None, "B1-1"]), cfg, 10,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        assert routed_map(out)[0] == (None, None, "unroutable")

    def test_key_shapes(self, spark):
        # README.md:65-69 key shapes + trim semantics (P1).
        cfg = BucketPriorityConfig(
            topic="orders", buckets=["Platinum", "Gold"], allocation=[70, 30]
        )
        keys = ["Platinum", "Platinum-001", "Platinum-Group01-001", " Platinum -1"]
        out = route(
            make_records(spark, keys), cfg, 6,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        for _, (bucket, partition, status) in routed_map(out).items():
            assert bucket == "Platinum" and status == "routed" and partition in range(4)

    def test_discard_mode_drops_unroutable(self, spark):
        cfg = BucketPriorityConfig(**CFG_3B, on_unroutable="discard")
        out = route(
            make_records(spark, ["Silver-1", "B1-1", None]), cfg, 10,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        assert [r["record_id"] for r in out.collect()] == [1]

    def test_regex_delimiter_footgun_parity(self, spark):
        # The delimiter is a REGEX in both the reference (String.split)
        # and here (F.split): an unescaped '|' matches between every
        # character, so the extracted bucket is the empty string after
        # the first zero-width split → unroutable. The escaped form
        # works. Documented footgun, reproduced bit-for-bit.
        cfg_raw = BucketPriorityConfig(
            topic="orders", buckets=["B1", "B2"], allocation=[50, 50], delimiter="|"
        )
        out = route(
            make_records(spark, ["B1|7"]), cfg_raw, 4,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        assert routed_map(out)[0][2] == "unroutable"
        cfg_escaped = BucketPriorityConfig(
            topic="orders", buckets=["B1", "B2"], allocation=[50, 50], delimiter="\\|"
        )
        out = route(
            make_records(spark, ["B1|7"]), cfg_escaped, 4,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        assert routed_map(out)[0] == ("B1", 0, "routed")

    def test_custom_delimiter(self, spark):
        cfg = BucketPriorityConfig(
            topic="orders", buckets=["B1", "B2"], allocation=[50, 50], delimiter="_"
        )
        out = route(
            make_records(spark, ["B1_7", "B2_9"]), cfg, 4,
            topic_col="topic", order_col="record_id", mode="exact",
        )
        rm = routed_map(out)
        assert rm[0][0] == "B1" and rm[1][0] == "B2"


class TestScalableModes:
    @pytest.mark.parametrize("mode", ["spread", "hash"])
    def test_modes_stay_in_bucket_range(self, spark, mode):
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1", "B2"], allocation=[80, 20])
        keys = [f"B1-{i}" for i in range(200)] + [f"B2-{i}" for i in range(200)]
        out = route(make_records(spark, keys), cfg, 10, topic_col="topic", mode=mode)
        ranges = {"B1": range(0, 8), "B2": range(8, 10)}
        for _, (bucket, partition, status) in routed_map(out).items():
            assert status == "routed" and partition in ranges[bucket]

    def test_spread_mode_is_reasonably_uniform(self, spark):
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1"], allocation=[100])
        keys = [f"B1-{i}" for i in range(800)]
        out = route(make_records(spark, keys), cfg, 8, topic_col="topic", mode="spread")
        counts = [
            r["record_count"] for r in routed_distribution(out).collect()
        ]
        assert len(counts) == 8
        # each task round-robins independently → near-uniform overall
        assert max(counts) - min(counts) <= len(counts) * 4

    def test_hash_mode_is_sticky(self, spark):
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1"], allocation=[100])
        df = make_records(spark, ["B1-a", "B1-a", "B1-a", "B1-b"])
        out = route(df, cfg, 8, topic_col="topic", mode="hash")
        parts = [routed_map(out)[i][1] for i in range(3)]
        assert len(set(parts)) == 1


class TestNullSequence:
    def test_null_order_col_in_spread_mode_is_unroutable(self, spark):
        # a NULL sequence value can't compute a partition — must be
        # audited as unroutable, never reported 'routed' with NULL.
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1"], allocation=[100])
        df = spark.createDataFrame(
            [(None, "orders", "B1-0"), (1, "orders", "B1-1")],
            "record_id long, topic string, key string",
        )
        out = route(df, cfg, 4, topic_col="topic", order_col="record_id", mode="spread")
        rows = {r["key"]: (r["partition"], r["route_status"]) for r in out.collect()}
        assert rows["B1-0"] == (None, "unroutable")
        assert rows["B1-1"][1] == "routed"


class TestColumnSafety:
    def test_user_columns_shadowing_layout_names_survive(self, spark):
        # the layout join must not clobber or drop user columns that
        # happen to share names with the layout table
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1"], allocation=[100])
        df = spark.createDataFrame(
            [(0, "orders", "B1-0", 999, 77)],
            "record_id long, topic string, key string, allocation long, bucket_size long",
        )
        out = route(df, cfg, 4, topic_col="topic", order_col="record_id", mode="exact")
        row = out.first()
        assert row["allocation"] == 999 and row["bucket_size"] == 77
        assert row["partition"] == 0 and row["route_status"] == "routed"


class TestLayoutTable:
    def test_layout_table_rows(self, spark):
        cfg = BucketPriorityConfig(
            topic="orders", buckets=["B1", "B2", "B3"], allocation=[55, 40, 5]
        )
        rows = layout_table(spark, cfg, 10).orderBy("priority_rank").collect()
        got = [
            (r["bucket"], r["partition_lo"], r["partition_hi"], r["bucket_size"]) for r in rows
        ]
        assert got == [("B1", 0, 5, 6), ("B2", 6, 9, 4), ("B3", None, None, 0)]


class TestExactModeDistributed:
    """The exact-mode global rank is computed distributed (range shuffle +
    broadcast offsets), never via a one-task-per-bucket window. These lock
    in (a) bit-equivalence with the naive window formulation and (b) that
    the heavy side's sequence survives many input partitions."""

    def test_matches_window_row_number(self, spark):
        self._check_matches_window_row_number(spark)

    def test_matches_window_row_number_forced_ranges(self, spark, exact_ranges, aqe):
        self._check_matches_window_row_number(spark)

    def test_exact_counts_across_many_partitions(self, spark):
        self._check_exact_counts_across_many_partitions(spark)

    def test_exact_counts_across_many_partitions_forced_ranges(
        self, spark, exact_ranges, aqe
    ):
        self._check_exact_counts_across_many_partitions(spark)

    @staticmethod
    def _check_matches_window_row_number(spark):
        from pyspark.sql import Window

        cfg = BucketPriorityConfig(**CFG_3B)
        keys = [f"B{(i % 3) + 1}-{i}" for i in range(977)]
        df = make_records(spark, keys).repartition(16)
        out = route(
            df, cfg, 10, topic_col="topic", order_col="record_id", mode="exact"
        )
        got = routed_map(out)

        # Naive single-task-per-bucket reference formulation.
        bucket = F.split(F.col("key"), "-").getItem(0)
        win = Window.partitionBy(bucket).orderBy("record_id")
        naive = make_records(spark, keys).withColumn(
            "seq", F.row_number().over(win) - F.lit(1)
        )
        ranges = {"B1": (0, 5), "B2": (5, 3), "B3": (8, 2)}
        for r in naive.collect():
            lo, size = ranges[r["key"].split("-")[0]]
            expect = lo + r["seq"] % size
            assert got[r["record_id"]][1] == expect, r

    @staticmethod
    def _check_exact_counts_across_many_partitions(spark):
        # 960 records, one bucket of 4 partitions over 8 → exactly 240
        # per partition, regardless of how the input was partitioned.
        cfg = BucketPriorityConfig(topic="orders", buckets=["B1"], allocation=[100])
        df = make_records(spark, [f"B1-{i}" for i in range(960)]).repartition(32)
        out = route(
            df, cfg, 8, topic_col="topic", order_col="record_id", mode="exact"
        )
        dist = {r["partition"]: r["record_count"] for r in routed_distribution(out).collect()}
        assert dist == {p: 120 for p in range(8)}


class TestExactModeProperty:
    """Hypothesis armor for the distributed exact path: random configs,
    row mixes (including unknown buckets and foreign topics), and input
    partitionings must all reproduce the pure-Python reference
    computation (global rank by record_id within bucket)."""

    def _random_configs(test):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        return settings(
            max_examples=6,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )(
            given(
                nparts=st.integers(2, 24),
                alloc=st.sampled_from(
                    [(100,), (50, 50), (70, 30), (50, 30, 20), (55, 40, 5), (40, 30, 20, 10)]
                ),
                nrows=st.integers(1, 223),
                nparts_in=st.integers(1, 7),
            )(test)
        )

    @_random_configs
    def test_random_configs_match_pure_python_reference(
        self, spark, nparts, alloc, nrows, nparts_in
    ):
        self._check_random_config(spark, nparts, alloc, nrows, nparts_in)

    @_random_configs
    def test_random_configs_match_pure_python_reference_forced_ranges(
        self, spark, exact_ranges, aqe, nparts, alloc, nrows, nparts_in
    ):
        self._check_random_config(spark, nparts, alloc, nrows, nparts_in)

    @staticmethod
    def _check_random_config(spark, nparts, alloc, nrows, nparts_in):
        from hypothesis import assume

        from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout

        # Reference precondition: partitions >= buckets, else the config
        # itself raises InvalidConfigurationException (tested elsewhere).
        assume(nparts >= len(alloc))
        buckets = [f"B{i + 1}" for i in range(len(alloc))]
        cfg = BucketPriorityConfig(
            topic="orders", buckets=buckets, allocation=list(alloc)
        )
        rows = []
        for i in range(nrows):
            if i % 11 == 7:
                key = f"Nope-{i}"          # unknown bucket
            elif i % 13 == 5:
                key = None                 # unparseable
            else:
                key = f"{buckets[i % len(buckets)]}-{i}"
            topic = "other" if i % 17 == 3 else "orders"
            rows.append((i, topic, key))
        df = spark.createDataFrame(
            rows, "record_id long, topic string, key string"
        ).repartition(nparts_in)
        out = route(
            df, cfg, nparts, topic_col="topic", order_col="record_id", mode="exact"
        )
        got = routed_map(out)

        layout = {
            r.bucket: (r.partition_lo, r.size)
            for r in compute_layout(nparts, cfg.buckets_with_allocation())
        }
        ranks: dict[str, int] = {b: 0 for b in buckets}
        for i, topic, key in rows:
            if topic != "orders":
                assert got[i] == (None, None, "bypassed"), (i, got[i])
                continue
            bucket = key.split("-")[0] if key else None
            if bucket not in layout:
                assert got[i][1] is None and got[i][2] == "unroutable", (i, got[i])
                continue
            lo, size = layout[bucket]
            seq = ranks[bucket]
            ranks[bucket] += 1
            expect = -1 if size == 0 else lo + seq % size
            status = "starved" if size == 0 else "routed"
            assert got[i] == (bucket, expect, status), (i, got[i])
