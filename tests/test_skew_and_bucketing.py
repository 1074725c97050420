"""Salted aggregation correctness + bucketed co-located join plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.skew import salted_agg
from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import load_table


class TestSaltedAgg:
    def test_matches_plain_groupby(self, spark, sf_dir):
        events = load_table(spark, sf_dir, "events")
        plain = {
            r["event_type"]: (r["n"], r["total"], r["vmin"], r["vmax"])
            for r in events.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("total"),
                F.min("value").alias("vmin"),
                F.max("value").alias("vmax"),
            )
            .collect()
        }
        salted = {
            r["event_type"]: (r["n"], r["total"], r["vmin"], r["vmax"])
            for r in salted_agg(
                events,
                ["event_type"],
                {
                    "n": ("*", "count"),
                    "total": ("value", "sum"),
                    "vmin": ("value", "min"),
                    "vmax": ("value", "max"),
                },
                salt_buckets=8,
            ).collect()
        }
        assert set(plain) == set(salted)
        for k in plain:
            assert plain[k][0] == salted[k][0]
            assert abs(plain[k][1] - salted[k][1]) < 1e-6
            assert plain[k][2] == salted[k][2] and plain[k][3] == salted[k][3]

    def test_rejects_non_mergeable(self, spark, sf_dir):
        events = load_table(spark, sf_dir, "events")
        with pytest.raises(ValueError, match="not salt-mergeable"):
            salted_agg(events, ["event_type"], {"a": ("value", "avg")})

    def test_two_shuffle_stages_in_plan(self, spark, sf_dir):
        events = load_table(spark, sf_dir, "events")
        plan = salted_agg(
            events, ["event_type"], {"n": ("*", "count")}
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 2  # salted stage + merge stage


class TestBucketedJoin:
    def test_colocated_join_has_no_exchange(self, spark, sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        # Spark's table bucketing (saveAsTable) on the join key: the
        # bucketed scans satisfy the join's distribution from disk
        # layout, which the merge operators' docs rely on.
        for df, name in (
            (orders, "orders_b"),
            (lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b"),
        ):
            df.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").mode(
                "overwrite"
            ).format("parquet").saveAsTable(name)
        try:
            joined = spark.table("lineitem_b").join(
                spark.table("orders_b").hint("merge"), "o_orderkey"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # bucketed scans satisfy distribution
            # and the result is still correct
            assert joined.count() == lineitem.count()
        finally:
            spark.sql("DROP TABLE IF EXISTS orders_b")
            spark.sql("DROP TABLE IF EXISTS lineitem_b")


class TestZOrder:
    def test_morton_key_matches_reference(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.sources.zorder import zorder_key

        def morton(x, y, bits=16):
            out = 0
            for i in range(bits):
                out |= ((x >> i) & 1) << (2 * i)
                out |= ((y >> i) & 1) << (2 * i + 1)
            return out

        rows = [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 3, 17, 65535)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = {
            (r["x"], r["y"]): r["z"]
            for r in df.withColumn("z", zorder_key("x", "y")).collect()
        }
        assert got == {(x, y): morton(x, y) for x, y in rows}

    def test_zorder_layout_bounds_both_dimensions(self, spark, tmp_path):
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from prioritizing_event_processing_with_apache_kafka_spark.sources.zorder import (
            write_zordered,
        )

        # 200k points over a 1024x1024 domain; y decorrelated from x.
        base = spark.range(0, 200_000).select(
            (F.col("id") % 1024).alias("x"),
            ((F.col("id") * 7919) % 1024).alias("y"),
        )

        def spans(path, col):
            # File-level min/max — what footer-read skipping prunes on.
            fractions = []
            for piece in __import__("pathlib").Path(path).glob("*.parquet"):
                md = pq.ParquetFile(str(piece)).metadata
                idx = md.schema.names.index(col)
                lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
                hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
                fractions.append((hi - lo) / 1023.0)
            return fractions

        zpath = str(tmp_path / "zord")
        write_zordered(base, zpath, "x", "y", bits=10, num_files=16)
        lpath = str(tmp_path / "linear")
        (
            base.repartitionByRange(16, "x")
            .sortWithinPartitions("x")
            .write.mode("overwrite")
            .parquet(lpath)
        )

        zx, zy = spans(zpath, "x"), spans(zpath, "y")
        assert len(zx) >= 8, "need several files for the claim to mean anything"
        # Every z-clustered file is bounded in BOTH dimensions...
        assert sum(zx) / len(zx) < 0.6 and sum(zy) / len(zy) < 0.6, (zx, zy)
        # ...whereas the x-sorted layout bounds x but leaves y unbounded.
        lx, ly = spans(lpath, "x"), spans(lpath, "y")
        assert sum(lx) / len(lx) < 0.2, lx
        assert sum(ly) / len(ly) > 0.9, ly


class TestCompaction:
    def test_small_files_compact_to_target(self, spark, tmp_path):
        from prioritizing_event_processing_with_apache_kafka_spark.sources.compaction import (
            compact_parquet,
            directory_bytes,
        )

        src = str(tmp_path / "tiny")
        out = str(tmp_path / "compacted")
        # 40 one-row files — the streaming-sink pathology
        spark.range(40).repartition(40).write.parquet(src)
        total = directory_bytes(spark, src)
        assert total > 0
        # target sized so everything lands in exactly 2 files
        n = compact_parquet(spark, src, out, target_file_bytes=(total + 1) // 2)
        assert n == 2
        files = [f for f in __import__("os").listdir(out) if f.endswith(".parquet")]
        assert len(files) == 2
        back = spark.read.parquet(out)
        assert sorted(r.id for r in back.collect()) == list(range(40))

    def test_order_by_keeps_range_clustering(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from prioritizing_event_processing_with_apache_kafka_spark.sources.compaction import (
            compact_parquet,
        )

        src = str(tmp_path / "scattered")
        out = str(tmp_path / "clustered")
        spark.range(1000).selectExpr("id", "id % 97 AS key").repartition(
            20
        ).write.parquet(src)
        compact_parquet(spark, src, out, target_file_bytes=1, order_by=["key"])
        # every output file's key range must be disjoint from the others
        import os

        ranges = []
        for f in sorted(os.listdir(out)):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(out, f))
            los, his = [], []
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(1)
                los.append(col.statistics.min)
                his.append(col.statistics.max)
            ranges.append((min(los), max(his)))
        ranges.sort()
        assert len(ranges) >= 2
        for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2

    def test_rejects_bad_target(self, spark, tmp_path):
        import pytest as _pytest

        from prioritizing_event_processing_with_apache_kafka_spark.sources.compaction import compact_parquet

        with _pytest.raises(ValueError):
            compact_parquet(spark, str(tmp_path), str(tmp_path / "o"), target_file_bytes=0)


class TestSaltedJoin:
    def test_equals_plain_join(self, spark, sf_dir):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.skew import (
            salted_join,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
            load_table,
        )

        orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
            "o_custkey", "custkey"
        )
        customer = load_table(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "custkey"
        )
        salted = salted_join(orders, customer, "custkey", salt_buckets=4)
        plain = orders.join(customer, "custkey")
        key = lambda df: sorted(
            (r.o_orderkey, r.c_mktsegment)
            for r in df.select("o_orderkey", "c_mktsegment").collect()
        )
        assert key(salted) == key(plain) and len(key(salted)) > 0

    def test_left_join_keeps_unmatched(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.skew import (
            salted_join,
        )

        left = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "lv"])
        right = spark.createDataFrame([(1, "X")], ["k", "rv"])
        out = {
            r.k: r.rv
            for r in salted_join(left, right, "k", salt_buckets=3, how="left").collect()
        }
        assert out == {1: "X", 2: None}

    def test_rejects_right_outer(self, spark):
        import pytest as _pytest

        from prioritizing_event_processing_with_apache_kafka_spark.operators.skew import (
            salted_join,
        )

        left = spark.createDataFrame([(1, "a")], ["k", "lv"])
        with _pytest.raises(ValueError, match="inner"):
            salted_join(left, left, "k", how="right")


class TestBroadcastDemotion:
    """VERDICT r7 item 7: pin the broadcast-threshold behavior of the
    layout join. The canary query's fingerprint pins the healthy plan;
    this test proves BOTH directions of the mechanism itself."""

    def test_unhinted_demotes_hinted_survives_threshold_off(self, spark, sf_dir):
        from prioritizing_event_processing_with_apache_kafka_spark.inventory import (
            EVENTS_CONFIG,
            EVENTS_NUM_PARTITIONS,
            q_layout_autobroadcast_canary,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
            route,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
            load_table,
        )

        def join_kinds(df, final=False):
            # The canary join's layout side is a LocalRelation with size
            # statistics, so the static plan already broadcasts it;
            # final=True executes and reads AQE's re-optimized plan.
            if final:
                df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            if final:
                assert "isFinalPlan=true" in plan
                # AdaptiveSparkPlan.toString prints the final AND the
                # initial plan; count only the final section
                plan = plan.split("== Initial Plan ==")[0]
            # the canary pipeline CONTAINS the production router's
            # hinted broadcast (inside _events_tagged), so count joins
            # rather than testing membership
            return (
                plan.count("BroadcastHashJoin"),
                plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin"),
            )

        events = load_table(spark, sf_dir, "events").withColumn(
            "key",
            F.concat_ws(
                "-",
                F.element_at(
                    F.array(F.lit("Platinum"), F.lit("Gold"), F.lit("Standard")),
                    (F.col("event_id") % 3 + 1).cast("int"),
                ),
                F.col("event_id").cast("string"),
            ),
        )

        # healthy session: AQE promotes the unhinted canary join to a
        # broadcast at runtime once the agg side's true size is known
        bc, sh = join_kinds(
            q_layout_autobroadcast_canary(spark, sf_dir), final=True
        )
        assert bc == 2 and sh == 0, (
            "canary's final AQE plan should broadcast BOTH layout joins "
            f"(hinted inner + unhinted canary), got bc={bc} sh={sh}"
        )

        threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            # demotion: without the hint, the SAME join degrades to a
            # shuffle join under conf drift...
            bc, sh = join_kinds(
                q_layout_autobroadcast_canary(spark, sf_dir), final=True
            )
            assert bc == 1 and sh == 1, (
                "at threshold=-1 the unhinted canary join must demote to "
                "a shuffle join while the hinted inner one stays, got "
                f"bc={bc} sh={sh}"
            )
            # ...while the production router's explicit broadcast()
            # hint is immune — the fact side never shuffles for routing
            routed = route(
                events, EVENTS_CONFIG, EVENTS_NUM_PARTITIONS, mode="hash"
            )
            bc, sh = join_kinds(routed)
            assert bc >= 1 and sh == 0, (
                f"hinted layout join must survive threshold=-1, got bc={bc} sh={sh}"
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
