"""Regression tests for the round-5 operator-review fixes: negative
sampling keys, salt decorrelation, NULL-aware EWMA, overflow-safe
z-score, and partition-preserving compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestHashCoin:
    def test_negative_keys_sample_at_the_requested_rate(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
            hash_coin,
            hash_sample,
        )

        df = spark.range(-2_000, 0).withColumnRenamed("id", "k")
        coins = df.select(hash_coin("k").alias("c")).agg(
            F.min("c").alias("lo"), F.max("c").alias("hi")
        ).collect()[0]
        assert 0.0 <= coins["lo"] and coins["hi"] < 1.0
        n = hash_sample(df, key="k", fraction=0.1).count()
        assert 100 <= n <= 320, f"negative keys ignored the fraction: {n}/2000"
        assert hash_sample(df, key="k", fraction=0.0).count() == 0

    def test_salted_samples_overlap_like_independent_draws(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
            hash_sample,
        )

        df = spark.range(20_000).withColumnRenamed("id", "k")
        a = hash_sample(df, key="k", fraction=0.1, salt=0)
        b = hash_sample(df, key="k", fraction=0.1, salt=1)
        na, nb = a.count(), b.count()
        overlap = a.join(b, "k").count()
        # independent 10% draws over 20k keys: expected overlap ~200
        # (1% of 20k). The old affine salt gave ~0 or ~2000 — a
        # constant rotation of the same interval.
        assert 0.003 * 20_000 < overlap < 0.03 * 20_000, (
            f"salted draws correlated: |A|={na} |B|={nb} overlap={overlap}"
        )

    def test_sql_twin_matches_spark_with_salt(self, spark):
        import duckdb

        from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
            hash_coin,
            hash_coin_sql,
        )

        rows = spark.range(-50, 50).select(
            F.col("id").alias("k"), F.round(hash_coin("id", salt=3), 9).alias("c")
        ).collect()
        got = {r["k"]: r["c"] for r in rows}
        sql = f"SELECT k, ROUND({hash_coin_sql('k', salt=3)}, 9) AS c FROM rng"
        conn = duckdb.connect()
        conn.execute("CREATE TABLE rng AS SELECT range AS k FROM range(-50, 50)")
        want = {k: c for k, c in conn.execute(sql).fetchall()}
        assert got == want


class TestEwmaNulls:
    def test_null_value_keeps_lag_alignment(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
            windowed_ewma,
        )

        df = spark.createDataFrame(
            [(1, 1, 4.0), (1, 2, None), (1, 3, 1.0)],
            "user_id long, event_id long, value double",
        )
        out = windowed_ewma(
            df, partition_col="user_id", order_cols=("event_id",),
            value_col="value", window=3,
        )
        got = {r["event_id"]: r["ewma"] for r in out.collect()}
        # row 3's frame is [4.0, NULL, 1.0]: 4.0 at lag 2 (weight 1/4),
        # 1.0 at lag 0 (weight 1) -> (1 + 1) / 1.25 = 1.6. The old
        # collect_list dropped the NULL and mis-lagged 4.0 to weight
        # 1/2 -> 2.0.
        assert got[3] == pytest.approx(1.6, abs=1e-6)
        # the NULL row itself: frame [4.0, NULL] -> only 4.0 at lag 1
        assert got[2] == pytest.approx(4.0, abs=1e-6)
        assert got[1] == pytest.approx(4.0, abs=1e-6)


class TestZscoreOverflow:
    def test_huge_counts_do_not_overflow(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
            rolling_zscore,
        )

        base = 5_000_000_000  # x*x = 2.5e19 > int64 max
        rows = [("b", h, base + h) for h in range(6)]
        df = spark.createDataFrame(rows, "bucket string, hour long, n_events long")
        out = rolling_zscore(
            df, partition_col="bucket", order_col="hour",
            value_col="n_events", window=3,
        ).collect()
        scored = {r["hour"]: r["zscore"] for r in out}
        # trailing window [base+h-3 .. base+h-1]: mean = base+h-2,
        # population var of consecutive ints = 2/3 -> z = 2/sqrt(2/3)
        expected = 2.0 / (2.0 / 3.0) ** 0.5
        for h in (3, 4, 5):
            assert scored[h] == pytest.approx(expected, abs=1e-5), scored


class TestCompactionKeepsPartitions:
    def test_hive_layout_survives_compaction(self, spark, tmp_path):
        from prioritizing_event_processing_with_apache_kafka_spark.sources.compaction import (
            compact_parquet,
            partition_columns,
        )

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        df = spark.range(1_000).select(
            F.col("id"), (F.col("id") % 4).alias("cell")
        )
        df.write.partitionBy("cell").parquet(src)
        assert partition_columns(spark, src) == ["cell"]
        compact_parquet(spark, src, out, target_file_bytes=1 << 20)
        # pruning layout survives: cell=N directories exist in out
        assert partition_columns(spark, out) == ["cell"]
        back = spark.read.parquet(out)
        assert back.count() == 1_000
        assert back.filter(F.col("cell") == 2).count() == 250


class TestAsofNullHandling:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, 10)], "k long, ts long"
        ).select("k", F.timestamp_seconds("ts").alias("ts"))
        right = spark.createDataFrame(
            [(1, 1, 5.0), (1, 5, None)], "k long, ts long, price double"
        ).select("k", F.timestamp_seconds("ts").alias("ts"), "price")
        return left, right

    def test_matched_row_null_column_stays_null(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.asof import (
            asof_join,
        )

        left, right = self._frames(spark)
        row = asof_join(
            left, right, on="k", right_cols=["price"], direction="backward"
        ).collect()[0]
        # the matched right row is t=5 whose price IS NULL; per-column
        # carries used to splice t=1's 5.0 into it (a row that never
        # existed — pandas merge_asof and DuckDB ASOF return NULL)
        assert row["asof_ts"].second == 5
        assert row["price"] is None

    def test_null_right_timestamp_rows_are_ignored(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.asof import (
            asof_join,
        )

        left = spark.createDataFrame([(1, 10)], "k long, ts long").select(
            "k", F.timestamp_seconds("ts").alias("ts")
        )
        right = spark.createDataFrame(
            [(1, None, 99.0)], "k long, ts long, price double"
        ).select("k", F.timestamp_seconds("ts").alias("ts"), "price")
        row = asof_join(
            left, right, on="k", right_cols=["price"], direction="backward"
        ).collect()[0]
        assert row["asof_ts"] is None and row["price"] is None

    def test_output_name_collision_raises(self, spark):
        import pytest as _pytest

        from prioritizing_event_processing_with_apache_kafka_spark.operators.asof import (
            asof_join,
        )

        left, right = self._frames(spark)
        with _pytest.raises(ValueError, match="collision"):
            asof_join(
                left.withColumn("asof_ts", F.lit(1)),
                right,
                on="k",
                right_cols=["price"],
            )


class TestSketchNullGroups:
    def test_kll_all_null_group_does_not_crash(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
            kll_value_quantiles,
        )

        df = spark.createDataFrame(
            [("a", 1, 1.0), ("a", 1, 2.0), ("b", 1, None), ("b", 2, None)],
            "g string, c long, v double",
        )
        rows = kll_value_quantiles(
            df, value_col="v", group_col="g", cell_col="c"
        ).collect()
        # the all-NULL group drops out instead of poisoning the job
        assert [r["g"] for r in rows] == ["a"]

    def test_hll_all_null_group_does_not_crash(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
            hll_distinct_rollup,
        )

        df = spark.createDataFrame(
            [("a", 1, "u1"), ("b", 1, None)], "g string, c long, k string"
        )
        rows = {
            r["g"]: r
            for r in hll_distinct_rollup(
                df, key_col="k", group_col="g", cell_col="c"
            ).collect()
        }
        assert rows["b"]["exact_distinct"] == 0
        assert rows["b"]["rel_error_pct"] == 0.0
