"""Round-8 operator semantics: histogram-lattice exact percentiles/MAD
and the layout-rebalance arithmetic (fixture parity is
covered by the oracle harness; these pin hand-computable cases)."""

from __future__ import annotations

import pytest

from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
    exact_group_mad,
    exact_group_percentiles,
)


class TestExactGroupPercentiles:
    def _df(self, spark, values, group="g"):
        return spark.createDataFrame(
            [(group, float(v)) for v in values], "g string, v double"
        )

    def test_matches_numpy_definitions(self, spark):
        import numpy as np

        vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
        row = exact_group_percentiles(
            self._df(spark, vals), group_col="g", value_col="v"
        ).first()
        arr = np.array(sorted(vals))
        assert row["n_values"] == 8
        for p in (50, 90, 99):
            # percentile_cont == numpy linear interpolation up to one
            # ulp (numpy orders the interpolation operands differently;
            # the BIT-exact contract is vs the DuckDB oracle, which
            # replays OUR expression — the harness enforces that)
            assert row[f"cont_p{p}"] == pytest.approx(
                float(np.percentile(arr, p)), rel=1e-12
            )
            # percentile_disc: first value with CDF >= p/100
            n = len(arr)
            disc = next(
                v for i, v in enumerate(arr) if (i + 1) * 100 >= p * n
            )
            assert row[f"disc_p{p}"] == disc

    def test_single_value_group(self, spark):
        row = exact_group_percentiles(
            self._df(spark, [7.0]), group_col="g", value_col="v"
        ).first()
        assert row["disc_p50"] == 7.0 and row["cont_p99"] == 7.0

    def test_nulls_excluded(self, spark):
        df = spark.createDataFrame(
            [("g", 1.0), ("g", None), ("g", 3.0)], "g string, v double"
        )
        row = exact_group_percentiles(
            df, group_col="g", value_col="v"
        ).first()
        assert row["n_values"] == 2
        assert row["cont_p50"] == 2.0  # midpoint of [1, 3]


class TestExactGroupMad:
    def test_hand_computed(self, spark):
        # values 1..7 plus outlier 100: median=4 (of 8 values, disc ->
        # first with CDF>=0.5 is the 4th), deviations |x-4|:
        # [3,2,1,0,1,2,3,96] sorted [0,1,1,2,2,3,3,96] -> MAD=2
        # outliers |x-4| > 6: only 100 -> 1
        vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 100.0]
        df = spark.createDataFrame(
            [("g", v) for v in vals], "g string, v double"
        )
        row = exact_group_mad(df, group_col="g", value_col="v").first()
        assert row["n_values"] == 8
        assert row["median"] == 4.0
        assert row["mad"] == 2.0
        assert row["n_outliers"] == 1
        assert row["outlier_ppm"] == 125000

    def test_robustness_vs_stddev(self, spark):
        # MAD's selling point: the outlier does not move it
        base = [10.0, 11.0, 12.0, 13.0, 14.0]
        with_outlier = base + [10_000.0]
        r1 = exact_group_mad(
            spark.createDataFrame([("g", v) for v in base], "g string, v double"),
            group_col="g", value_col="v",
        ).first()
        r2 = exact_group_mad(
            spark.createDataFrame(
                [("g", v) for v in with_outlier], "g string, v double"
            ),
            group_col="g", value_col="v",
        ).first()
        assert r1["mad"] == 1.0
        assert r2["mad"] <= 2.0  # barely moves
        assert r2["n_outliers"] == 1


class TestLayoutRebalance:
    def test_oracle_constants_match_kernel(self):
        """The SQL layout2 VALUES literal must be exactly what the
        layout kernel computes for the rebalanced allocation — the same
        independence discipline as SQL_ASSIGNMENT_GOLDEN."""
        from prioritizing_event_processing_with_apache_kafka_spark.inventory import (
            EVENTS_NUM_PARTITIONS,
            REBALANCED_CONFIG,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import (
            compute_layout,
        )

        ranges = compute_layout(
            EVENTS_NUM_PARTITIONS,
            REBALANCED_CONFIG.buckets_with_allocation(),
            topic=REBALANCED_CONFIG.topic,
        )
        got = {
            r.bucket: (r.allocation, min(r.partitions), len(r.partitions))
            for r in ranges
        }
        assert got == {
            "Platinum": (40, 0, 5),
            "Gold": (40, 5, 5),
            "Standard": (20, 10, 2),
        }

    def test_moved_fraction_arithmetic(self, spark, sf_dir):
        """Platinum shrinks 6->5 and Gold moves lo 6->5 & grows 4->5:
        every record's old/new partition follows from the SAME seq, so
        moved counts are deterministic. Standard's range is unchanged
        (10-11, size 2) => zero moves."""
        from prioritizing_event_processing_with_apache_kafka_spark.inventory import (
            q_layout_rebalance_impact,
        )

        rows = {
            r["bucket"]: r
            for r in q_layout_rebalance_impact(spark, sf_dir).collect()
        }
        assert rows["Standard"]["n_moved"] == 0
        assert rows["Standard"]["partitions_before"] == 2
        assert rows["Standard"]["partitions_after"] == 2
        # Platinum 6->5: seq%6 != seq%5 for ~5/6 of records (every seq
        # except multiples of 30 and offsets where they agree) — a large
        # majority moves; Gold additionally shifts its lo
        assert rows["Platinum"]["partitions_before"] == 6
        assert rows["Platinum"]["partitions_after"] == 5
        assert rows["Platinum"]["n_moved"] > rows["Platinum"]["n_records"] // 2
        assert rows["Gold"]["n_moved"] > 0
