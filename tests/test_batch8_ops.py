"""Round-7 eighth-batch operators: pairwise Pearson and last-touch
attribution."""

from __future__ import annotations

import math
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
    pairwise_pearson,
)

EPOCH = datetime(2024, 1, 1)


def _t(hours: float) -> datetime:
    return EPOCH + timedelta(hours=hours)


def _py_pearson_ppm(xs: list[int], ys: list[int]) -> int | None:
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    num = n * sum(x * y for x, y in zip(xs, ys)) - sx * sy
    dx = n * sum(x * x for x in xs) - sx * sx
    dy = n * sum(y * y for y in ys) - sy * sy
    if dx <= 0 or dy <= 0:
        return None
    v = num * 1_000_000.0 / math.sqrt(float(dx) * float(dy))
    # round half away from zero, like Spark round() / DuckDB ROUND
    return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))


class TestPairwisePearson:
    def _run(self, spark, rows):
        df = spark.createDataFrame(rows, "a bigint, b bigint, c bigint")
        cols = {n: F.col(n) for n in ("a", "b", "c")}
        return {
            (r["col_a"], r["col_b"]): (r["n"], r["corr_ppm"])
            for r in pairwise_pearson(df, cols).collect()
        }

    def test_perfect_correlations(self, spark):
        rows = [(i, 2 * i + 3, -i) for i in range(10)]
        got = self._run(spark, rows)
        assert got[("a", "b")] == (10, 1_000_000)
        assert got[("a", "c")] == (10, -1_000_000)
        assert got[("b", "c")] == (10, -1_000_000)

    def test_constant_column_null(self, spark):
        rows = [(i, 7, i * i) for i in range(5)]
        got = self._run(spark, rows)
        assert got[("a", "b")][1] is None
        assert got[("b", "c")][1] is None
        assert got[("a", "c")][1] is not None

    def test_property_matches_python(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        cols = st.lists(
            st.tuples(
                st.integers(min_value=-1000, max_value=1000),
                st.integers(min_value=-1000, max_value=1000),
                st.integers(min_value=-1000, max_value=1000),
            ),
            min_size=2,
            max_size=20,
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(cols)
        def run(rows):
            got = self._run(spark, rows)
            a = [r[0] for r in rows]
            b = [r[1] for r in rows]
            c = [r[2] for r in rows]
            assert got[("a", "b")] == (len(rows), _py_pearson_ppm(a, b))
            assert got[("a", "c")] == (len(rows), _py_pearson_ppm(a, c))
            assert got[("b", "c")] == (len(rows), _py_pearson_ppm(b, c))

        run()


class TestPurchaseAttribution:
    def _attr(self, spark, rows):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sequence import (
            last_touch_attribution,
        )

        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        return {
            r["attributed_to"]
            for r in last_touch_attribution(df, lookback_days=7).collect()
        }

    def test_last_touch_and_window(self, spark):
        rows = [
            # user 1: click 1h before purchase -> attributed to click
            (1, _t(0), 1, "view", 0.0),
            (2, _t(1), 1, "click", 0.0),
            (3, _t(2), 1, "purchase", 0.0),
            # user 2: only touch is 8 days before -> none
            (4, _t(0), 2, "view", 0.0),
            (5, _t(8 * 24 + 1), 2, "purchase", 0.0),
            # user 3: purchase with no history -> none
            (6, _t(0), 3, "purchase", 0.0),
        ]
        assert self._attr(spark, rows) == {"click", "none"}

    def test_prior_purchase_does_not_attribute(self, spark):
        # a purchase never credits another purchase — the ignore-nulls
        # last() skips purchase rows entirely
        rows = [
            (1, _t(0), 1, "view", 0.0),
            (2, _t(1), 1, "purchase", 0.0),
            (3, _t(2), 1, "purchase", 0.0),
        ]
        assert self._attr(spark, rows) == {"view"}
