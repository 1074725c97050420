"""Driver-built tables are JVM ``LocalRelation`` leaves, never
Python-built ``LogicalRDD`` leaves.

A ``LogicalRDD`` built from Python rows is a pickled RDD: every query
that broadcasts it runs a Python-worker job, and it has no size
statistics, so an unhinted join against it plans as a shuffle. The
layout, the exact router's offsets and the consumer map all go through
``operators/routing.py:local_table`` instead; these tests pin that on
the optimized plans of every path that builds one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prioritizing_event_processing_with_apache_kafka_spark import inventory
from prioritizing_event_processing_with_apache_kafka_spark.operators.assignment import (
    Subscription,
    assign,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.drain import (
    CONSUMER_MAP_SCHEMA,
    consumer_map_table,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    LAYOUT_SCHEMA,
    layout_table,
    local_table,
    route,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.config import (
    BucketPriorityConfig,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.fingerprint import (
    python_relation_count,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.lifetime import (
    route_batch_lifetime,
)

CFG = BucketPriorityConfig(
    topic="events", buckets=["Platinum", "Gold", "Tiny"], allocation=[70, 29, 1]
)
# the queries analytics_mix runs (perfbench/wl_analytics.py:QUERY_SET)
ANALYTICS_MIX = (
    "route_distribution",
    "priority_drain_schedule",
    "bucket_throughput_hourly",
    "bucket_user_reach_hll",
)


def _events(spark, n=40):
    """Keyed events built in the JVM, so the input adds no Python leaf:
    three configured buckets, one unknown bucket and NULL keys."""
    names = F.array(*(F.lit(b) for b in ("Platinum", "Gold", "Tiny", "Silver")))
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(
            F.col("id") % 9 != 4,
            F.concat_ws(
                "-",
                F.element_at(names, (F.col("id") % 4 + 1).cast("int")),
                F.col("id").cast("string"),
            ),
        ).alias("key"),
    )


def test_layout_table_is_local(spark):
    layout = layout_table(spark, CFG, 10)
    assert python_relation_count(layout) == 0
    assert layout.schema == LAYOUT_SCHEMA


def test_consumer_map_table_is_local(spark):
    subs = [Subscription("p0", ["events"], "Platinum"), Subscription("g0", ["events"], "Gold")]
    cmap = consumer_map_table(spark, assign({"events": 10}, subs, CFG), topic="events")
    assert python_relation_count(cmap) == 0
    assert cmap.schema == T.DataType.fromDDL(CONSUMER_MAP_SCHEMA)


@pytest.mark.parametrize("mode", ["exact", "hash", "spread"])
def test_route_plans_no_python_relation(spark, mode):
    order = "event_id" if mode == "exact" else None
    routed = route(_events(spark), CFG, 10, order_col=order, mode=mode)
    assert python_relation_count(routed) == 0
    assert routed.count() == 40


def test_lifetime_batch_plans_no_python_relation(spark):
    routed, counters = route_batch_lifetime(_events(spark), CFG, 10, {"Gold": 3})
    assert python_relation_count(routed) == 0
    assert sum(counters.values()) == 40 + 3
    # an empty batch builds an empty offsets table, still JVM-local
    empty, same = route_batch_lifetime(_events(spark, 0), CFG, 10, counters)
    assert python_relation_count(empty) == 0
    assert empty.count() == 0 and same == counters


@pytest.mark.parametrize("name", ANALYTICS_MIX)
def test_analytics_mix_plans_no_python_relation(spark, sf_dir, name):
    assert python_relation_count(inventory.QUERIES[name](spark, sf_dir)) == 0


def test_local_table_keeps_schema_empty_and_null_rows(spark):
    schema = T.StructType(
        [
            T.StructField("bucket", T.StringType(), False),
            T.StructField("lo", T.IntegerType(), True),
        ]
    )
    empty = local_table(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []
    nulls = local_table(spark, [(None, None)], "a long, b string")
    assert nulls.schema.simpleString() == "struct<a:bigint,b:string>"
    assert [tuple(r) for r in nulls.collect()] == [(None, None)]
    assert python_relation_count(empty) == python_relation_count(nulls) == 0
