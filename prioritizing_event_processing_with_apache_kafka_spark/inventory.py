"""Declared query inventory: the oracle-checkable surface of the engine.

Every entry pairs a PySpark query (native DataFrame ops, built from the
engine's operators) with an ANSI-SQL oracle that DuckDB runs over the
same parquet fixtures. The driver executes both at sf=0.01 and compares
row count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- double aggregations route through exact DECIMAL arithmetic and cast
  the final value to DOUBLE (order-independent, bit-identical across
  engines);
- timestamps are truncated to microseconds on both sides (see
  ``sources/tables.py``);
- window/rank queries carry deterministic tie-breakers.

The canonical routing scenario used by the event queries:
topic ``events``, buckets Platinum/Gold/Standard = 50/30/20 over 12
partitions → layout Platinum=[0..5], Gold=[6..9], Standard=[10,11]
(sizes 6, 3.6→4, 2.4→2 under the reference's float32 Math.round;
``Bucket.java:46-48``). Event→bucket rule per FIXTURES.md §6:
error→Platinum, purchase→Gold, rest→Standard; key = ``<bucket>-<event_id>``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
    scoped_persist,
)

from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import extract_bucket
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    layout_table,
    local_table,
    route,
    routed_distribution,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.config import BucketPriorityConfig
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout
from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
    load_table,
    normalize_event_ts,
    with_routing_key,
)

__all__ = ["QUERIES", "ORACLES", "EVENTS_CONFIG", "EVENTS_NUM_PARTITIONS"]

# ---------------------------------------------------------------------------
# Canonical routing scenario
# ---------------------------------------------------------------------------

EVENTS_CONFIG = BucketPriorityConfig(
    topic="events",
    buckets=["Platinum", "Gold", "Standard"],
    allocation=["50%", "30%", "20%"],
)
EVENTS_NUM_PARTITIONS = 12

# Oracle-side fragments. The routed CTE mirrors route(mode='exact') —
# a broadcast layout join plus per-bucket row_number round-robin.
_SQL_EVENTS_KEYED = """
  keyed_events AS (
    SELECT e.*,
           CASE WHEN event_type = 'error' THEN 'Platinum'
                WHEN event_type = 'purchase' THEN 'Gold'
                ELSE 'Standard' END AS bucket,
           CASE WHEN event_type = 'error' THEN 'Platinum'
                WHEN event_type = 'purchase' THEN 'Gold'
                ELSE 'Standard' END || '-' || CAST(event_id AS VARCHAR) AS key
    FROM events e
  )
"""

_SQL_LAYOUT_12 = """
  layout AS (
    SELECT * FROM (VALUES
      ('Platinum', 50, 0, 0, 5, 6),
      ('Gold',     30, 1, 6, 9, 4),
      ('Standard', 20, 2, 10, 11, 2)
    ) AS t(bucket, allocation, priority_rank, partition_lo, partition_hi, bucket_size)
  )
"""

_SQL_ROUTED = f"""
WITH {_SQL_EVENTS_KEYED},
{_SQL_LAYOUT_12},
  routed AS (
    SELECT k.*, l.partition_lo, l.bucket_size,
           CAST(l.partition_lo
                + (ROW_NUMBER() OVER (PARTITION BY k.bucket ORDER BY k.event_id) - 1)
                  % l.bucket_size AS INTEGER) AS partition
    FROM keyed_events k JOIN layout l USING (bucket)
  )
"""


def _events_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-tagged events WITHOUT exact round-robin sequencing.

    Per-bucket aggregation queries never read ``partition``, so they
    skip the range-shuffle + persisted midframe the exact global
    sequence costs (mode='hash' assigns partitions by key hash — a
    per-row expression at scan speed). The P1 key parsing and the
    broadcast layout join — the semantics these queries exercise — are
    identical to the exact path, so their oracles are unchanged.
    """
    events = with_routing_key(load_table(spark, sf_dir, "events"))
    return route(events, EVENTS_CONFIG, EVENTS_NUM_PARTITIONS, mode="hash")


def _events_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = with_routing_key(load_table(spark, sf_dir, "events"))
    return route(
        events,
        EVENTS_CONFIG,
        EVENTS_NUM_PARTITIONS,
        order_col="event_id",
        mode="exact",
    )


# ---------------------------------------------------------------------------
# A. Bucket-priority core queries
# ---------------------------------------------------------------------------


def q_route_events_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full routed stream: which partition does every event land on.

    Parity target: BucketPriorityPartitioner.partition() semantics
    (reference BucketPriorityPartitioner.java:62-84) under exact
    round-robin ordered by event_id.
    """
    return _events_routed(spark, sf_dir).select("event_id", "bucket", "partition")


SQL_ROUTE_EVENTS_EXACT = _SQL_ROUTED + "SELECT event_id, bucket, partition FROM routed"


def q_route_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Records per (bucket, partition) — the MockProducer distribution
    invariant (BucketPriorityPartitionerTest.java:344-419)."""
    return routed_distribution(_events_routed(spark, sf_dir))


SQL_ROUTE_DISTRIBUTION = (
    _SQL_ROUTED
    + "SELECT bucket, partition, COUNT(*) AS record_count FROM routed GROUP BY 1, 2"
)


def q_bucket_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 key→bucket extraction over the synthesized keys
    (BucketPriorityPartitioner.java:69-73)."""
    events = with_routing_key(load_table(spark, sf_dir, "events"))
    return events.select(
        "event_id",
        "key",
        extract_bucket(F.col("key"), EVENTS_CONFIG.delimiter).alias("bucket"),
    )


SQL_BUCKET_EXTRACT = (
    f"WITH {_SQL_EVENTS_KEYED} "
    "SELECT event_id, key, TRIM(SPLIT_PART(key, '-', 1)) AS bucket FROM keyed_events"
)


def q_layout_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout kernel's output for the six golden configurations the
    reference's tests assert (SURVEY.md §2.A; BucketPriorityPartitionerTest)."""
    scenarios = [
        (1, 10, [("B1", 50), ("B2", 30), ("B3", 20)]),
        (2, 10, [("B1", 55), ("B2", 40), ("B3", 5)]),
        (3, 5, [("B1", 55), ("B2", 40), ("B3", 5)]),
        (4, 10, [("B1", 80), ("B2", 20)]),
        (5, 20, [("B1", 80), ("B2", 20)]),
        (6, 6, [("Platinum", 70), ("Gold", 30)]),
    ]
    rows = []
    for config_id, n, buckets in scenarios:
        for r in compute_layout(n, buckets):
            rows.append(
                (config_id, r.bucket, r.allocation, r.priority_rank,
                 r.partition_lo, r.partition_hi, r.size)
            )
    return local_table(
        spark,
        rows,
        "config_id int, bucket string, allocation int, priority_rank int, "
        "partition_lo int, partition_hi int, bucket_size int",
    )


SQL_LAYOUT_GOLDEN = """
SELECT * FROM (VALUES
  (1, 'B1', 50, 0, 0, 4, 5), (1, 'B2', 30, 1, 5, 7, 3), (1, 'B3', 20, 2, 8, 9, 2),
  (2, 'B1', 55, 0, 0, 5, 6), (2, 'B2', 40, 1, 6, 9, 4), (2, 'B3', 5, 2, NULL, NULL, 0),
  (3, 'B1', 55, 0, 0, 2, 3), (3, 'B2', 40, 1, 3, 4, 2), (3, 'B3', 5, 2, NULL, NULL, 0),
  (4, 'B1', 80, 0, 0, 7, 8), (4, 'B2', 20, 1, 8, 9, 2),
  (5, 'B1', 80, 0, 0, 15, 16), (5, 'B2', 20, 1, 16, 19, 4),
  (6, 'Platinum', 70, 0, 0, 3, 4), (6, 'Gold', 30, 1, 4, 5, 2)
) AS t(config_id, bucket, allocation, priority_rank, partition_lo, partition_hi, bucket_size)
"""


def q_starved_discard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unroutable-record audit under a config that omits the Standard
    bucket — the DiscardPartitioner path made observable
    (DiscardPartitioner.java:15-18; README.md:79-84)."""
    cfg = BucketPriorityConfig(topic="events", buckets=["Platinum", "Gold"], allocation=[70, 30])
    events = with_routing_key(load_table(spark, sf_dir, "events"))
    # hash mode: this audit never reads `partition`, so it skips the
    # exact path's range shuffle + persisted midframe (route_status and
    # bucket are mode-invariant — the oracle is unchanged)
    routed = route(events, cfg, 10, mode="hash")
    return (
        routed.filter(F.col("route_status") == "unroutable")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_discarded"))
    )


SQL_STARVED_DISCARD_AUDIT = f"""
WITH {_SQL_EVENTS_KEYED}
SELECT event_type, COUNT(*) AS n_discarded
FROM keyed_events WHERE bucket NOT IN ('Platinum', 'Gold')
GROUP BY 1
"""


def q_assignment_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-assignment plans for the reference's assignor scenarios
    (BucketPriorityAssignorTest.java:114-341), computed by the engine's
    pure assignment kernel and checked against literal goldens."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.assignment import (
        Subscription,
        assign,
    )

    cfg = BucketPriorityConfig(topic="orders", buckets=["B1", "B2"], allocation=[80, 20])
    scenarios = [
        # (id, partitions_per_topic, subscriptions)
        (1, {"orders": 10},
         [Subscription(f"c{i}", ["orders"], "B1") for i in range(8)]
         + [Subscription(f"c{i}", ["orders"], "B2") for i in (8, 9)]),
        (2, {"orders": 10},
         [Subscription(f"c{i}", ["orders"], "B1") for i in range(6)]),
        (3, {"orders": 6, "clicks": 6},
         [Subscription("b0", ["orders"], "B1"), Subscription("b1", ["orders"], "B2"),
          Subscription("r0", ["clicks"]), Subscription("r1", ["clicks"])]),
    ]
    rows = []
    for sid, ppt, subs in scenarios:
        for consumer, pairs in assign(ppt, subs, cfg).items():
            for topic, partition in pairs:
                rows.append((sid, consumer, topic, partition))
    return local_table(
        spark, rows, "scenario_id int, consumer string, topic string, partition int"
    )


SQL_ASSIGNMENT_GOLDEN = """
SELECT * FROM (VALUES
  (1, 'c0', 'orders', 0), (1, 'c1', 'orders', 1), (1, 'c2', 'orders', 2),
  (1, 'c3', 'orders', 3), (1, 'c4', 'orders', 4), (1, 'c5', 'orders', 5),
  (1, 'c6', 'orders', 6), (1, 'c7', 'orders', 7),
  (1, 'c8', 'orders', 8), (1, 'c9', 'orders', 9),
  (2, 'c0', 'orders', 0), (2, 'c1', 'orders', 1), (2, 'c2', 'orders', 2),
  (2, 'c3', 'orders', 3), (2, 'c4', 'orders', 4), (2, 'c5', 'orders', 5),
  (2, 'c0', 'orders', 6), (2, 'c1', 'orders', 7),
  (3, 'b0', 'orders', 0), (3, 'b0', 'orders', 1), (3, 'b0', 'orders', 2),
  (3, 'b0', 'orders', 3), (3, 'b0', 'orders', 4), (3, 'b1', 'orders', 5),
  (3, 'r0', 'clicks', 0), (3, 'r0', 'clicks', 1), (3, 'r0', 'clicks', 2),
  (3, 'r1', 'clicks', 3), (3, 'r1', 'clicks', 4), (3, 'r1', 'clicks', 5)
) AS t(scenario_id, consumer, topic, partition)
"""


def q_bucket_allocation_vs_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-vs-demand per bucket: partitions held (allocation) vs
    records arriving — the operational dashboard behind the pattern
    (README.md:5-17): does Platinum's 50% partition share cover its load?
    """
    layout = layout_table(spark, EVENTS_CONFIG, EVENTS_NUM_PARTITIONS)
    routed = _events_tagged(spark, sf_dir)  # partition unread -> hash mode
    per_bucket = routed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_records"))
    return (
        per_bucket.join(F.broadcast(layout), "bucket")
        .select(
            "bucket",
            "allocation",
            "bucket_size",
            "n_records",
            (F.col("n_records") / F.col("bucket_size")).alias("records_per_partition"),
        )
    )


SQL_BUCKET_ALLOCATION_VS_LOAD = f"""
{_SQL_ROUTED}
SELECT bucket, l.allocation, l.bucket_size, COUNT(*) AS n_records,
       CAST(COUNT(*) AS DOUBLE) / l.bucket_size AS records_per_partition
FROM routed JOIN layout l USING (bucket)
GROUP BY 1, 2, 3
"""


def q_layout_autobroadcast_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-threshold canary on the layout join (VERDICT r7 item
    7): the SAME capacity-vs-demand rollup as
    ``bucket_allocation_vs_load``, but the layout join is deliberately
    UNHINTED — Catalyst's size estimation alone must choose the
    broadcast. The production router pins its layout join with an
    explicit ``broadcast()`` (``operators/routing.py:route``), so conf
    drift there is impossible; this twin is the early-warning for the
    estimation path every OTHER small-dimension join in the engine
    relies on. The layout is a JVM ``LocalRelation``
    (``operators/routing.py:local_table``) with size statistics, so
    the static plan already broadcasts it, and the plan fingerprint
    pins that (1 shuffle, 2 broadcasts). If a conf change
    (``spark.sql.autoBroadcastJoinThreshold=-1``) or a layout builder
    that loses the statistics (a pickled Python-RDD leaf has none)
    ever flips this join to a shuffle, the fingerprint guard fails
    before any 100 TB run pays for it. ``tests/test_skew_and_bucketing.py``
    additionally proves the demotion mechanism: under threshold=-1 the
    unhinted twin degrades to a shuffle join while the hinted
    production path keeps broadcasting. Hash-oracled (same result as
    the hinted rollup, modulo the extra n_per_alloc_pct column)."""
    layout = layout_table(spark, EVENTS_CONFIG, EVENTS_NUM_PARTITIONS)
    routed = _events_tagged(spark, sf_dir)
    per_bucket = routed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_records")
    )
    return per_bucket.join(layout, "bucket").select(  # NO broadcast() hint
        "bucket",
        "allocation",
        "bucket_size",
        "n_records",
        F.expr("(n_records * 100) DIV allocation")
        .cast("bigint")
        .alias("n_per_alloc_pct"),
    )


SQL_LAYOUT_AUTOBROADCAST_CANARY = f"""
{_SQL_ROUTED}
SELECT bucket, l.allocation, l.bucket_size,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST((COUNT(*) * 100) // l.allocation AS BIGINT) AS n_per_alloc_pct
FROM routed JOIN layout l USING (bucket)
GROUP BY 1, 2, 3
"""


def q_bucket_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median absolute deviation + robust outlier census per
    bucket (``operators/sketches.py:exact_group_mad``) — the robust
    dispersion companion to ``bucket_percentile_exact``, on the same
    histogram lattice: both medians are integer-rule order statistics
    off cumulative counts, deviations are single IEEE subtractions,
    and the |x−median| > 3·MAD outlier count is taken from the
    deviation HISTOGRAM's weights. Hash-oracled bit-exact; nothing
    after the first aggregate scales with rows."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        exact_group_mad,
    )

    routed = _events_tagged(spark, sf_dir)
    return exact_group_mad(routed, group_col="bucket", value_col="value")


SQL_BUCKET_VALUE_MAD = f"""
{_SQL_ROUTED},
hist AS (
  SELECT bucket, value AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM routed WHERE value IS NOT NULL GROUP BY 1, 2
), cm AS (
  SELECT bucket, v, c,
         SUM(c) OVER (PARTITION BY bucket ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY bucket) AS n
  FROM hist
), med AS (
  SELECT bucket, CAST(MAX(n) AS BIGINT) AS n_values,
         MIN(CASE WHEN cum * 100 >= n * 50 THEN v END) AS med
  FROM cm GROUP BY 1
), dh AS (
  SELECT h.bucket, m.n_values, m.med, ABS(h.v - m.med) AS dev,
         CAST(SUM(h.c) AS BIGINT) AS c
  FROM hist h JOIN med m USING (bucket) GROUP BY 1, 2, 3, 4
), dc AS (
  SELECT bucket, dev, c,
         SUM(c) OVER (PARTITION BY bucket ORDER BY dev
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY bucket) AS n
  FROM dh
), madt AS (
  SELECT bucket, MIN(CASE WHEN cum * 100 >= n * 50 THEN dev END) AS mad
  FROM dc GROUP BY 1
)
SELECT d.bucket, d.n_values, d.med AS median, m.mad,
       CAST(COALESCE(SUM(CASE WHEN d.dev > 3.0 * m.mad THEN d.c END), 0)
            AS BIGINT) AS n_outliers,
       CAST((COALESCE(SUM(CASE WHEN d.dev > 3.0 * m.mad THEN d.c END), 0)
             * 1000000) // d.n_values AS BIGINT) AS outlier_ppm
FROM dh d JOIN madt m USING (bucket)
GROUP BY 1, 2, 3, 4
"""


# The rebalance target: Gold grows 30% -> 40% at Platinum's expense.
# Layout (float32 Math.round + contiguous carve-up, same kernel):
# Platinum 0-4 (5), Gold 5-9 (5), Standard 10-11 (2) — pinned by
# tests/test_batch6_ops.py::TestLayoutRebalance against compute_layout
# so the oracle constants below cannot drift from the kernel.
REBALANCED_CONFIG = BucketPriorityConfig(
    topic="events",
    buckets=["Platinum", "Gold", "Standard"],
    allocation=["40%", "40%", "20%"],
)

_SQL_LAYOUT_12_REBALANCED = """
  layout2 AS (
    SELECT * FROM (VALUES
      ('Platinum', 40, 0, 5),
      ('Gold',     40, 5, 5),
      ('Standard', 20, 10, 2)
    ) AS t(bucket, allocation2, partition_lo2, bucket_size2)
  )
"""


def q_layout_rebalance_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration cost of an allocation change — the operational question
    behind P8 (layout invalidation, ``BucketPriorityPartitioner.java``
    rebuilding its map on cluster change): if Gold's allocation grows
    30% → 40%, how many already-routed records sit in a partition the
    NEW layout would not choose? Every record's old and new partition
    come from the same exact bucket sequence (``seq``), so the answer
    is pure arithmetic on the routing plan: partition_old = lo +
    seq % size vs partition_new = lo2 + seq % size2 — two broadcast
    layout joins over one exact-routing pass, zero extra shuffles.
    Per bucket: record count, records whose partition changes, the
    ppm share, and both partition counts."""
    events = with_routing_key(load_table(spark, sf_dir, "events"))
    routed = route(
        events,
        EVENTS_CONFIG,
        EVENTS_NUM_PARTITIONS,
        order_col="event_id",
        mode="exact",
        seq_col="__seq",
    )
    # Both layouts are pure driver-side functions of (config, N) —
    # pre-join them into ONE #buckets-row broadcast instead of two
    # broadcast joins on the routed pass (r13, guide §2.4).
    from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import (
        compute_layout,
    )

    new_rows = {
        r.bucket: (r.partition_lo, r.size)
        for r in compute_layout(
            EVENTS_NUM_PARTITIONS,
            REBALANCED_CONFIG.buckets_with_allocation(),
            topic=REBALANCED_CONFIG.topic,
        )
    }
    old_rows = {
        r.bucket: r.size
        for r in compute_layout(
            EVENTS_NUM_PARTITIONS,
            EVENTS_CONFIG.buckets_with_allocation(),
            topic=EVENTS_CONFIG.topic,
        )
    }
    # Inner-join semantics of the old two joins: keep buckets present
    # in BOTH layouts (configs share the bucket list, so this is all).
    both = local_table(
        spark,
        [
            (b, new_rows[b][0], new_rows[b][1], old_rows[b])
            for b in new_rows
            if b in old_rows
        ],
        "bucket string, __lo2 int, __size2 int, __size1 int",
    )
    moved = routed.join(F.broadcast(both), "bucket").withColumn(
        "__p_new",
        (F.col("__lo2") + F.expr("__seq % __size2")).cast("int"),
    )
    return moved.groupBy("bucket").agg(
        F.max("__size1").cast("int").alias("partitions_before"),
        F.max("__size2").cast("int").alias("partitions_after"),
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.sum(
            F.when(F.col("partition") != F.col("__p_new"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved"),
    ).withColumn(
        "moved_ppm", F.expr("(n_moved * 1000000) DIV n_records").cast("bigint")
    )


SQL_LAYOUT_REBALANCE_IMPACT = f"""
{_SQL_ROUTED},
{_SQL_LAYOUT_12_REBALANCED},
both_layouts AS (
  SELECT r.bucket, r.partition,
         l1.bucket_size AS size1,
         CAST(l2.partition_lo2
              + (ROW_NUMBER() OVER (PARTITION BY r.bucket ORDER BY r.event_id) - 1)
                % l2.bucket_size2 AS INTEGER) AS p_new,
         l2.bucket_size2 AS size2
  FROM routed r
  JOIN layout l1 USING (bucket)
  JOIN layout2 l2 USING (bucket)
)
SELECT bucket,
       CAST(MAX(size1) AS INTEGER) AS partitions_before,
       CAST(MAX(size2) AS INTEGER) AS partitions_after,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(SUM(CASE WHEN partition <> p_new THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       CAST((SUM(CASE WHEN partition <> p_new THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS moved_ppm
FROM both_layouts GROUP BY 1
"""


# The canonical drain fleet: 3 Platinum / 2 Gold / 1 Standard consumers
# — the "more consumers on higher-priority buckets" deployment the
# reference's README prescribes (README.md:11,17).
DRAIN_FLEET = [
    ("p0", "Platinum"), ("p1", "Platinum"), ("p2", "Platinum"),
    ("g0", "Gold"), ("g1", "Gold"),
    ("s0", "Standard"),
]


def q_priority_drain_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end prioritized consumption: route every event (exact
    round-robin, ``BucketPriorityPartitioner.java:62-84``), assign the
    partitions to the canonical 3/2/1 consumer fleet
    (``BucketPriorityAssignor.java:92-149``), and derive the tick at
    which each event is consumed under the fixed-stride poll model
    (``operators/drain.py``) — the query that makes the pattern's whole
    value proposition ("Platinum drains faster") measurable.
    """
    from prioritizing_event_processing_with_apache_kafka_spark.operators.assignment import (
        Subscription,
        assign,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.operators.drain import (
        consumer_map_table,
        drain_schedule,
    )

    subs = [Subscription(c, ["events"], b) for c, b in DRAIN_FLEET]
    plan = assign({"events": EVENTS_NUM_PARTITIONS}, subs, EVENTS_CONFIG)
    cmap = consumer_map_table(spark, plan, topic="events")
    # Scale path: the router's bucket sequence determines the position
    # inside the partition arithmetically (partitions fill round-robin),
    # so no per-partition window is needed — the schedule adds only two
    # tiny broadcast joins over the routing plan (fingerprint-guarded).
    events = with_routing_key(load_table(spark, sf_dir, "events"))
    routed = route(
        events,
        EVENTS_CONFIG,
        EVENTS_NUM_PARTITIONS,
        order_col="event_id",
        mode="exact",
        seq_col="__drain_seq",
    )
    sizes = layout_table(spark, EVENTS_CONFIG, EVENTS_NUM_PARTITIONS).select(
        "bucket", "bucket_size"
    )
    positioned = routed.join(F.broadcast(sizes), "bucket").withColumn(
        # integer `div`, not `/`+cast: exact at any sequence magnitude
        # (a double quotient loses integer precision past 2^53)
        "__drain_pos",
        F.expr("__drain_seq div bucket_size") + F.lit(1),
    )
    sched = drain_schedule(positioned, cmap, pos_col="__drain_pos")
    return sched.select(
        "event_id", "bucket", "partition", "consumer", "drain_tick"
    )


# The 12-row ownership literal is a GOLDEN, not derived from the
# engine's assign() kernel — tests/test_drain.py asserts the kernel
# reproduces it exactly (same independence discipline as
# SQL_ASSIGNMENT_GOLDEN). Shared counter across buckets per
# BucketPriorityAssignor.java:125-139: Platinum partitions 0-5 over
# (p0,p1,p2), Gold 6-9 over (g0,g1) with the counter arriving at 6,
# Standard 10-11 over s0.
SQL_PRIORITY_DRAIN_SCHEDULE = f"""
{_SQL_ROUTED},
  cmap AS (
    SELECT * FROM (VALUES
      (0, 'p0', 2, 0), (1, 'p1', 2, 0), (2, 'p2', 2, 0),
      (3, 'p0', 2, 1), (4, 'p1', 2, 1), (5, 'p2', 2, 1),
      (6, 'g0', 2, 0), (7, 'g1', 2, 0),
      (8, 'g0', 2, 1), (9, 'g1', 2, 1),
      (10, 's0', 2, 0), (11, 's0', 2, 1)
    ) AS t(partition, consumer, owned, poll_idx)
  )
SELECT r.event_id, r.bucket, r.partition, c.consumer,
       CAST((ROW_NUMBER() OVER (PARTITION BY r.partition ORDER BY r.event_id) - 1)
            * c.owned + c.poll_idx + 1 AS BIGINT) AS drain_tick
FROM routed r JOIN cmap c USING (partition)
"""


def q_drain_tick_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 consumption tick per priority bucket — the
    reference pattern's value proposition as THREE numbers per bucket
    (Platinum's tail must sit far left of Standard's). Percentiles are
    explicit order statistics over the (bucket, tick, count) histogram
    — ticks repeat heavily, so the cumulative window sorts distinct
    tick VALUES, not events; the p-quantile test is pure integer
    arithmetic (``100·cum ≥ p·n`` ⇔ ``cum ≥ ⌈p·n/100⌉``), so both
    engines land on identical BIGINTs. At volumes where even distinct
    ticks get large, the KLL sketch rollup (``bucket_value_kll``) is
    the pre-built approximate path; this is the exact one."""
    sched = q_priority_drain_schedule(spark, sf_dir)
    hist = sched.groupBy("bucket", "drain_tick").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("drain_tick")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = Window.partitionBy("bucket")
    cum = hist.select(
        "bucket",
        "drain_tick",
        F.sum("__cnt").over(w).cast("bigint").alias("__cum"),
        F.sum("__cnt").over(wb).cast("bigint").alias("__n"),
    )
    pick = lambda p: F.min(
        F.when(F.col("__cum") * 100 >= F.lit(p) * F.col("__n"), F.col("drain_tick"))
    ).cast("bigint")
    return cum.groupBy("bucket").agg(
        F.max("__n").cast("bigint").alias("n_events"),
        pick(50).alias("p50_tick"),
        pick(95).alias("p95_tick"),
        pick(99).alias("p99_tick"),
    )


SQL_DRAIN_TICK_PERCENTILES = f"""
WITH base AS ({SQL_PRIORITY_DRAIN_SCHEDULE}),
hist AS (
  SELECT bucket, drain_tick, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM base GROUP BY 1, 2
), cum AS (
  SELECT bucket, drain_tick,
         CAST(SUM(cnt) OVER (PARTITION BY bucket ORDER BY drain_tick
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
         CAST(SUM(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS n
  FROM hist
)
SELECT bucket, CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(MIN(CASE WHEN c * 100 >= 50 * n THEN drain_tick END) AS BIGINT) AS p50_tick,
       CAST(MIN(CASE WHEN c * 100 >= 95 * n THEN drain_tick END) AS BIGINT) AS p95_tick,
       CAST(MIN(CASE WHEN c * 100 >= 99 * n THEN drain_tick END) AS BIGINT) AS p99_tick
FROM cum GROUP BY 1
"""


def q_route_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) routing distribution over the
    canonical 12-partition topic — the stateless consistent-placement
    alternative to the reference's range-carved layout: resizing N→N+1
    remaps only ~1/(N+1) keys instead of nearly all of them
    (``operators/routing.py:rendezvous_route``). The per-key argmax of
    ``md5(key ':' partition)`` runs inside ONE projected expression
    (``array_max`` over struct(digest, pid)) — zero shuffle, no state —
    and only the 12-row distribution aggregates."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
        rendezvous_route,
    )

    from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
        spread,
    )

    # Project to the key, then fan the scan out (r13, guide §2.5/§4):
    # the 12-digest argmax is a per-row-expensive projection, and a
    # small/coarse-row-group parquet input scans as a single task —
    # serializing every md5 onto one core. spread() is a no-op once the
    # scan is wider than the cluster parallelism (real-scale inputs);
    # the key-only projection keeps the injected round-robin exchange
    # to a few bytes per row.
    events = spread(
        with_routing_key(load_table(spark, sf_dir, "events")).select("key")
    )
    routed = rendezvous_route(
        events, key_col="key", num_partitions=EVENTS_NUM_PARTITIONS
    )
    return (
        routed.groupBy(F.col("partition").cast("bigint").alias("partition"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("record_count"))
    )


SQL_ROUTE_RENDEZVOUS = f"""
WITH {_SQL_EVENTS_KEYED},
pw AS (
  SELECT event_id, t.p AS p,
         md5(key || ':' || CAST(t.p AS VARCHAR)) AS w
  FROM keyed_events CROSS JOIN range(0, {EVENTS_NUM_PARTITIONS}) t(p)
),
pick AS (
  SELECT event_id, arg_max(p, w) AS partition FROM pw GROUP BY event_id
)
SELECT CAST(partition AS BIGINT) AS partition,
       CAST(COUNT(*) AS BIGINT) AS record_count
FROM pick GROUP BY 1
"""


# ---------------------------------------------------------------------------
# B. Relational surface (TPC-H-ish over the fixture star schema)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation with exact decimal
    arithmetic. The headline batch-aggregation benchmark query."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    disc_price = (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + grouped revenue + deterministic top-10."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    revenue = F.sum(
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    ).cast("double")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; dims broadcast, facts co-joined."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    revenue = F.sum(
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    ).cast("double")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(
            F.broadcast(cust),
            (orders["o_custkey"] == cust["c_custkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(revenue.alias("revenue"))
    )


SQL_Q5 = """
SELECT r_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + tight filter + single aggregate —
    the predicate-pushdown showcase (all three filters reach parquet)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_Q6 = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast join —
    share of promo-type part revenue in a ship-month."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = load_table(spark, sf_dir, "part")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return joined.agg(
        (
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(disc_price).cast("double")
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SQL_Q14 = """
SELECT
  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
    AS promo_revenue_pct,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate → HAVING filter → join back to
    dimensions → deterministic top-k (large-volume customers)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("__qty"))
        .filter(F.col("__qty") > 250)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("__qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


SQL_Q18 = """
SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(qty AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery decorrelated into
    a per-part average join — revenue from lineitems below 50% of their
    part's average quantity."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("__avg_qty")
    )
    return (
        li.join(per_part_avg, li["l_partkey"] == F.col("__pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("__avg_qty"))
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_Q17 = """
WITH per_part AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE l_quantity < 0.5 * avg_qty
"""


def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank window: top-3 events per user by value (deterministic ties)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


SQL_TOP_EVENTS_PER_USER = """
SELECT user_id, event_id, value, rn FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
"""


def q_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: rollup (bucket, event_type) — the priority dashboard."""
    routed = _events_tagged(spark, sf_dir)
    dec_value = F.col("value").cast("decimal(18,2)")
    return (
        routed.rollup("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec_value).cast("double").alias("sum_value"),
        )
    )


SQL_BUCKET_ROLLUP = f"""
{_SQL_ROUTED}
SELECT bucket, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM routed
GROUP BY ROLLUP (bucket, event_type)
"""


def q_bucket_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: full cube over (bucket, event_type)."""
    routed = _events_tagged(spark, sf_dir)
    return routed.cube("bucket", "event_type").agg(F.count(F.lit(1)).alias("n_events"))


SQL_BUCKET_CUBE = f"""
{_SQL_ROUTED}
SELECT bucket, event_type, COUNT(*) AS n_events
FROM routed
GROUP BY CUBE (bucket, event_type)
"""


def q_user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() window: mean inter-event gap per user in microseconds."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        events.withColumn("gap_us", gap)
        .filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            (F.sum("gap_us").cast("double") / F.count(F.lit(1))).alias("avg_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


SQL_USER_EVENT_GAPS = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id, COUNT(*) AS n_gaps,
       CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_gap_us,
       MAX(gap_us) AS max_gap_us
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


def q_running_bucket_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame aggregate: running event count per bucket over event time."""
    routed = _events_tagged(spark, sf_dir)  # partition unread -> hash mode
    w = (
        Window.partitionBy("bucket")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return routed.select(
        "bucket", "event_id", F.count(F.lit(1)).over(w).alias("running_count")
    )


SQL_RUNNING_BUCKET_COUNT = f"""
{_SQL_ROUTED}
SELECT bucket, event_id,
       COUNT(*) OVER (PARTITION BY bucket ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_count
FROM routed
"""


def q_distinct_users_per_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation per bucket."""
    routed = _events_tagged(spark, sf_dir)
    return routed.groupBy("bucket").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


SQL_DISTINCT_USERS_PER_BUCKET = f"""
{_SQL_ROUTED}
SELECT bucket, COUNT(DISTINCT user_id) AS n_users, COUNT(DISTINCT event_type) AS n_types
FROM routed GROUP BY 1
"""


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct per bucket — sketch aggregation for
    high-cardinality keys at scale. No SQL oracle (engine-specific
    sketch); instead the exact distinct is computed in the same plan
    and ``rel_error_pct`` makes every row self-auditing — the local
    correctness gate (tools/check_oracle.py) enforces the rsd bound as
    a hard pass/fail."""
    routed = _events_tagged(spark, sf_dir)
    return routed.groupBy("bucket").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    ).select(
        "bucket",
        "approx_users",
        "exact_users",
        F.round(
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            * 100,
            2,
        ).alias("rel_error_pct"),
    )


def q_approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile sketch (GK algorithm) per bucket — the
    constant-memory streaming-friendly counterpart of the exact
    `bucket_value_percentiles`. Engine-specific sketch → no SQL
    oracle; the exact percentiles ride along in the same plan and
    ``max_rel_error_pct`` (worst of p50/p90 value-space error) is
    enforced as a hard bound by tools/check_oracle.py."""
    routed = _events_tagged(spark, sf_dir)
    agg = routed.groupBy("bucket").agg(
        F.percentile_approx("value", 0.5, 1000).alias("p50_approx"),
        F.percentile_approx("value", 0.9, 1000).alias("p90_approx"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
        F.expr("percentile(value, 0.9)").alias("p90_exact"),
    )

    def _rel(approx: str, exact: str):
        # exact == 0 would null the division and a coalesce-to-0 would
        # BLIND the audit (any approx value would pass); fall back to
        # the absolute error there instead, so a wrong sketch at an
        # exactly-zero percentile still trips the bound.
        return F.when(
            F.col(exact) == 0.0,
            F.abs(F.col(approx)) * 100,
        ).otherwise(
            F.abs(F.col(approx) - F.col(exact))
            / F.abs(F.col(exact))
            * 100
        )

    return agg.select(
        "bucket",
        "p50_approx",
        "p90_approx",
        F.round(
            F.greatest(
                _rel("p50_approx", "p50_exact"),
                _rel("p90_approx", "p90_exact"),
            ),
            3,
        ).alias("max_rel_error_pct"),
    )


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the events ``props`` column."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_EVENTS_JSON_EXTRACT = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY 1
"""


def _events_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A fresh Structured Streaming file source over the events table
    (each call returns an independent source — a stream-stream self-
    join needs two)."""
    events_path = f"{sf_dir.rstrip('/')}/events.parquet"
    schema = spark.read.parquet(events_path).schema
    import os as _os

    if _os.path.isdir(events_path):
        # Spark-written table (directory of part files, e.g. the
        # scale-probe replicas): the directory itself is a valid file
        # streaming source.
        return spark.readStream.schema(schema).parquet(events_path)
    # Single-file fixture: the file streaming source lists a
    # *directory*, so list the parent with pathGlobFilter
    # narrowing it to the events table (a glob on FILE names —
    # it would match nothing if events.parquet were a directory).
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )


def _drain_to_memory_sink(
    spark: SparkSession, df: DataFrame, *, name_prefix: str, output_mode: str
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink and return the sink table. The checkpoint dir is
    removed after the drain (a memory sink cannot resume from one
    anyway)."""
    import shutil
    import tempfile
    import uuid

    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    chk = tempfile.mkdtemp(prefix="peps-replay-chk-")
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(chk, ignore_errors=True)
    return spark.table(name)


def _replay_events_stream(
    spark: SparkSession,
    sf_dir: str,
    transform,
    *,
    name_prefix: str,
    normalize_ts: bool = False,
    output_mode: str = "complete",
) -> DataFrame:
    """Replay the events table as a real Structured Streaming file
    source (availableNow), apply ``transform``, drain into a memory
    sink, and return the sink table."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = _events_stream_source(spark, sf_dir)
    if normalize_ts:
        # Same dtype-dispatched normalization load_table applies on the
        # batch path (long-nanos / NTZ / tz-aware all handled).
        stream = normalize_event_ts(stream)
    return _drain_to_memory_sink(
        spark, transform(stream), name_prefix=name_prefix, output_mode=output_mode
    )


def q_stream_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch/stream unification, oracle-checked: the events table is
    replayed as a real Structured Streaming file source (availableNow),
    routed with the same stateless column expressions as the batch
    path, and aggregated per (bucket, event_type) in complete mode.
    Because routing is pure column logic, the streaming result is
    bit-identical to the batch SQL oracle — the property that lets one
    codebase serve both paths (SURVEY.md §3.4)."""

    def build(stream: DataFrame) -> DataFrame:
        routed = route(
            with_routing_key(stream),
            EVENTS_CONFIG,
            EVENTS_NUM_PARTITIONS,
            key_col="key",
            order_col="event_id",
            mode="spread",
        )
        return routed.groupBy("bucket", "event_type").agg(
            F.count(F.lit(1)).alias("n_events")
        )

    return _replay_events_stream(spark, sf_dir, build, name_prefix="stream_route_counts")


SQL_STREAM_ROUTE_COUNTS = """
SELECT CASE WHEN event_type = 'error' THEN 'Platinum'
            WHEN event_type = 'purchase' THEN 'Gold'
            ELSE 'Standard' END AS bucket,
       event_type, COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_stream_route_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's lifetime per-bucket round-robin counter
    (``Bucket.java:14,22-29``) with FULL intra-batch parallelism
    (VERDICT r12 item 1): counter-block reservation per micro-batch —
    per-(task, bucket) counts offset the persisted lifetime counters,
    a distributed zip-with-index ranks rows within the batch, and
    ``seq = base + rank`` reproduces the exact AtomicInteger sequence
    with no one-task-per-bucket funnel (``streaming/lifetime.py``).

    The events table is split at the event_id midpoint and replayed as
    two real availableNow micro-batches through ``foreachBatch`` with a
    checkpoint and a versioned counter-state dir; the query SHARES the
    ``route_events_exact`` oracle: batch 2 continues batch 1's sequence
    bit-identically to the batch exact-mode router. ``lifetime.py`` is
    the package's one lifetime-exact router.
    """
    import os
    import shutil
    import tempfile

    from prioritizing_event_processing_with_apache_kafka_spark.streaming.lifetime import (
        lifetime_foreach_batch,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.staging import (
        stage_two_batch_stream,
    )

    events = with_routing_key(load_table(spark, sf_dir, "events")).select(
        "event_id", "key"
    )
    lo_hi = events.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).collect()[0]
    mid = (lo_hi["lo"] + lo_hi["hi"]) // 2
    root = tempfile.mkdtemp(prefix="peps-lifetime-route-")
    try:
        # Parallel staging (files_per_batch > 1): the router sorts by
        # event_id inside each batch, so intra-batch arrival order is
        # irrelevant and the serial coalesce(1) write — 8.7 s of the
        # 100x grow probe's wall — can fan out across the cluster.
        k_files = 8
        src_dir, schema = stage_two_batch_stream(
            root,
            [
                events.filter(F.col("event_id") <= mid),
                events.filter(F.col("event_id") > mid),
            ],
            files_per_batch=k_files,
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", k_files)
            .parquet(src_dir)
        )
        out_dir = os.path.join(root, "out")
        state_dir = os.path.join(root, "state")
        chk = os.path.join(root, "chk")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # Only the oracle columns: writing the routed key back out
            # would double the sink bytes for a column the readout drops.
            batch_df.select("event_id", "bucket", "partition").write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            stream.writeStream.foreachBatch(
                lifetime_foreach_batch(
                    EVENTS_CONFIG,
                    EVENTS_NUM_PARTITIONS,
                    sink,
                    state_dir=state_dir,
                    key_col="key",
                    order_col="event_id",
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        result = spark.read.parquet(out_dir)
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_windowed_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windows on a real stream, oracle-checked:
    hourly per-bucket event counts computed by Structured Streaming
    (1-hour tumbling windows, 2-hour watermark, availableNow replay).
    The replay delivers everything in order before the watermark
    advances past it, so the streaming result equals the batch
    date_trunc aggregation bit-for-bit — late-data *semantics* (drops
    under a stale watermark) are exercised separately in
    tests/test_streaming.py where lateness can be staged across
    micro-batches."""

    def build(stream: DataFrame) -> DataFrame:
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.telemetry import (
            bucket_throughput,
        )

        keyed = with_routing_key(stream)
        bucket = extract_bucket(F.col("key"), EVENTS_CONFIG.delimiter)
        # the SAME telemetry operator the batch twin
        # (q_bucket_throughput_hourly) runs — one shared code path for
        # both oracle checks, not two hand-kept copies
        return bucket_throughput(
            keyed.withColumn("bucket", bucket), watermark="2 hours"
        ).withColumnRenamed("window_start", "hour_start")

    return _replay_events_stream(
        spark, sf_dir, build, name_prefix="stream_windowed", normalize_ts=True
    )


SQL_STREAM_WINDOWED_THROUGHPUT = """
SELECT date_trunc('hour', ts) AS hour_start,
       CASE WHEN event_type = 'error' THEN 'Platinum'
            WHEN event_type = 'purchase' THEN 'Gold'
            ELSE 'Standard' END AS bucket,
       COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_stream_sessionized_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows on a real stream, oracle-checked: per-user
    ``session_window(ts, '30 minutes')`` aggregation (streaming/telemetry
    ``user_sessions``) replayed availableNow in complete mode, so every
    merged session is emitted and the result equals the batch
    gaps-and-islands sessionization exactly. Boundary semantics: each
    event's window is ``[ts, ts + 30min]`` and Spark merges sessions
    whenever the next window's start is <= the running session end, so
    a gap of EXACTLY 30 minutes still merges into ONE session — the
    oracle therefore flags a new session only on ``gap > 30min``,
    matching the batch ``sessionized_events`` oracle."""
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.telemetry import (
        user_sessions,
    )

    return _replay_events_stream(
        spark,
        sf_dir,
        lambda stream: user_sessions(stream),
        name_prefix="stream_sessions",
        normalize_ts=True,
    )


SQL_STREAM_SESSIONIZED_USERS = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS session_events
FROM numbered GROUP BY user_id, session_id
"""


def q_stream_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, oracle-checked: the replayed
    event stream inner-joins the static customer dimension
    (``user_id = c_custkey``) inside the streaming query, then
    aggregates event counts and exact-decimal revenue per
    (market segment, event type) in complete mode. This is the
    standard dimension-enrichment shape at scale: the static side is
    planned per micro-batch (broadcast hash join, no streaming state
    for the join itself), so dimension updates are picked up between
    batches and the stream side never shuffles for the join."""
    customers = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.join(customers, stream["user_id"] == customers["c_custkey"])
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
        )

    return _replay_events_stream(
        spark, sf_dir, build, name_prefix="stream_enriched_segments"
    )


SQL_STREAM_ENRICHED_SEGMENTS = """
SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def q_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup, oracle-checked:
    ``dropDuplicatesWithinWatermark`` on (user_id, event_type) over the
    replayed stream, append mode. WHICH physical row survives per key is
    arrival-order-dependent, so the query projects only the dedup keys —
    that set (= the distinct pairs seen) is deterministic and equals the
    batch DISTINCT, while the run still exercises the real streaming
    state store (first-seen emit, watermark-bounded state). The
    watermark is set wider than the fixture's full time span so the
    DISTINCT equivalence holds even if the replay runs as multiple
    microbatches (e.g. maxFilesPerTrigger or a multi-file fixture):
    a short watermark would evict state between batches and re-emit
    keys. Production callers pass a horizon matched to their lateness
    bound instead."""
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.telemetry import (
        dedup_within_watermark,
    )

    def build(stream: DataFrame) -> DataFrame:
        return dedup_within_watermark(
            stream, keys=["user_id", "event_type"], watermark="3650 days"
        ).select("user_id", "event_type")

    return _replay_events_stream(
        spark,
        sf_dir,
        build,
        name_prefix="stream_dedup",
        normalize_ts=True,
        output_mode="append",
    )


SQL_STREAM_DEDUP_KEYS = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json(props)`` once into the binary variant encoding, then
    typed ``variant_get`` paths — the engine-native path for schemaless
    columns (parse once, extract many, no per-path string re-parse the
    ``get_json_object`` twin ``events_json_extract`` pays). Same
    aggregate contract as that twin, distinct aliases, DuckDB JSON
    oracle."""
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        events.withColumn("__k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__k").alias("variant_sum_k"),
            F.min("__k").alias("variant_min_k"),
            F.max("__k").alias("variant_max_k"),
        )
    )


SQL_EVENTS_VARIANT_EXTRACT = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS variant_sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS variant_min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS variant_max_k
FROM events GROUP BY 1
"""


def q_bucket_metric_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape with the native ``unpivot`` (the inverse of
    ``bucket_pivot``): per-bucket metrics computed once in wide form,
    melted into (bucket, metric, metric_value) rows — one aggregation
    pass plus a zero-shuffle projection, vs the UNION-ALL oracle's
    three scans."""
    tagged = _events_tagged(spark, sf_dir)
    wide = tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.countDistinct("user_id").cast("double").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return wide.unpivot(
        ids=["bucket"],
        values=["n_events", "n_users", "sum_value"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


SQL_BUCKET_METRIC_UNPIVOT = """
WITH tagged AS (
  SELECT CASE WHEN event_type = 'error' THEN 'Platinum'
              WHEN event_type = 'purchase' THEN 'Gold'
              ELSE 'Standard' END AS bucket,
         user_id, value
  FROM events
), wide AS (
  SELECT bucket,
         CAST(COUNT(*) AS DOUBLE) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM tagged GROUP BY 1
)
SELECT bucket, 'n_events' AS metric, n_events AS metric_value FROM wide
UNION ALL
SELECT bucket, 'n_users', n_users FROM wide
UNION ALL
SELECT bucket, 'sum_value', sum_value FROM wide
"""


def q_bucket_user_reach_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct reach: per-(bucket, hour) HLL sketches of
    user_id merged into per-bucket totals — the sketch-rollup pattern
    that answers coarser distincts without rescanning raw rows at
    100 TB. Approximate by design (DataSketches estimates aren't
    DuckDB-replayable), so no SQL oracle; instead the exact distinct
    and relative error are computed in the same plan and every row is
    self-auditing (tests bound |rel_error_pct|)."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        hll_distinct_rollup,
    )

    tagged = _events_tagged(spark, sf_dir).withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    return hll_distinct_rollup(
        tagged, key_col="user_id", group_col="bucket", cell_col="hour"
    ).orderBy("bucket")


def q_user_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: estimated |purchasers ∩ error-users|,
    |∪| and |purchasers \\ error-users| from two KB-sized sketches —
    the sketch-side answer to "how many users did X but never Y"
    without materializing either ID set. Exact counts from the same
    input ride along; approximate by design, so rows-only for the
    driver with in-query audit columns."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        theta_set_overlap,
    )

    events = load_table(spark, sf_dir, "events")
    return theta_set_overlap(
        events,
        key_col="user_id",
        set_col="event_type",
        left_value="purchase",
        right_value="error",
    )


def q_bucket_value_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantiles: per-(bucket, hour) KLL(double) sketches of
    the event value, merged per bucket and probed at P50/P90/P99 —
    bounded-size summaries instead of the full sort exact percentiles
    need. Exact percentiles ride along per quantile for the audit;
    approximate by design, so rows-only for the driver."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        kll_value_quantiles,
    )

    tagged = _events_tagged(spark, sf_dir).withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    return kll_value_quantiles(
        tagged, value_col="value", group_col="bucket", cell_col="hour"
    ).orderBy("bucket")


def q_events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: every event annotated with the user's
    most recent purchase at-or-before it — "time since last conversion",
    the canonical feature-engineering join. Spark has no native as-of
    join; ``operators/asof.py`` composes it as union + one keyed window
    (single shuffle, zero join explosion). DuckDB's native ASOF LEFT
    JOIN replays the semantics for the oracle."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("purchase_id"))
    )
    out = asof_join(
        events,
        purchases,
        on="user_id",
        right_cols=["purchase_id"],
        matched_ts_col="last_purchase_ts",
    )
    return out.withColumn(
        "secs_since_purchase",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_purchase_ts"))
        ).cast("double")
        / F.lit(1000000.0),
    )


SQL_EVENTS_ASOF_LAST_PURCHASE = """
WITH purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
)
SELECT e.user_id, e.ts, e.event_id, e.event_type,
       p.p_ts AS last_purchase_ts,
       p.purchase_id,
       CAST(epoch_us(e.ts) - epoch_us(p.p_ts) AS DOUBLE) / 1000000.0
         AS secs_since_purchase
FROM events e
ASOF LEFT JOIN purchases p ON e.user_id = p.user_id AND e.ts >= p.p_ts
"""


def q_events_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each event, the user's NEXT error event
    (strictly after it) — lead-time-to-failure labeling. Exercises
    ``direction='forward', allow_exact=False``; oracled by DuckDB ASOF
    with the ``<`` inequality."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    errors = events.filter(F.col("event_type") == "error").select("user_id", "ts")
    out = asof_join(
        events,
        errors,
        on="user_id",
        direction="forward",
        allow_exact=False,
        matched_ts_col="next_error_ts",
    )
    return out.withColumn(
        "secs_to_error",
        (
            F.unix_micros(F.col("next_error_ts")) - F.unix_micros(F.col("ts"))
        ).cast("double")
        / F.lit(1000000.0),
    )


SQL_EVENTS_ASOF_NEXT_ERROR = """
WITH errors AS (
  SELECT user_id, ts AS e_ts FROM events WHERE event_type = 'error'
)
SELECT e.user_id, e.ts, e.event_id, e.event_type,
       x.e_ts AS next_error_ts,
       CAST(epoch_us(x.e_ts) - epoch_us(e.ts) AS DOUBLE) / 1000000.0
         AS secs_to_error
FROM events e
ASOF LEFT JOIN errors x ON e.user_id = x.user_id AND e.ts < x.e_ts
"""


def q_incident_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via bin bucketing: each error event opens a 15-minute
    incident window; count (and sum value over) all events falling in
    each window. The naive inequality join is a nested-loop product —
    ``operators/rangejoin.py`` turns it into an equi-join on a time bin
    (O(n + m + matches)); the DuckDB oracle runs the naive inequality
    join, proving the rewrite exact."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.rangejoin import (
        bin_range_join,
    )

    events = load_table(spark, sf_dir, "events")
    incidents = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("window_start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("window_end"),
    )
    points = events.select("ts", "value")
    joined = bin_range_join(
        points,
        incidents,
        point_ts="ts",
        lo="window_start",
        hi="window_end",
        bin_width_seconds=900,
    )
    return joined.groupBy("incident_id", "window_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


SQL_INCIDENT_WINDOW_COUNTS = """
WITH incidents AS (
  SELECT event_id AS incident_id, ts AS window_start,
         ts + INTERVAL 15 MINUTE AS window_end
  FROM events WHERE event_type = 'error'
)
SELECT i.incident_id, i.window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM incidents i
JOIN events e ON e.ts >= i.window_start AND e.ts < i.window_end
GROUP BY 1, 2
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that never ordered."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join with a filtered build side: customers that never placed
    an order above 250k (non-empty complement of the semi join below)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return (
        cust.join(big, cust["c_custkey"] == big["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SQL_CUSTOMERS_WITHOUT_BIG_ORDERS = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000)
"""


def q_big_spender_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join + aggregation: segment stats over customers that placed
    at least one order above 100k."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        cust.join(big, cust["c_custkey"] == big["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(dec("c_acctbal")).cast("double").alias("sum_acctbal"),
        )
    )


SQL_BIG_SPENDER_SEGMENTS = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
GROUP BY 1
"""


def q_union_priority_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: per-tier aggregates unioned back into one result
    (unionByName of per-bucket result streams).

    The tiers share one aggregation over a single scan of events — the
    grouped frame (≤ buckets × event_types rows) is persisted and each
    tier is a filter over it, so the union costs three scans of a tiny
    cached frame instead of three scans of the fact table (the plan
    that survives a 100× scale-up)."""
    routed = _events_tagged(spark, sf_dir)
    dec_value = F.col("value").cast("decimal(18,2)")
    agg = (
        routed.groupBy("bucket", "event_type")
        .agg(F.sum(dec_value).cast("double").alias("sum_value"))
    )
    agg = scoped_persist(agg)

    def tier(bucket: str) -> DataFrame:
        return agg.filter(F.col("bucket") == bucket).select(
            "event_type", "sum_value", "bucket"
        )

    return tier("Platinum").unionByName(tier("Gold")).unionByName(tier("Standard"))


SQL_UNION_PRIORITY_TIERS = f"""
{_SQL_ROUTED}
SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, bucket
FROM routed WHERE bucket = 'Platinum' GROUP BY event_type, bucket
UNION ALL
SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, bucket
FROM routed WHERE bucket = 'Gold' GROUP BY event_type, bucket
UNION ALL
SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, bucket
FROM routed WHERE bucket = 'Standard' GROUP BY event_type, bucket
"""


def q_sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (batch analog of session windows): 30-minute
    inactivity gap splits sessions; per-user session stats."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    session_id = F.sum(new_session).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = (
        events.withColumn("session_id", session_id)
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("session_events"))
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("session_events").alias("max_session_events"),
    )


SQL_SESSIONIZED_EVENTS = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, session_id, COUNT(*) AS session_events
  FROM numbered GROUP BY 1, 2
)
SELECT user_id, COUNT(*) AS n_sessions, MAX(session_events) AS max_session_events
FROM sessions GROUP BY 1
"""


def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: how many
    users completed each prefix *in timestamp order* (a click before
    the first view doesn't count, nor a purchase before that click).

    Shape: three chained conditional-min window passes over the same
    ``user_id`` partitioning — Catalyst plans ONE exchange and reuses
    it for all three windows and the per-user rollup, so the funnel
    costs a single fact shuffle regardless of how many stages the
    funnel has."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        events.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_full_funnel"),
    )


SQL_CONVERSION_FUNNEL = """
WITH w1 AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM events
), w2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
              OVER (PARTITION BY user_id) AS t_click
  FROM w1
), w3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
              OVER (PARTITION BY user_id) AS t_purchase
  FROM w2
), per_user AS (
  SELECT user_id, MIN(t_view) AS t_view, MIN(t_click) AS t_click,
         MIN(t_purchase) AS t_purchase
  FROM w3 GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t_view) AS BIGINT) AS n_viewed,
       CAST(COUNT(t_click) AS BIGINT) AS n_view_click,
       CAST(COUNT(t_purchase) AS BIGINT) AS n_full_funnel
FROM per_user
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first event; distinct active users per (cohort week, week offset).
    One window pass for first-seen plus one distinct aggregation."""
    events = load_table(spark, sf_dir, "events")
    first_ts = F.min("ts").over(Window.partitionBy("user_id"))
    df = (
        events.withColumn(
            "cohort_week", F.date_trunc("week", first_ts).cast("date")
        )
        .withColumn(
            "week_offset",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            ).cast("int"),
        )
    )
    return df.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active_users")
    )


SQL_COHORT_RETENTION = """
WITH fu AS (
  SELECT user_id, ts, MIN(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events
)
SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
       CAST(date_diff('day', CAST(date_trunc('week', first_ts) AS DATE),
                      CAST(date_trunc('week', ts) AS DATE)) / 7 AS INTEGER)
         AS week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users
FROM fu GROUP BY 1, 2
"""


def q_bucket_quiet_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap detection: hours inside the corpus's span in
    which a bucket saw zero events. The spine (sequence + explode over
    the min/max hour bounds) and the bucket list are both tiny, so the
    grid is broadcast work; the only fact-side cost is one distinct over
    (bucket, hour) — map-side combined to ≤ #buckets × #hours rows."""
    routed = _events_tagged(spark, sf_dir)
    bounds = routed.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour_ts")
    )
    buckets = routed.select("bucket").distinct()
    grid = spine.join(F.broadcast(buckets), F.lit(True))
    actual = routed.select(
        "bucket", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).distinct()
    quiet = grid.join(actual, ["bucket", "hour_ts"], "left_anti")
    return quiet.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_quiet_hours"),
        F.min("hour_ts").alias("first_quiet"),
        F.max("hour_ts").alias("last_quiet"),
    )


SQL_BUCKET_QUIET_HOURS = f"""
{_SQL_ROUTED}
, bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM routed
), spine AS (
  SELECT make_timestamp(epoch_us(b.lo) + g.i * 3600000000) AS hour_ts
  -- static-series cap: 10,000 hours ~ 416 days; the fixtures span
  -- 719 hours (measured). DuckDB's table-function generate_series
  -- can't take lateral column bounds, hence a static series with a
  -- WHERE guard. A corpus past the cap would truncate the oracle's
  -- spine, not the Spark side's unbounded sequence().
  FROM bounds b CROSS JOIN generate_series(0, 9999) AS g(i)
  WHERE make_timestamp(epoch_us(b.lo) + g.i * 3600000000) <= b.hi
), grid AS (
  SELECT r.bucket, s.hour_ts
  FROM (SELECT DISTINCT bucket FROM routed) r CROSS JOIN spine s
), actual AS (
  SELECT DISTINCT bucket, date_trunc('hour', ts) AS hour_ts FROM routed
), quiet AS (
  SELECT g.bucket, g.hour_ts
  FROM grid g LEFT JOIN actual a
    ON g.bucket = a.bucket AND g.hour_ts = a.hour_ts
  WHERE a.bucket IS NULL
)
SELECT bucket, COUNT(*) AS n_quiet_hours,
       MIN(hour_ts) AS first_quiet, MAX(hour_ts) AS last_quiet
FROM quiet GROUP BY 1
"""


def q_ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample of a sparse event slice (high-value events,
    ``value >= 19``) with linear interpolation across the gap hours —
    the densify step every downstream rolling/EWMA/anomaly computation
    assumes (``operators/timeseries.py:gap_fill_interpolate``). Values
    ride the exact cents lattice so both engines interpolate from
    identical integers; ~15% of spine hours are gaps at sf0.01."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
        gap_fill_interpolate,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") >= 19.0)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
    )
    return gap_fill_interpolate(hourly)


SQL_TS_GAP_FILL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM events WHERE value >= 19.0 GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(hour) AS mn, MAX(hour) AS mx FROM hourly GROUP BY 1
), spine AS (
  SELECT event_type, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
  FROM bounds
), j AS (
  SELECT s.event_type, s.hour, h.n_events, h.value_cents
  FROM spine s LEFT JOIN hourly h USING (event_type, hour)
), br AS (
  SELECT *,
    last_value(value_cents IGNORE NULLS) OVER w_back AS prev_v,
    last_value(CASE WHEN value_cents IS NOT NULL THEN hour END IGNORE NULLS)
      OVER w_back AS prev_h,
    first_value(value_cents IGNORE NULLS) OVER w_fwd AS next_v,
    first_value(CASE WHEN value_cents IS NOT NULL THEN hour END IGNORE NULLS)
      OVER w_fwd AS next_h
  FROM j
  WINDOW
    w_back AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_fwd AS (PARTITION BY event_type ORDER BY hour
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       ROUND(CASE WHEN value_cents IS NOT NULL THEN CAST(value_cents AS DOUBLE)
             ELSE CAST(prev_v AS DOUBLE)
                  + (CAST(next_v AS DOUBLE) - CAST(prev_v AS DOUBLE))
                    * (CAST(date_diff('hour', prev_h, hour) AS DOUBLE)
                       / CAST(date_diff('hour', prev_h, next_h) AS DOUBLE))
             END, 6) AS filled,
       value_cents IS NULL AS is_gap
FROM br
"""


def q_user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartile assignment per user (high-cardinality window
    partitioning) with per-quartile spend stats."""
    events = load_table(spark, sf_dir, "events")
    quartile = F.ntile(4).over(
        Window.partitionBy("user_id").orderBy(F.col("value").asc(), F.col("event_id").asc())
    )
    return (
        events.withColumn("quartile", quartile)
        .groupBy("user_id", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "sum_value"
            ),
        )
    )


SQL_USER_VALUE_QUARTILES = """
SELECT user_id, quartile, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM (
  SELECT user_id, value,
         NTILE(4) OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS quartile
  FROM events
)
GROUP BY 1, 2
"""


def q_bucket_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event value per bucket (width_bucket —
    single-pass, shuffle only on the tiny (bucket, bin) key)."""
    routed = _events_tagged(spark, sf_dir)
    return (
        routed.withColumn(
            "bin", F.width_bucket(F.col("value"), F.lit(0.0), F.lit(500.0), F.lit(10))
        )
        .groupBy("bucket", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


# DuckDB has no width_bucket; replay Spark's semantics (0 below min,
# n+1 at/above max, else floor(v/width)+1) in plain arithmetic.
SQL_BUCKET_VALUE_HISTOGRAM = f"""
{_SQL_ROUTED}
SELECT bucket,
       CAST(CASE WHEN value < 0.0 THEN 0
                 WHEN value >= 500.0 THEN 11
                 ELSE FLOOR(value / 50.0) + 1 END AS BIGINT) AS bin,
       COUNT(*) AS n_events,
       ROUND(MIN(value), 2) AS min_value,
       ROUND(MAX(value), 2) AS max_value
FROM routed
GROUP BY 1, 2
"""


def q_sliding_window_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window event counts (1-hour window, 30-minute slide) per
    event type — the batch analog of a sliding streaming aggregation;
    every event lands in exactly two overlapping windows."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


# Spark's window(ts, 1h, 30m) assigns each event to the two epoch-aligned
# 30-minute starts in (ts - 1h, ts]; replay that expansion with unnest.
SQL_SLIDING_WINDOW_THROUGHPUT = """
WITH expanded AS (
  SELECT event_type,
         unnest([
           make_timestamp((epoch_us(ts) // 1800000000) * 1800000000),
           make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000)
         ]) AS window_start
  FROM events
)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM expanded
GROUP BY 1, 2
"""


def q_error_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (batch twin of the stream-stream join in
    ``streaming/telemetry.py::interval_join``): purchases paired with
    the same user's errors from the preceding 30 minutes."""
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.telemetry import interval_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    joined = interval_join(
        purchases, errors, on="user_id", lookback="30 minutes", lookahead="0 seconds"
    )
    return joined.select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_id_r").alias("error_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))).alias("gap_us"),
    )


SQL_ERROR_PURCHASE_INTERVAL = """
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       e.event_id AS error_id,
       epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
FROM events p
JOIN events e
  ON p.event_type = 'purchase' AND e.event_type = 'error'
 AND e.user_id = p.user_id
 AND e.ts >= p.ts - INTERVAL 30 MINUTE
 AND e.ts <= p.ts
"""


def q_stream_error_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine stream-stream interval join, oracle-checked: purchases
    and errors replayed as two INDEPENDENT watermarked file streams and
    joined on user within a 30-minute lookback
    (``streaming/telemetry.py::interval_join`` — the same operator the
    batch ``error_purchase_interval`` query runs). The range predicate
    doubles as the state-expiry bound, so join state per key is capped
    by watermark + lookback and the query runs indefinitely at
    production rates; an inner stream-stream join emits each pair as
    soon as both sides arrive, so the emitted pair set equals the batch
    SQL bit-for-bit (arrival order only affects emission order). The
    watermark is set wider than the fixture's time span so a
    multi-file replay (e.g. the scale-probe replicas) cannot evict
    state between micro-batches — the same multi-batch-safety contract
    ``stream_dedup_keys`` documents; production callers pass their
    lateness bound instead."""
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.telemetry import (
        interval_join,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    purchases = normalize_event_ts(_events_stream_source(spark, sf_dir)).filter(
        F.col("event_type") == "purchase"
    )
    errors = normalize_event_ts(_events_stream_source(spark, sf_dir)).filter(
        F.col("event_type") == "error"
    )
    joined = interval_join(
        purchases,
        errors,
        on="user_id",
        lookback="30 minutes",
        watermark="3650 days",
    )
    out = joined.select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_id_r").alias("error_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))).alias("gap_us"),
    )
    return _drain_to_memory_sink(
        spark, out, name_prefix="stream_err_purch", output_mode="append"
    )


def q_bucket_throughput_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per bucket — the BATCH run of the very
    expressions the streaming dashboard uses (streaming/telemetry
    ``bucket_throughput``, watermark skipped on batch input), so the
    oracle check here really exercises the shared code path rather
    than a hand-kept copy."""
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.telemetry import (
        bucket_throughput,
    )

    routed = _events_tagged(spark, sf_dir)
    return bucket_throughput(routed, watermark=None)


SQL_BUCKET_THROUGHPUT_HOURLY = f"""
{_SQL_ROUTED}
SELECT date_trunc('hour', ts) AS window_start, bucket, COUNT(*) AS n_events
FROM routed GROUP BY 1, 2
"""


def q_ranked_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + dense_rank windows: top-3 orders by value within each
    order-priority class (deterministic tie-break on key)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk", "drnk")
    )


SQL_RANKED_ORDER_PRIORITIES = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rnk, drnk FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
) WHERE rnk <= 3
"""


def q_discard_audit_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-difference discard audit: all keyed events EXCEPT ALL the
    routable ones under a Platinum/Gold-only config — the row-level
    complement of `starved_discard_audit` (exceptAll operator)."""
    cfg = BucketPriorityConfig(topic="events", buckets=["Platinum", "Gold"], allocation=[70, 30])
    events = with_routing_key(load_table(spark, sf_dir, "events"))
    # hash mode: route_status is mode-invariant and partition is unread
    routed = route(events, cfg, 10, mode="hash")
    routable = routed.filter(F.col("route_status") == "routed").select(
        "event_id", "event_type"
    )
    return events.select("event_id", "event_type").exceptAll(routable)


SQL_DISCARD_AUDIT_EXCEPT = f"""
WITH {_SQL_EVENTS_KEYED}
SELECT event_id, event_type FROM keyed_events
EXCEPT ALL
SELECT event_id, event_type FROM keyed_events WHERE bucket IN ('Platinum', 'Gold')
"""


def q_key_parse_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function agreement check: the three public ways to parse a
    bucket from a key (regex split — the reference's semantics —,
    substring_index, regexp_extract) must agree on well-formed keys."""
    events = with_routing_key(load_table(spark, sf_dir, "events"))
    parsed = events.select(
        extract_bucket(F.col("key"), "-").alias("bucket_split"),
        F.substring_index("key", "-", 1).alias("bucket_sub"),
        F.regexp_extract("key", "^([^-]+)", 1).alias("bucket_re"),
    )
    return (
        parsed.withColumn(
            "all_agree",
            (F.col("bucket_split") == F.col("bucket_sub"))
            & (F.col("bucket_split") == F.col("bucket_re")),
        )
        .groupBy("bucket_split", "all_agree")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


SQL_KEY_PARSE_VARIANTS = f"""
WITH {_SQL_EVENTS_KEYED}, parsed AS (
  SELECT TRIM(SPLIT_PART(key, '-', 1)) AS bucket_split,
         SPLIT_PART(key, '-', 1) AS bucket_sub,
         regexp_extract(key, '^([^-]+)', 1) AS bucket_re
  FROM keyed_events
)
SELECT bucket_split,
       (bucket_split = bucket_sub AND bucket_split = bucket_re) AS all_agree,
       COUNT(*) AS n_keys
FROM parsed GROUP BY 1, 2
"""


def q_user_value_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas per-group operator (operators/grouped.py) checked
    against SQL's percent_rank — the grouped-Python execution slot."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.grouped import (
        grouped_percent_rank,
    )

    events = load_table(spark, sf_dir, "events")
    return grouped_percent_rank(events)


SQL_USER_VALUE_PERCENT_RANK = """
SELECT user_id, event_id, value,
       PERCENT_RANK() OVER (PARTITION BY user_id ORDER BY value ASC) AS pct_rank
FROM events
"""


def q_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the engine's SQL surface
    (spark.sql over a routed temp view) — finer-grained than
    rollup/cube: (bucket), (bucket, event_type), and grand total."""
    import uuid

    # per-call unique view name: a fixed session-global name lets two
    # threads constructing this query swap each other's input frame
    # between createOrReplaceTempView and spark.sql analysis. The view
    # is dropped right after analysis (spark.sql resolves eagerly).
    view = f"peps_routed_events_{uuid.uuid4().hex[:8]}"
    _events_tagged(spark, sf_dir).createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            SELECT bucket, event_type, COUNT(*) AS n_events
            FROM {view}
            GROUP BY GROUPING SETS ((bucket), (bucket, event_type), ())
            """
        )
    finally:
        spark.catalog.dropTempView(view)


SQL_PRIORITY_GROUPING_SETS = f"""
{_SQL_ROUTED}
SELECT bucket, event_type, COUNT(*) AS n_events
FROM routed
GROUP BY GROUPING SETS ((bucket), (bucket, event_type), ())
"""


def q_bucket_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) of event value per
    bucket — the ordered-statistics slot of the aggregate surface."""
    routed = _events_tagged(spark, sf_dir)
    return routed.groupBy("bucket").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


SQL_BUCKET_VALUE_PERCENTILES = f"""
{_SQL_ROUTED}
SELECT bucket,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       MIN(value) AS vmin,
       MAX(value) AS vmax
FROM routed GROUP BY 1
"""


def q_bucket_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile_disc + percentile_cont of event value per
    bucket, computed from the (bucket, value) HISTOGRAM on an integer
    lattice (``operators/sketches.py:exact_group_percentiles``) — the
    scale path for exact order statistics: the engine ``percentile``
    aggregate buffers every row of a group (a fact-table sort at
    100 TB), where the histogram collapses at the mappers and
    everything after the first aggregate is sized by DISTINCT values.
    Only the final ``lo + (hi-lo)*frac/100`` interpolation touches
    doubles — the identical expression the oracle replays, so the
    result is hash-exact."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        exact_group_percentiles,
    )

    routed = _events_tagged(spark, sf_dir)
    return exact_group_percentiles(
        routed, group_col="bucket", value_col="value"
    )


SQL_BUCKET_PERCENTILE_EXACT = f"""
{_SQL_ROUTED},
hist AS (
  SELECT bucket, value AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM routed WHERE value IS NOT NULL GROUP BY 1, 2
), cm AS (
  SELECT bucket, v, c,
         SUM(c) OVER (PARTITION BY bucket ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY bucket) AS n
  FROM hist
)
SELECT bucket, CAST(MAX(n) AS BIGINT) AS n_values,
       MIN(CASE WHEN cum*100 >= n*50 THEN v END) AS disc_p50,
       MIN(CASE WHEN cum >= ((n-1)*50 - ((n-1)*50)%100)/100 + 1 THEN v END)
         + (COALESCE(MIN(CASE WHEN cum >= ((n-1)*50 - ((n-1)*50)%100)/100 + 2 THEN v END), MIN(CASE WHEN cum >= ((n-1)*50 - ((n-1)*50)%100)/100 + 1 THEN v END)) - MIN(CASE WHEN cum >= ((n-1)*50 - ((n-1)*50)%100)/100 + 1 THEN v END))
           * CAST(MAX(((n-1)*50)%100) AS DOUBLE) / 100.0 AS cont_p50,
       MIN(CASE WHEN cum*100 >= n*90 THEN v END) AS disc_p90,
       MIN(CASE WHEN cum >= ((n-1)*90 - ((n-1)*90)%100)/100 + 1 THEN v END)
         + (COALESCE(MIN(CASE WHEN cum >= ((n-1)*90 - ((n-1)*90)%100)/100 + 2 THEN v END), MIN(CASE WHEN cum >= ((n-1)*90 - ((n-1)*90)%100)/100 + 1 THEN v END)) - MIN(CASE WHEN cum >= ((n-1)*90 - ((n-1)*90)%100)/100 + 1 THEN v END))
           * CAST(MAX(((n-1)*90)%100) AS DOUBLE) / 100.0 AS cont_p90,
       MIN(CASE WHEN cum*100 >= n*99 THEN v END) AS disc_p99,
       MIN(CASE WHEN cum >= ((n-1)*99 - ((n-1)*99)%100)/100 + 1 THEN v END)
         + (COALESCE(MIN(CASE WHEN cum >= ((n-1)*99 - ((n-1)*99)%100)/100 + 2 THEN v END), MIN(CASE WHEN cum >= ((n-1)*99 - ((n-1)*99)%100)/100 + 1 THEN v END)) - MIN(CASE WHEN cum >= ((n-1)*99 - ((n-1)*99)%100)/100 + 1 THEN v END))
           * CAST(MAX(((n-1)*99)%100) AS DOUBLE) / 100.0 AS cont_p99
FROM cm GROUP BY bucket
"""


def q_bucket_percentile_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact↔sketch percentile BRIDGE
    (``operators/sketches.py:percentile_bridge``): per bucket, the
    histogram-lattice exact disc/cont percentiles NEXT TO the
    merged-KLL estimates, with each estimate's normalized rank error
    measured against the same histogram in the same plan. Rank error
    is what KLL guarantees (~1.65% at k=200); the local gate enforces
    max rank_err <= 0.05 (3x the guarantee) — a scale-invariant audit
    where a value-space oracle would be unbounded on the tail.
    Approximate by design -> rows-only for the driver; the audit is
    enforced by tools/check_oracle.py SELF_AUDITS."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        percentile_bridge,
    )

    tagged = _events_tagged(spark, sf_dir).withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    return percentile_bridge(
        tagged, group_col="bucket", cell_col="hour", value_col="value"
    ).orderBy("bucket")


def q_bucket_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event types as rows, buckets as columns (the dashboard
    crosstab). The explicit pivot value list keeps the plan a single
    hash aggregate with conditional counts — no second pass to discover
    column values, which is the shape that scales."""
    routed = _events_tagged(spark, sf_dir)
    return (
        routed.groupBy("event_type")
        .pivot("bucket", ["Platinum", "Gold", "Standard"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["Platinum", "Gold", "Standard"])
        .orderBy("event_type")
    )


SQL_BUCKET_PIVOT = f"""
{_SQL_ROUTED}
SELECT event_type,
       COUNT(*) FILTER (WHERE bucket = 'Platinum') AS Platinum,
       COUNT(*) FILTER (WHERE bucket = 'Gold') AS Gold,
       COUNT(*) FILTER (WHERE bucket = 'Standard') AS Standard
FROM routed GROUP BY event_type ORDER BY event_type
"""


def q_salted_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage salted aggregation (operators/skew.py) —
    result must equal the plain groupBy the oracle computes."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.skew import (
        salted_agg,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("long")
    )
    # integer sum keeps the two-stage merge exact (float sums would
    # re-order across salt groups)
    return salted_agg(
        events,
        ["event_type"],
        {"n_events": ("*", "count"), "sum_k": ("k", "sum")},
        salt_buckets=8,
    )


SQL_SALTED_TYPE_COUNTS = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY 1
"""


def q_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 hottest users by event count via the mergeable
    Misra-Gries candidate pass + exact verify
    (operators/heavyhitters.py) — the hot-key detector that feeds
    ``salted_agg``/``salted_join``. The MG stage caps the first
    shuffle at ``capacity`` rows per map task regardless of key
    cardinality; the verify pass recounts only candidates, so the
    output is EXACT and equals the oracle's plain
    GROUP BY / ORDER BY / LIMIT. Capacity note: the completeness
    guarantee needs the true k-th frequency to exceed the decrement
    total, which NEAR-UNIFORM keys (this synthetic fixture, whose
    users are all equally active) only satisfy when capacity covers
    the per-partition key cardinality — 32768 does so up through the
    10x scale-probe replica (15k users). Real deployments size
    capacity to the skew (a few thousand), not the cardinality; the
    decrement/bound path and the honest not-guaranteed verdict on
    uniform data are unit-tested (tests/test_heavyhitters.py)."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.heavyhitters import (
        heavy_hitters_topk,
    )

    events = load_table(spark, sf_dir, "events")
    return heavy_hitters_topk(
        events, "user_id", k=20, capacity=32768, count_alias="n_events"
    )


SQL_HEAVY_HITTER_USERS = """
SELECT user_id, COUNT(*) AS n_events
FROM events WHERE user_id IS NOT NULL
GROUP BY 1 ORDER BY n_events DESC, user_id ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # bucket-priority core
    "route_events_exact": q_route_events_exact,
    "route_distribution": q_route_distribution,
    "bucket_extract": q_bucket_extract,
    "layout_golden": q_layout_golden,
    "starved_discard_audit": q_starved_discard_audit,
    "assignment_golden": q_assignment_golden,
    "bucket_allocation_vs_load": q_bucket_allocation_vs_load,
    "layout_autobroadcast_canary": q_layout_autobroadcast_canary,
    "bucket_value_mad": q_bucket_value_mad,
    "layout_rebalance_impact": q_layout_rebalance_impact,
    "priority_drain_schedule": q_priority_drain_schedule,
    "route_rendezvous": q_route_rendezvous,
    "drain_tick_percentiles": q_drain_tick_percentiles,
    # relational surface
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_regional_revenue": q5_regional_revenue,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q14_promo_share": q14_promo_share,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_orders": q18_large_orders,
    "user_value_percent_rank": q_user_value_percent_rank,
    "top_events_per_user": q_top_events_per_user,
    "bucket_rollup": q_bucket_rollup,
    "bucket_cube": q_bucket_cube,
    "user_event_gaps": q_user_event_gaps,
    "running_bucket_count": q_running_bucket_count,
    "distinct_users_per_bucket": q_distinct_users_per_bucket,
    "approx_distinct_users": q_approx_distinct_users,
    "approx_value_percentiles": q_approx_value_percentiles,
    "events_json_extract": q_events_json_extract,
    "customers_without_orders": q_customers_without_orders,
    "customers_without_big_orders": q_customers_without_big_orders,
    "big_spender_segments": q_big_spender_segments,
    "union_priority_tiers": q_union_priority_tiers,
    "sessionized_events": q_sessionized_events,
    "conversion_funnel": q_conversion_funnel,
    "cohort_retention": q_cohort_retention,
    "error_purchase_interval": q_error_purchase_interval,
    "bucket_value_histogram": q_bucket_value_histogram,
    "user_value_quartiles": q_user_value_quartiles,
    "bucket_quiet_hours": q_bucket_quiet_hours,
    "ts_gap_fill": q_ts_gap_fill,
    "sliding_window_throughput": q_sliding_window_throughput,
    "stream_route_counts": q_stream_route_counts,
    "stream_route_lifetime": q_stream_route_lifetime,
    "stream_windowed_throughput": q_stream_windowed_throughput,
    "stream_sessionized_users": q_stream_sessionized_users,
    "stream_dedup_keys": q_stream_dedup_keys,
    "stream_enriched_segments": q_stream_enriched_segments,
    "stream_error_purchase_pairs": q_stream_error_purchase_pairs,
    "bucket_user_reach_hll": q_bucket_user_reach_hll,
    "user_overlap_theta": q_user_overlap_theta,
    "bucket_value_kll": q_bucket_value_kll,
    "events_variant_extract": q_events_variant_extract,
    "bucket_metric_unpivot": q_bucket_metric_unpivot,
    "events_asof_last_purchase": q_events_asof_last_purchase,
    "events_asof_next_error": q_events_asof_next_error,
    "incident_window_counts": q_incident_window_counts,
    "bucket_throughput_hourly": q_bucket_throughput_hourly,
    "ranked_order_priorities": q_ranked_order_priorities,
    "discard_audit_except": q_discard_audit_except,
    "key_parse_variants": q_key_parse_variants,
    "priority_grouping_sets": q_priority_grouping_sets,
    "bucket_value_percentiles": q_bucket_value_percentiles,
    "bucket_percentile_exact": q_bucket_percentile_exact,
    "bucket_percentile_bridge": q_bucket_percentile_bridge,
    "bucket_pivot": q_bucket_pivot,
    "salted_type_counts": q_salted_type_counts,
    "heavy_hitter_users": q_heavy_hitter_users,
}

ORACLES: dict[str, str] = {
    "route_events_exact": SQL_ROUTE_EVENTS_EXACT,
    "route_distribution": SQL_ROUTE_DISTRIBUTION,
    "bucket_extract": SQL_BUCKET_EXTRACT,
    "layout_golden": SQL_LAYOUT_GOLDEN,
    "starved_discard_audit": SQL_STARVED_DISCARD_AUDIT,
    "assignment_golden": SQL_ASSIGNMENT_GOLDEN,
    "bucket_allocation_vs_load": SQL_BUCKET_ALLOCATION_VS_LOAD,
    "layout_autobroadcast_canary": SQL_LAYOUT_AUTOBROADCAST_CANARY,
    "bucket_value_mad": SQL_BUCKET_VALUE_MAD,
    "layout_rebalance_impact": SQL_LAYOUT_REBALANCE_IMPACT,
    "priority_drain_schedule": SQL_PRIORITY_DRAIN_SCHEDULE,
    "route_rendezvous": SQL_ROUTE_RENDEZVOUS,
    "drain_tick_percentiles": SQL_DRAIN_TICK_PERCENTILES,
    "q1_pricing_summary": SQL_Q1,
    "q3_shipping_priority": SQL_Q3,
    "q5_regional_revenue": SQL_Q5,
    "q6_forecast_revenue": SQL_Q6,
    "q14_promo_share": SQL_Q14,
    "q17_small_quantity_revenue": SQL_Q17,
    "q18_large_orders": SQL_Q18,
    "user_value_percent_rank": SQL_USER_VALUE_PERCENT_RANK,
    "top_events_per_user": SQL_TOP_EVENTS_PER_USER,
    "bucket_rollup": SQL_BUCKET_ROLLUP,
    "bucket_cube": SQL_BUCKET_CUBE,
    "user_event_gaps": SQL_USER_EVENT_GAPS,
    "running_bucket_count": SQL_RUNNING_BUCKET_COUNT,
    "distinct_users_per_bucket": SQL_DISTINCT_USERS_PER_BUCKET,
    # approx_distinct_users: engine sketch, rows-only check
    "events_json_extract": SQL_EVENTS_JSON_EXTRACT,
    "customers_without_orders": SQL_CUSTOMERS_WITHOUT_ORDERS,
    "customers_without_big_orders": SQL_CUSTOMERS_WITHOUT_BIG_ORDERS,
    "big_spender_segments": SQL_BIG_SPENDER_SEGMENTS,
    "union_priority_tiers": SQL_UNION_PRIORITY_TIERS,
    "sessionized_events": SQL_SESSIONIZED_EVENTS,
    "conversion_funnel": SQL_CONVERSION_FUNNEL,
    "cohort_retention": SQL_COHORT_RETENTION,
    "error_purchase_interval": SQL_ERROR_PURCHASE_INTERVAL,
    "bucket_value_histogram": SQL_BUCKET_VALUE_HISTOGRAM,
    "user_value_quartiles": SQL_USER_VALUE_QUARTILES,
    "bucket_quiet_hours": SQL_BUCKET_QUIET_HOURS,
    "ts_gap_fill": SQL_TS_GAP_FILL,
    "sliding_window_throughput": SQL_SLIDING_WINDOW_THROUGHPUT,
    "stream_route_counts": SQL_STREAM_ROUTE_COUNTS,
    "stream_route_lifetime": SQL_ROUTE_EVENTS_EXACT,
    "stream_windowed_throughput": SQL_STREAM_WINDOWED_THROUGHPUT,
    "stream_sessionized_users": SQL_STREAM_SESSIONIZED_USERS,
    "stream_dedup_keys": SQL_STREAM_DEDUP_KEYS,
    "stream_enriched_segments": SQL_STREAM_ENRICHED_SEGMENTS,
    "stream_error_purchase_pairs": SQL_ERROR_PURCHASE_INTERVAL,
    "events_variant_extract": SQL_EVENTS_VARIANT_EXTRACT,
    "bucket_metric_unpivot": SQL_BUCKET_METRIC_UNPIVOT,
    "events_asof_last_purchase": SQL_EVENTS_ASOF_LAST_PURCHASE,
    "events_asof_next_error": SQL_EVENTS_ASOF_NEXT_ERROR,
    "incident_window_counts": SQL_INCIDENT_WINDOW_COUNTS,
    "bucket_throughput_hourly": SQL_BUCKET_THROUGHPUT_HOURLY,
    "ranked_order_priorities": SQL_RANKED_ORDER_PRIORITIES,
    "discard_audit_except": SQL_DISCARD_AUDIT_EXCEPT,
    "key_parse_variants": SQL_KEY_PARSE_VARIANTS,
    "priority_grouping_sets": SQL_PRIORITY_GROUPING_SETS,
    "bucket_value_percentiles": SQL_BUCKET_VALUE_PERCENTILES,
    "bucket_percentile_exact": SQL_BUCKET_PERCENTILE_EXACT,
    "bucket_pivot": SQL_BUCKET_PIVOT,
    "salted_type_counts": SQL_SALTED_TYPE_COUNTS,
    "heavy_hitter_users": SQL_HEAVY_HITTER_USERS,
}
