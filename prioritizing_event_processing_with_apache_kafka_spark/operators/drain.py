"""Prioritized-consumption drain schedule — WHEN each routed event is
processed, given the consumer fleet the assignment plan distributes.

The reference's whole point is that more consumers on higher-priority
buckets drain those buckets faster (``/root/reference/README.md:11,17``);
the partitioner (``BucketPriorityPartitioner.java:62-84``) decides WHERE
an event lands and the assignor (``BucketPriorityAssignor.java:92-149``)
decides WHO reads each partition — but neither artifact ever computes
the resulting *consumption order*. This operator closes that loop as an
analytics query: given the exact-routed stream and the partition→
consumer ownership map, it derives the tick at which each event is
consumed, making "does Platinum's extra consumer actually cut its drain
latency?" a query instead of a deployment experiment.

Drain model (deterministic, fixed-stride): each consumer polls its
owned partitions cyclically in partition-id order, consuming exactly
one record per tick from the polled partition — Kafka's per-partition
order is preserved (``README.md:3``), and a consumer that owns ``k``
partitions visits each of them every ``k`` ticks. Idle polls are NOT
compressed: if a partition is exhausted the consumer still spends its
tick there (the closed form below prices the schedule *before* any
partition drains, which is the steady-state regime a capacity dashboard
cares about; a work-conserving consumer only beats it after its first
partition empties). That makes the tick a closed-form expression —

    drain_tick = (pos_in_partition - 1) * owned_partitions
                 + partition_poll_index + 1

— a broadcast map join plus the position within the partition, which
the exact router's bucket sequence already determines arithmetically
(``seq div bucket_size``, because partitions fill round-robin): pass
``pos_col`` and the schedule adds zero SHUFFLE exchanges over the
routing itself (only two broadcast joins — the ≤#partitions ownership
map and, in the caller, the ≤#buckets size table). The fallback (no ``pos_col``) derives the position with a
``row_number`` window keyed on the partition id — correct, but ≤
#topic-partitions distinct keys means that window funnels 100 TB
through a handful of reducers; it exists for routed frames of unknown
provenance, not for the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    local_table,
)

__all__ = ["consumer_map_table", "drain_schedule"]

# one consumer's view of one partition it owns:
#   owned = how many partitions this consumer polls (its cycle length)
#   poll_idx = this partition's 0-based position in the poll cycle
CONSUMER_MAP_SCHEMA = (
    "partition int, consumer string, owned int, poll_idx int"
)


def consumer_map_table(
    spark: SparkSession,
    assignments: dict[str, list[tuple[str, int]]],
    *,
    topic: str,
) -> DataFrame:
    """Flatten an ``assign()`` plan (consumer → [(topic, partition)])
    into the broadcastable partition-ownership map ``drain_schedule``
    joins against. Poll order within a consumer is partition-id
    ascending — the deterministic choice matching how the assignor
    hands partitions out (``BucketPriorityAssignor.java:125-139``
    appends them in layout order, which is id-ascending per bucket)."""
    rows = []
    for consumer, pairs in assignments.items():
        owned = sorted(p for t, p in pairs if t == topic)
        rows.extend(
            (partition, consumer, len(owned), idx)
            for idx, partition in enumerate(owned)
        )
    return local_table(spark, rows, CONSUMER_MAP_SCHEMA)


def drain_schedule(
    routed: DataFrame,
    consumer_map: DataFrame,
    *,
    order_col: str = "event_id",
    pos_col: str | None = None,
    allow_small_scale: bool = False,
) -> DataFrame:
    """Attach the consumption tick to every exact-routed event.

    ``routed`` must carry ``partition`` (the exact router's output —
    ``mode='exact'``, since ticks depend on true intra-partition
    positions) and either ``pos_col`` — a precomputed **1-based**
    position within the partition (the scale path: derive it from the
    router's ``seq_col`` as ``seq div bucket_size + 1``, zero extra
    exchanges) — or ``order_col``, from which the fallback window
    derives the position (small/debug frames only; see module
    docstring). ``consumer_map`` is the ``consumer_map_table`` output;
    it is tiny (one row per topic partition) and broadcast.

    The fallback path is gated: calling without ``pos_col`` raises
    unless ``allow_small_scale=True`` is passed explicitly. The window
    it uses is keyed on the partition id — at most #topic-partitions
    distinct keys — so at production scale it funnels the whole frame
    through a handful of reducers. The gate makes that a deliberate
    opt-in (debug/small frames), never a silent default on the 100 TB
    path.

    Events in unowned partitions (bucket with no consumers —
    ``BucketPriorityAssignorTest.java:294-341`` leaves them unassigned)
    fall out of the inner join: they are never consumed, so they have
    no tick.
    """
    if pos_col is not None:
        pos = F.col(pos_col)
    else:
        if not allow_small_scale:
            raise ValueError(
                "drain_schedule without pos_col derives positions with a "
                "window keyed on the partition id (<= #topic-partitions "
                "distinct keys) — a guaranteed reducer funnel at scale. "
                "Pass pos_col (derive it from the exact router's seq_col: "
                "seq div bucket_size + 1, zero extra exchanges), or opt in "
                "explicitly with allow_small_scale=True for small/debug "
                "frames."
            )
        pos = F.row_number().over(
            Window.partitionBy("partition").orderBy(F.asc(order_col))
        )
    # widen BEFORE the arithmetic: row_number() is 32-bit, and
    # (pos-1)*owned would wrap silently past ~2^31/owned rows per
    # partition in non-ANSI sessions (the pos_col path is long-typed
    # by contract; this keeps the fallback bit-identical to it)
    pos = pos.cast("bigint")
    return (
        routed.join(F.broadcast(consumer_map), "partition")
        .withColumn(
            "drain_tick",
            (
                (pos - F.lit(1)) * F.col("owned") + F.col("poll_idx") + F.lit(1)
            ).cast("bigint"),
        )
        .drop("owned", "poll_idx")
    )
