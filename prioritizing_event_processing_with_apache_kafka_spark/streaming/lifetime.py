"""Lifetime-exact routing: counter-block reservation per micro-batch.

The reference keeps one ``AtomicInteger`` per bucket for the producer
process lifetime (``Bucket.java:14,22-29``): record N+1 continues where
record N left off, across batches. This module is the package's one
lifetime-exact router. It reproduces that sequence bit-exactly with
full intra-batch parallelism and no state store: a per-bucket state key
would serialize each bucket's slice of every micro-batch into a single
task (the r12 grow probe measured 68x wall at 100x data for such a
router vs 4-5x for the stateless one). Per micro-batch:

1. **rank** — distributed per-bucket zip-with-index *within* the batch
   (one range shuffle on (bucket, order) + local sort +
   ``monotonically_increasing_id``, then a tiny per-(task, bucket)
   stats collect), NULL-bucket-inclusive so unparseable keys share one
   counter of their own.
2. **reserve** — adding the per-bucket row counts to the persisted
   lifetime counters reserves each bucket's contiguous block
   ``[base, base+n)`` for this batch.
3. **assign** — ``seq = base(bucket) + rank``; ``partition = lo +
   seq % size`` exactly as ``Bucket.nextPartition`` computes it
   (unknown bucket → NULL, starved bucket → -1, reference fall-through
   parity with ``BucketPriorityPartitioner.java:62-84``).

All three steps are the kernel ``route(mode="exact")`` runs with base
counters ``{}`` (``operators/routing.py:exact_sequence``); this module
adds the counter state and the 5-column projection. Because every
per-bucket block is reserved up front, no task ever waits on another:
the sequence is order-*defined* (by ``order_col``) but not
order-*computed*. The only driver-side data is the stats aggregate —
``#buckets × #range-tasks`` rows (a few KB even at 1000 executors),
the same loop-control-scalar scale as the layout itself.

**State**: the lifetime counters are a ``#buckets``-entry JSON file
per micro-batch, versioned by batch id (``counters-after-{B}.json`` =
state after batch B committed). Structured Streaming replays at most
the last uncommitted batch with the SAME batch id after a crash, so
batch B always reads ``counters-after-{B-1}`` and deterministically
(re)writes ``counters-after-{B}`` — idempotent exactly-once
continuation from Structured Streaming's own replay contract, at
#buckets-row cost and with no state store.

Keys are expected to be strings (the reference only parses
``key instanceof String``, ``BucketPriorityPartitioner.java:69``);
non-parseable keys land in the NULL-bucket group with NULL partition.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import extract_bucket
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    exact_sequence,
    partition_column,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.config import (
    BucketPriorityConfig,
)

__all__ = [
    "route_batch_lifetime",
    "lifetime_foreach_batch",
    "load_counters",
]


def route_batch_lifetime(
    batch_df: DataFrame,
    config: BucketPriorityConfig,
    num_partitions: int,
    base_counters: dict[str | None, int] | None = None,
    *,
    key_col: str = "key",
    order_col: str = "event_id",
) -> tuple[DataFrame, dict[str | None, int]]:
    """Route one bounded batch, continuing the lifetime sequence from
    ``base_counters`` (bucket → next seq value; missing buckets start
    at 0). Returns ``(routed, new_counters)`` where ``routed`` has the
    shape ``(order_col, key_col, bucket, partition, seq)`` and
    ``new_counters`` is the advanced counter map to feed the next batch.

    The returned frame carries a ``_peps_exact_cache`` handle (the
    persisted rank midframe) so bounded-lifetime callers can unpersist
    eagerly after sinking — same contract as ``route(mode='exact')``.
    """
    tagged = batch_df.select(order_col, key_col).withColumn(
        "__peps_bucket", extract_bucket(F.col(key_col), config.delimiter)
    )
    seqd, new_counters = exact_sequence(
        tagged, order_col, base_counters or {}, config, num_partitions
    )
    out = seqd.select(
        F.col(order_col),
        F.col(key_col),
        F.col("__peps_bucket").alias("bucket"),
        partition_column(F.col("__peps_seq")).alias("partition"),
        F.col("__peps_seq").alias("seq"),
    )
    out._peps_exact_cache = seqd._peps_exact_cache  # type: ignore[attr-defined]
    return out, new_counters


def _counters_path(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"counters-after-{batch_id:020d}.json")


def load_counters(state_dir: str, after_batch_id: int) -> dict[str | None, int]:
    """Counters as of the commit of ``after_batch_id`` (-1 → fresh)."""
    if after_batch_id < 0:
        return {}
    path = _counters_path(state_dir, after_batch_id)
    if not os.path.exists(path):
        raise RuntimeError(
            f"lifetime counter state for batch {after_batch_id} missing at "
            f"{path}: the counter directory must live as long as the "
            "checkpoint (both are needed to resume the sequence)"
        )
    with open(path) as f:
        doc = json.load(f)
    return {b: int(c) for b, c in doc["counters"]}


def _save_counters(
    state_dir: str, batch_id: int, counters: dict[str | None, int], *, retain: int = 3
) -> None:
    os.makedirs(state_dir, exist_ok=True)
    path = _counters_path(state_dir, batch_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": 1,
                "batch_id": batch_id,
                # JSON objects can't key on null; a pair list can.
                "counters": sorted(
                    counters.items(), key=lambda kv: (kv[0] is not None, kv[0])
                ),
            },
            f,
        )
    os.replace(tmp, path)  # atomic: a crashed writer never half-writes
    # Streaming replays at most the LAST uncommitted batch, so only
    # counters-after-{B-1} is ever read again; keep a few extra
    # versions for forensics and drop the rest (a long-running stream
    # would otherwise accrete one small file per micro-batch forever).
    stale = batch_id - retain
    if stale >= 0:
        old = _counters_path(state_dir, stale)
        if os.path.exists(old):
            os.remove(old)


def lifetime_foreach_batch(
    config: BucketPriorityConfig,
    num_partitions: int,
    sink: Callable[[DataFrame, int], None],
    *,
    state_dir: str,
    key_col: str = "key",
    order_col: str = "event_id",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper: bit-exact lifetime round-robin with
    full intra-batch parallelism. Wire it as::

        stream.writeStream.foreachBatch(
            lifetime_foreach_batch(cfg, 12, sink, state_dir=...)
        ).option("checkpointLocation", chk).start()

    ``state_dir`` must live as long as the checkpoint: on restart,
    batch B re-reads ``counters-after-{B-1}`` and deterministically
    reproduces the identical routed batch (rank is defined by
    ``order_col``, blocks by the persisted bases), so a replayed
    micro-batch is byte-identical — idempotent exactly-once.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        base = load_counters(state_dir, batch_id - 1)
        routed, advanced = route_batch_lifetime(
            batch_df,
            config,
            num_partitions,
            base,
            key_col=key_col,
            order_col=order_col,
        )
        try:
            sink(routed, batch_id)
        finally:
            cached = getattr(routed, "_peps_exact_cache", None)
            if cached is not None:
                cached.unpersist()
        _save_counters(state_dir, batch_id, advanced)

    return write
