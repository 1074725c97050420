"""Lifetime-exact routing: counter-block reservation per micro-batch.

The reference keeps one ``AtomicInteger`` per bucket for the producer
process lifetime (``Bucket.java:14,22-29``): record N+1 continues where
record N left off, across batches. This module is the package's one
lifetime-exact router. It reproduces that sequence bit-exactly with
full intra-batch parallelism and no state store: a per-bucket state key
would serialize each bucket's slice of every micro-batch into a single
task (the r12 grow probe measured 68x wall at 100x data for such a
router vs 4-5x for the stateless one). Per micro-batch:

1. **rank** — distributed per-bucket zip-with-index *within* the batch:
   one range shuffle on (bucket, order) + local sort +
   ``monotonically_increasing_id``, then a tiny per-(task, bucket)
   stats aggregate turns local indices into global batch ranks — the
   same technique as the batch exact router
   (``operators/routing.py:_exact_global_sequence``), here
   NULL-bucket-inclusive so unparseable keys share one counter of
   their own.
2. **reserve** — the stats aggregate also yields per-bucket row counts;
   adding them to the persisted lifetime counters reserves each
   bucket's contiguous block ``[base, base+n)`` for this batch.
3. **assign** — ``seq = base(bucket) + rank``; ``partition = lo +
   seq % size`` exactly as ``Bucket.nextPartition`` computes it
   (unknown bucket → NULL, starved bucket → -1, reference fall-through
   parity with ``BucketPriorityPartitioner.java:62-84``).

Because every per-bucket block is reserved up front, no task ever
waits on another: the sequence is order-*defined* (by ``order_col``)
but not order-*computed*. The only driver-side data is the stats
aggregate — ``#buckets × #range-tasks`` rows (a few KB even at 1000
executors), the same loop-control-scalar scale as the layout itself.

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
from pyspark.sql import types as T

from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import extract_bucket
from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import scoped_persist
from prioritizing_event_processing_with_apache_kafka_spark.plans.config import (
    BucketPriorityConfig,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout

__all__ = [
    "route_batch_lifetime",
    "lifetime_foreach_batch",
    "load_counters",
]

_MID_LOCAL_MASK = (1 << 33) - 1


def _output_schema(
    batch_df: DataFrame, *, key_col: str, order_col: str
) -> T.StructType:
    """``(order_col, key_col, bucket, partition, seq)``, with the order
    and key types taken from the input (a hardcoded long/string pair
    would mislabel e.g. a timestamp order column or binary keys)."""
    by_name = {f.name: f.dataType for f in batch_df.schema.fields}
    missing = [c for c in (order_col, key_col) if c not in by_name]
    if missing:
        raise ValueError(
            f"columns {missing} not found in stream schema "
            f"{[f.name for f in batch_df.schema.fields]}"
        )
    return T.StructType(
        [
            T.StructField(order_col, by_name[order_col]),
            T.StructField(key_col, by_name[key_col]),
            T.StructField("bucket", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("seq", T.LongType()),
        ]
    )


def _range_partitions(batch_df: DataFrame, *, target_mb: int = 32) -> int:
    """Range-shuffle partition count for one micro-batch, sized from
    the batch's ESTIMATED bytes (optimizer stats — file sizes for a
    file-source micro-batch; no job runs), ~``target_mb`` of
    decompressed data per sort partition assuming ~3x parquet
    expansion, clamped to [1, 4096].

    Sized from DATA, not core count (r13, guide §2.2/§2.5): the rank
    shuffle's cost is per-partition scheduling + sampling overhead at
    fixture scale and sort-buffer pressure at 100 TB — a fixed
    core-count constant is wrong at both ends. The rank arithmetic is
    partition-count-invariant (global order across (pid, local id) is
    what defines the sequence), so this only moves overhead, never
    results."""
    try:
        nbytes = int(
            batch_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return batch_df.sparkSession.sparkContext.defaultParallelism
    if nbytes >= 1 << 60:
        # Stats unavailable: Spark reports the spark.sql.defaultSizeInBytes
        # sentinel (Long.MaxValue) for plans without size estimates (e.g.
        # non-file micro-batch sources). Trusting it would clamp to 4096
        # range partitions per micro-batch (ADVICE r13, medium); fall back
        # to the scheduler default like the except branch.
        return batch_df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(4096, -(-nbytes * 3 // (target_mb << 20))))


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
    base_counters = base_counters or {}
    spark = batch_df.sparkSession

    tagged = batch_df.select(order_col, key_col).withColumn(
        "bucket", extract_bucket(F.col(key_col), config.delimiter)
    )
    # Distributed zip-with-index (routing.py:_exact_global_sequence's
    # technique, NULL-group-inclusive): after the range shuffle +
    # local sort, a bucket's rows are globally ordered across task
    # ids, so (per-task offsets + local index) is the batch rank.
    # r14: a batch that fits ONE range partition skips the range
    # machinery entirely — repartitionByRange(1) still runs a sampling
    # job and an exchange per micro-batch, while coalesce(1) + the same
    # local sort yields the identical single sorted partition (the rank
    # arithmetic is partition-count-invariant) with no extra job.
    nparts = _range_partitions(batch_df)
    gathered = (
        tagged.coalesce(1)
        if nparts == 1
        else tagged.repartitionByRange(
            nparts, F.col("bucket"), F.col(order_col)
        )
    )
    srt = gathered.sortWithinPartitions(
        F.col("bucket"), F.col(order_col)
    ).withColumn("__peps_mid", F.monotonically_increasing_id())
    srt = scoped_persist(srt)
    pid = F.shiftrightunsigned(F.col("__peps_mid"), 33)
    local = F.col("__peps_mid").bitwiseAND(F.lit(_MID_LOCAL_MASK))
    # Tiny: #range-tasks × #buckets rows, map-side combined. Collected
    # because the SAME aggregate both (a) seeds the broadcast offsets
    # join and (b) advances the persisted counters — one pass, and the
    # driver must see (b) anyway to write the state file.
    # r14 (guide §2.2/§5): the reduce side of this aggregate holds at
    # most nparts × (#buckets + 1) partial rows (a few KB at ANY data
    # scale — the map side already combined per task), but inside a
    # foreachBatch micro-batch AQE does not coalesce, so the exchange
    # inherited the ambient shuffle-partition count: one near-empty
    # reducer task per configured partition, PER MICRO-BATCH (32 extra
    # tasks/batch in the 32-core bench; more on a cluster). One reducer
    # is enough for KBs of partials; scoped set/restore (single-writer
    # micro-batch discipline — the scope is this one collect).
    part_key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(part_key)
    spark.conf.set(part_key, "1")
    try:
        stats = (
            srt.groupBy(pid.alias("__peps_pid"), "bucket")
            .agg(
                F.count(F.lit(1)).alias("__peps_cnt"),
                F.min(local).alias("__peps_lo"),
            )
            .collect()
        )
    finally:
        spark.conf.set(part_key, prev_parts)
    new_counters = dict(base_counters)
    offset_rows = []
    for row in sorted(
        stats, key=lambda r: ((r["bucket"] is not None, r["bucket"]), r["__peps_pid"])
    ):
        b = row["bucket"]
        seq_base = new_counters.get(b, 0)
        offset_rows.append((int(row["__peps_pid"]), b, seq_base, int(row["__peps_lo"])))
        new_counters[b] = seq_base + int(row["__peps_cnt"])

    out_schema = _output_schema(batch_df, key_col=key_col, order_col=order_col)
    if not offset_rows:  # empty batch: counters unchanged, empty frame
        empty = spark.createDataFrame([], out_schema)
        empty._peps_exact_cache = srt  # type: ignore[attr-defined]
        return empty, new_counters

    # The layout is a pure driver-side function of (config,
    # num_partitions) — fold (partition_lo, size) onto each offsets row
    # HERE instead of a second broadcast join on the data path (r13,
    # guide §2.4: the per-bucket layout attributes ride the offsets
    # broadcast the rows must join anyway; one broadcast join per batch
    # instead of two). ``__peps_known`` distinguishes "bucket not in
    # layout" (partition NULL — includes the NULL bucket, exactly what
    # the old left join on ``bucket == l_bucket`` produced) from a
    # known starved bucket (size 0 → partition -1).
    layout = {
        r.bucket: (r.partition_lo, r.size)
        for r in compute_layout(
            num_partitions, config.buckets_with_allocation(), topic=config.topic
        )
    }
    # One parallelize slice: the frame is nparts × (#buckets + 1) tiny
    # rows consumed ONLY as a broadcast build — the default slicing
    # (defaultParallelism) spins one near-empty Python-deserializer
    # task per core, per micro-batch (r14, guide §4: fewer boundary
    # crossings for the same bytes).
    offsets = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (
                    pid_v,
                    b,
                    base,
                    lo,
                    b in layout,
                    layout.get(b, (None, None))[0],
                    layout.get(b, (None, None))[1],
                )
                for pid_v, b, base, lo in offset_rows
            ],
            1,
        ),
        "__peps_pid long, bucket string, __peps_base long, __peps_lo long, "
        "__peps_known boolean, __peps_l_lo int, __peps_l_size int",
    )
    # eqNullSafe: the NULL-bucket group must match its offsets row too.
    srtp = srt.withColumn("__peps_pid", pid)
    joined = (
        srtp.join(
            F.broadcast(offsets),
            srtp["bucket"].eqNullSafe(offsets["bucket"])
            & (srtp["__peps_pid"] == offsets["__peps_pid"]),
            "left",
        )
        .drop(offsets["bucket"])
        .drop(offsets["__peps_pid"])
    )
    seq = (F.col("__peps_base") + local.cast("long") - F.col("__peps_lo")).cast("long")

    routed = joined.withColumn("seq", seq)
    size = F.col("__peps_l_size")
    partition = (
        F.when(~F.col("__peps_known"), F.lit(None).cast("int"))
        .when(size == 0, F.lit(-1))
        # seq >= 0 always (counters start at 0 and only grow), so %
        # equals pmod — same arithmetic as Bucket.nextPartition.
        .otherwise((F.col("__peps_l_lo") + F.col("seq") % size).cast("int"))
    )
    out = routed.select(
        F.col(order_col),
        F.col(key_col),
        F.col("bucket"),
        partition.alias("partition"),
        F.col("seq"),
    )
    out._peps_exact_cache = srt  # type: ignore[attr-defined]
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
