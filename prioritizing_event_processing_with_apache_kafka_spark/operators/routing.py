"""Producer-side routing: key → bucket → topic partition.

The Spark-first re-expression of the reference's producer
``Partitioner`` (``BucketPriorityPartitioner.java``):

- **P1 key→bucket**: native split/trim expression (``functions/keys.py``).
- **P2 topic guard**: records of other topics keep a NULL partition so
  the downstream Kafka sink's own partitioner decides — the analog of
  returning ``UNKNOWN_PARTITION`` (``BucketPriorityPartitioner.java:64-68``).
- **P3 membership**: broadcast join against the tiny layout table
  (in exact mode the layout rides the offsets broadcast instead);
  unknown buckets get NULL partition (fall-through,
  ``BucketPriorityPartitioner.java:74``).
- **P6 layout**: the pure-Python kernel's output becomes a
  ≤-few-hundred-bytes JVM ``LocalRelation`` (:func:`local_table`) that
  Catalyst broadcast-joins — no shuffle of the fact side, ever, and no
  Python worker behind the broadcast build.
- **P7 round-robin**: ``partition = partition_lo + pmod(seq, bucket_size)``
  where ``seq`` depends on the routing *mode* (below). Starved buckets
  (zero partitions after truncation) route to partition ``-1``, exactly
  like ``Bucket.nextPartition()`` (``Bucket.java:22-29``); the record is
  dropped at the sink, observable via ``route_status = 'starved'``.
- **P9 discard**: ``on_unroutable='discard'`` filters NULL-partition
  rows (the documented ``DiscardPartitioner`` behavior,
  ``DiscardPartitioner.java:15-18``).

Routing modes (scale matters — the round-robin counter is the one
piece of shared state in the reference, and a literal port would
serialize the world):

- ``mode="exact"`` — global per-bucket rank ordered by ``order_col``.
  Bit-reproducible round-robin (what the reference's unit tests
  assert: exactly N/size records per partition). Computed *distributed*
  by :func:`exact_sequence`, the kernel the lifetime router
  (``streaming/lifetime.py``) shares: one range shuffle co-sorts
  ``(bucket, order)`` across all tasks, then the global rank is
  reconstructed as ``per-(task, bucket) offset + local index`` from a
  tiny (#tasks × #buckets)-row statistics table, collected once and
  broadcast back — full cluster parallelism, never one task per bucket
  (a naive ``Window.partitionBy(bucket)`` would collapse a 100 TB
  batch into #buckets tasks).
- ``mode="spread"`` (default) — per-Spark-partition round-robin using
  ``monotonically_increasing_id``: every task keeps its own dense
  counter, so records are spread uniformly over the bucket's partition
  range with **zero shuffle** and no skew, like N independent producers
  each running the reference's partitioner. Distribution-uniform, not
  globally sequential.
- ``mode="hash"`` — stateless ``pmod(xxhash64(key), size)``: sticky
  per-key placement (same key → same partition), zero shuffle. This is
  Kafka's own default keyed behavior scoped inside the bucket's range.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
    scoped_persist,
)
from pyspark.sql import types as T

from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import extract_bucket
from prioritizing_event_processing_with_apache_kafka_spark.plans.config import BucketPriorityConfig
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout

__all__ = [
    "local_table",
    "layout_table",
    "route",
    "routed_distribution",
    "rendezvous_route",
    "LAYOUT_SCHEMA",
]

LAYOUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.StringType(), False),
        T.StructField("allocation", T.IntegerType(), False),
        T.StructField("priority_rank", T.IntegerType(), False),
        T.StructField("partition_lo", T.IntegerType(), True),
        T.StructField("partition_hi", T.IntegerType(), True),
        T.StructField("bucket_size", T.IntegerType(), False),
    ]
)


def local_table(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType | str
) -> DataFrame:
    """Driver-side rows as a DataFrame whose plan leaf is a JVM
    ``LocalRelation`` — the engine's one way to turn Python rows into a
    table.

    The rows travel as one Arrow table, so the relation lives in the
    JVM: broadcasting or scanning it runs no Python worker (a frame
    built from the Python rows directly is a pickled-RDD leaf that
    does), and the optimizer knows its size. ``schema`` is a
    ``StructType`` (nullability kept) or a DDL string.
    """
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def layout_table(
    spark: SparkSession, config: BucketPriorityConfig, num_partitions: int
) -> DataFrame:
    """The bucket layout as a tiny broadcastable DataFrame.

    One row per configured bucket (starved buckets included, with NULL
    ``partition_lo``/``partition_hi`` and ``bucket_size`` 0) — the
    relational image of the reference's ``LinkedHashMap<String,Bucket>``.
    """
    ranges = compute_layout(
        num_partitions, config.buckets_with_allocation(), topic=config.topic
    )
    rows = [
        (r.bucket, r.allocation, r.priority_rank, r.partition_lo, r.partition_hi, r.size)
        for r in ranges
    ]
    return local_table(spark, rows, LAYOUT_SCHEMA)


# monotonically_increasing_id() = (task id << 33) | row-index-in-task.
_MID_LOCAL_MASK = (1 << 33) - 1


def _range_partitions(df: DataFrame, *, target_mb: int = 32) -> int:
    """Range-shuffle partition count for the exact sequence, sized from
    the input's ESTIMATED bytes (optimizer stats — file sizes for a
    file scan or file-source micro-batch; no job runs), ~``target_mb``
    of decompressed data per sort partition assuming ~3x parquet
    expansion, clamped to [1, 4096].

    Sized from DATA, not core count: the rank shuffle's cost is
    per-partition scheduling + sampling overhead at fixture scale and
    sort-buffer pressure at 100 TB — a fixed core-count constant is
    wrong at both ends. The rank arithmetic is partition-count-invariant
    (global order across (pid, local id) is what defines the sequence),
    so this only moves overhead, never results."""
    try:
        nbytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df.sparkSession.sparkContext.defaultParallelism
    if nbytes >= 1 << 60:
        # Stats unavailable: Spark reports the spark.sql.defaultSizeInBytes
        # sentinel (Long.MaxValue) for plans without size estimates (e.g.
        # non-file micro-batch sources). Trusting it would clamp to 4096
        # range partitions; fall back to the scheduler default instead.
        return df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(4096, -(-nbytes * 3 // (target_mb << 20))))


def exact_sequence(
    tagged: DataFrame,
    order_col: Column | str,
    base_counters: dict[str | None, int],
    config: BucketPriorityConfig,
    num_partitions: int,
) -> tuple[DataFrame, dict[str | None, int]]:
    """The one exact-sequence kernel: ``route(mode="exact")`` runs it
    with ``base_counters={}``, the lifetime router
    (``streaming/lifetime.py``) with the counters persisted after the
    previous micro-batch.

    ``tagged`` carries the bucket in ``__peps_bucket``. Returns
    ``(sequenced, advanced_counters)``: ``sequenced`` gains
    ``__peps_seq`` = ``base_counters[bucket]`` (0 when missing) + the
    0-based rank of the row within its bucket, ordered by
    ``order_col``, and the bucket's layout columns
    ``__peps_layout_{bucket,partition_lo,bucket_size}`` (layout bucket
    NULL when the bucket is not in the layout, the NULL bucket
    included). The NULL bucket gets a counter of its own.

    Distributed zip-with-index, DataFrame-native — never one task per
    bucket:

    1. **rank** — a range shuffle on ``(bucket, order)`` + local sort
       puts each bucket's rows in global order across task ids (task
       *i*'s rows all precede task *i+1*'s);
       ``monotonically_increasing_id`` gives ``(task id, local index)``.
       A batch that fits one range partition takes ``coalesce(1)``
       instead: the same single sorted partition without the range
       sampling job and exchange. The frame is persisted — the id is
       tied to the physical layout, so the stats pass and the final
       join must read the same materialization.
    2. **reserve** — ONE collect of a tiny aggregate (#tasks × #buckets
       rows, map-side combined) gives per-(task, bucket) row counts and
       min local index. On the driver, walking tasks in order turns the
       counts into offsets and advances each bucket's counter: bucket
       *b* reserves the block ``[base, base + n)``.
    3. **assign** — the offsets, with the layout folded onto each row,
       are broadcast back as ONE table:
       ``seq = offset + local - min_local``.

    This runs the stats job when called. The result is invariant to
    where the range partitioner places split points, so it equals
    ``base + row_number() over (partition by bucket order by
    order_col) - 1`` whenever the ordering key is unique within the
    bucket.

    Cache lifetime: ``sequenced`` carries the persisted midframe as
    ``_peps_exact_cache``; callers with a bounded batch lifetime
    (foreachBatch) unpersist it eagerly, others leave it to LRU.
    """
    spark = tagged.sparkSession
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    bucket = F.col("__peps_bucket")
    nparts = _range_partitions(tagged)
    gathered = (
        tagged.coalesce(1)
        if nparts == 1
        else tagged.repartitionByRange(nparts, bucket, order)
    )
    srt = scoped_persist(
        gathered.sortWithinPartitions(bucket, order).withColumn(
            "__peps_mid", F.monotonically_increasing_id()
        )
    )
    pid = F.shiftrightunsigned(F.col("__peps_mid"), 33)
    local = F.col("__peps_mid").bitwiseAND(F.lit(_MID_LOCAL_MASK))
    stats = (
        srt.groupBy(pid.alias("__peps_pid"), bucket)
        .agg(
            F.count(F.lit(1)).alias("__peps_cnt"),
            F.min(local).alias("__peps_lo"),
        )
        .collect()
    )
    layout = {
        r.bucket: (r.partition_lo, r.size)
        for r in compute_layout(
            num_partitions, config.buckets_with_allocation(), topic=config.topic
        )
    }
    counters = dict(base_counters)
    offset_rows = []
    for row in sorted(
        stats,
        key=lambda r: ((r["__peps_bucket"] is not None, r["__peps_bucket"]), r["__peps_pid"]),
    ):
        b = row["__peps_bucket"]
        base = counters.get(b, 0)
        lo, size = layout.get(b, (None, None))
        offset_rows.append(
            (row["__peps_pid"], b, base, row["__peps_lo"], b if b in layout else None, lo, size)
        )
        counters[b] = base + row["__peps_cnt"]
    offsets = local_table(
        spark,
        offset_rows,
        "__peps_pid long, __peps_bucket string, __peps_base long, __peps_lo long, "
        "__peps_layout_bucket string, __peps_layout_partition_lo int, "
        "__peps_layout_bucket_size int",
    )
    srtp = srt.withColumn("__peps_pid", pid)
    # eqNullSafe: the NULL-bucket group must match its offsets row too.
    joined = (
        srtp.join(
            F.broadcast(offsets),
            srtp["__peps_bucket"].eqNullSafe(offsets["__peps_bucket"])
            & (srtp["__peps_pid"] == offsets["__peps_pid"]),
            "left",
        )
        .drop(offsets["__peps_bucket"])
        .drop(offsets["__peps_pid"])
    )
    out = joined.withColumn(
        "__peps_seq",
        (F.col("__peps_base") + local.cast("long") - F.col("__peps_lo")).cast("long"),
    ).drop("__peps_mid", "__peps_pid", "__peps_base", "__peps_lo")
    out._peps_exact_cache = srt  # type: ignore[attr-defined]
    return out, counters


def partition_column(seq: Column) -> Column:
    """``partition = partition_lo + pmod(seq, bucket_size)`` over the
    ``__peps_layout_*`` columns, exactly as ``Bucket.nextPartition``
    computes it: bucket not in the layout → NULL, starved bucket → -1."""
    size = F.col("__peps_layout_bucket_size")
    return (
        F.when(F.col("__peps_layout_bucket").isNull(), F.lit(None).cast("int"))
        .when(size == 0, F.lit(-1))
        .otherwise((F.col("__peps_layout_partition_lo") + F.pmod(seq, size)).cast("int"))
    )


def _sequence_column(mode: str, order_col: Column | str | None) -> Column | None:
    if mode == "exact":
        if order_col is None:
            raise ValueError("mode='exact' requires order_col (a deterministic ordering)")
        return F.col("__peps_seq")
    if mode == "spread":
        if order_col is not None:
            # Round-robin driven by an existing monotonic sequence (the
            # Kafka source's per-partition `offset`, an event id, ...):
            # streaming-legal, zero shuffle, uniform when the sequence
            # is dense per bucket.
            order = F.col(order_col) if isinstance(order_col, str) else order_col
            return order.cast("long")
        # Dense per-task counter: low 33 bits of monotonically_increasing_id
        # are the row index within the Spark partition, high bits the task
        # id — pmod by bucket_size yields an independent round-robin per
        # task, uniformly covering the bucket range without any shuffle.
        # (Batch only: streaming plans must pass order_col instead.)
        return F.monotonically_increasing_id()
    if mode == "hash":
        return None  # sentinel: computed from the key downstream
    raise ValueError(f"unknown routing mode: {mode!r} (expected exact|spread|hash)")


def route(
    df: DataFrame,
    config: BucketPriorityConfig,
    num_partitions: int,
    *,
    key_col: str = "key",
    topic_col: str | None = None,
    order_col: Column | str | None = None,
    mode: str = "spread",
    seq_col: str | None = None,
) -> DataFrame:
    """Attach ``bucket``, ``partition`` and ``route_status`` columns.

    ``seq_col`` (exact mode only): also expose the 0-based rank of each
    record within its bucket under this name. Downstream per-partition
    positions are then pure arithmetic — ``seq div bucket_size`` is the
    0-based position inside the chosen partition, because partitions
    fill round-robin — so consumers of intra-partition order (the drain
    schedule) avoid re-deriving it with a window keyed on the partition
    id (≤ #topic-partitions keys: a guaranteed reducer bottleneck at
    scale).

    ``partition`` semantics (sink contract — Spark's Kafka sink honors a
    ``partition`` column on write):

    - ``routed``: the chosen partition id inside the bucket's range;
    - ``starved``: bucket exists but holds no partitions → ``-1``
      (dropped at the sink; reference parity with
      ``Bucket.nextPartition`` returning -1);
    - ``bypassed``: record belongs to *another topic* → NULL partition,
      the sink's default partitioner decides (the reference's
      ``UNKNOWN_PARTITION`` early-return for foreign topics,
      ``BucketPriorityPartitioner.java:64-68``). Never discarded —
      foreign topics are not this config's business;
    - ``unroutable``: record *of the configured topic* whose key is
      NULL/unparseable, names an unknown bucket, or (spread mode)
      carries a NULL sequence value → NULL partition, or dropped when
      ``config.on_unroutable == 'discard'``.

    The output columns ``partition``/``route_status``/``bucket``
    replace any same-named input columns (the sink contract); all other
    input columns pass through untouched.

    The layout join is an explicit ``broadcast`` of a ≤#buckets-row
    table: at any scale the fact side is never shuffled for routing.

    ``mode="exact"`` builds eagerly: the call itself runs the small
    stats job of :func:`exact_sequence` (one collect of #tasks ×
    #buckets rows) and persists the sorted input, whose handle the
    result carries as ``_peps_exact_cache``.
    """
    seq = _sequence_column(mode, order_col)
    if seq_col is not None and mode != "exact":
        raise ValueError("seq_col requires mode='exact' (no rank elsewhere)")

    # P1 type guard: the reference only parses `key instanceof String`
    # (BucketPriorityPartitioner.java:69) — any other key type falls
    # through as unroutable. String and binary (Kafka's raw key bytes,
    # UTF-8-decoded by the cast) columns are parsed; numeric/other
    # key columns yield NULL bucket rather than being stringified.
    key_dtype = df.schema[key_col].dataType
    if isinstance(key_dtype, (T.StringType, T.BinaryType)):
        bucket = extract_bucket(F.col(key_col), config.delimiter)
    else:
        bucket = F.lit(None).cast("string")
    # Null-safe: a NULL topic value is not the configured topic, so it
    # is bypassed like any other foreign-topic record (plain != would
    # evaluate NULL and silently route it).
    is_foreign_topic = (
        ~F.col(topic_col).eqNullSafe(F.lit(config.topic))
        if topic_col is not None
        else F.lit(False)
    )
    if topic_col is not None:
        # P2: bucket logic only applies to the configured topic.
        bucket = F.when(~is_foreign_topic, bucket)
    routed = df.withColumn("__peps_bucket", bucket)
    if mode == "exact":
        # The kernel's offsets broadcast already carries the layout.
        routed, _counters = exact_sequence(routed, order_col, {}, config, num_partitions)
        exact_cache = routed._peps_exact_cache  # type: ignore[attr-defined]
    else:
        exact_cache = None
        # Prefix every layout column so the join can never collide with
        # (or later silently drop) same-named columns on the user's
        # DataFrame.
        layout = layout_table(df.sparkSession, config, num_partitions)
        prefixed = layout.select(
            *(F.col(c).alias(f"__peps_layout_{c}") for c in layout.columns)
        )
        routed = routed.join(
            F.broadcast(prefixed),
            routed["__peps_bucket"] == F.col("__peps_layout_bucket"),
            "left",
        )

    if seq is None:  # hash mode
        seq = F.xxhash64(F.col(key_col).cast("string"))
    size = F.col("__peps_layout_bucket_size")
    partition = partition_column(seq)
    status = (
        F.when(is_foreign_topic, F.lit("bypassed"))
        .when(F.col("__peps_layout_bucket").isNull(), F.lit("unroutable"))
        .when(size == 0, F.lit("starved"))
        # e.g. spread mode with a NULL sequence value: bucket is fine
        # but no partition could be computed — audit as unroutable, do
        # NOT report it routed outside its range.
        .when(partition.isNull(), F.lit("unroutable"))
        .otherwise(F.lit("routed"))
    )

    if seq_col is not None:
        # The kernel counts the NULL bucket too; route() shows no rank
        # for bypassed or unparseable keys.
        routed = routed.withColumn(
            seq_col, F.when(F.col("__peps_bucket").isNotNull(), F.col("__peps_seq"))
        )
    out = (
        routed.withColumn("partition", partition)
        .withColumn("route_status", status)
        .withColumn("bucket", F.col("__peps_bucket"))
        .drop(
            "__peps_bucket",
            "__peps_seq",
            *(f"__peps_layout_{c}" for c in LAYOUT_SCHEMA.names),
        )
    )
    if config.on_unroutable == "discard":
        out = out.filter(F.col("route_status") != "unroutable")
    if exact_cache is not None:
        # Expose the persisted midframe so bounded-lifetime callers
        # (per-micro-batch routing) can release it eagerly instead of
        # waiting for LRU eviction.
        out._peps_exact_cache = exact_cache  # type: ignore[attr-defined]
    return out


def routed_distribution(routed: DataFrame) -> DataFrame:
    """Records per (bucket, partition) — the invariant the reference's
    ``MockProducer`` tests assert (e.g. exactly 4 per B1 partition for
    32 records over 8 partitions, ``BucketPriorityPartitionerTest.java:344-419``)."""
    return (
        routed.groupBy("bucket", "partition")
        .agg(F.count(F.lit(1)).alias("record_count"))
        .orderBy("bucket", "partition")
    )


def rendezvous_route(
    df: DataFrame,
    *,
    key_col: str = "key",
    num_partitions: int,
    out_col: str = "partition",
) -> DataFrame:
    """Stateless rendezvous (highest-random-weight) routing: each key
    goes to the partition whose ``md5(key ':' partition)`` digest is
    lexicographically largest.

    This is the classic alternative to the reference's range-carved
    layout (``mode="hash"``'s ``pmod`` placement): under HRW, growing
    the partition set from N to N+1 remaps only ~1/(N+1) of the keys
    (only keys whose new digest wins move), where modulo placement
    reshuffles almost everything — the property that matters when the
    routed stream feeds per-partition state (consumer offsets, keyed
    caches) that a resize should not invalidate wholesale.

    Spark-first shape: the argmax over candidate partitions runs
    ENTIRELY inside one projected expression — ``array_max`` over a
    ``transform`` of the partition list building ``struct(digest,
    pid)`` (struct ordering compares the digest first; md5 ties are
    not a practical concern, and the pid field makes even that case
    deterministic) — so routing is per-row compute with ZERO shuffle
    and no per-key state, exactly what a 100 TB stateless map stage
    needs. Cost is ``num_partitions`` digests per row; HRW is the
    right tool at partition counts where that constant is small (for
    hundreds of partitions, layer it on a bucket layout first).

    md5 is used because every engine agrees on it byte-for-byte (the
    oracle replays the same digests), not for cryptographic strength.
    """
    if num_partitions < 1:
        raise ValueError(
            f"rendezvous_route: num_partitions must be >= 1, got {num_partitions}"
        )
    picked = F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(num_partitions - 1)),
            lambda p: F.struct(
                F.md5(
                    F.concat_ws(":", F.col(key_col).cast("string"), p.cast("string"))
                ).alias("w"),
                p.alias("p"),
            ),
        )
    )
    return df.withColumn(out_col, picked.getField("p"))
