"""Distributed global ordered scan: rank + running totals WITHOUT a
single-partition window.

``Window.orderBy(...)`` with no partition key is the one plan shape
this engine refuses on principle (see ``operators/drain.py``'s gate):
Spark plans it as an Exchange SinglePartition followed by one task
sorting and scanning EVERY row — a funnel that works at fixture scale
and dies at 10⁹ rows. Yet global running totals are exactly what
Pareto/ABC censuses, Gini coefficients, and "top share" reports need.

:func:`global_ordered_scan` computes the same numbers with the same
two-pass trick the routing engine's exact round-robin uses
(``operators/routing.py:exact_sequence``), generalized from
per-bucket to a single global ordering and extended from ranks to
running sums:

1. ``repartitionByRange(order)`` + local sort: one range shuffle after
   which partition *i*'s rows all precede partition *i+1*'s in the
   global order. The frame is persisted — ``spark_partition_id`` is a
   property of the physical layout, and both downstream reads must see
   the same materialization.
2. A tiny per-partition statistics aggregate (#partitions rows,
   map-side combined): row count and value sum per range partition.
3. Exclusive prefix totals per partition via a broadcast triangular
   self-join over the statistics frame — #partitions² pairs, bounded
   by cluster parallelism (NOT by data), and deliberately NOT a
   global window so the whole plan stays free of
   Exchange-SinglePartition.
4. Broadcast the offsets back; within each range partition a
   ``Window.partitionBy(partition_id)`` running sum / row_number
   (distributed — one window partition per range partition) plus the
   broadcast offset yields the exact global rank and inclusive
   running sum.

The result is bit-identical to
``row_number() / sum() OVER (ORDER BY order_cols)`` whenever the
ordering is total (callers append a unique tie-breaker column), and
invariant to where the range partitioner happens to place split
points.

Running sums are carried as ``decimal(38,0)`` — at 10⁹ keys an int64
running revenue total overflows long before the plan breaks
(docs/SCALE.md "decimal(38,0) big-sum discipline").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .caching import scoped_persist

__all__ = ["global_ordered_scan"]

_PID = "__gos_pid"


def global_ordered_scan(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    *,
    rank_col: str = "__gos_rank",
    cum_col: str = "__gos_cum",
    total_col: str = "__gos_tot",
    count_col: str | None = None,
    num_partitions: int | None = None,
    with_cum: bool = True,
) -> DataFrame:
    """Attach 1-based global ``rank_col``, inclusive ``cum_col`` running
    sum of ``value_col``, and the grand ``total_col`` — all over the
    total order ``order_cols`` — without funneling the frame through a
    single task.

    ``order_cols`` are Column expressions (``.desc()`` supported) and
    must form a TOTAL order (unique per row) for the result to be
    engine-portable. ``cum_col``/``total_col`` come back as
    ``decimal(38,0)``; ``rank_col`` as bigint. ``count_col`` (optional)
    adds the grand row count. ``with_cum=False`` is the rank-only
    mode: the value sums, the cum window, and (unless ``count_col``
    asks for the row count) the grand-totals aggregate + crossJoin are
    skipped entirely — callers that only need the rank shouldn't pay
    for plan pieces Catalyst can't fully prune. ``num_partitions``
    pins the range partition count (tests force >1; production uses
    the session shuffle-partition default).
    """
    parts = [num_partitions] if num_partitions is not None else []
    srt = scoped_persist(
        df.repartitionByRange(*parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn(_PID, F.spark_partition_id())
    )
    val = F.col(value_col).cast("decimal(38,0)")
    # Persisted: the #partitions-row statistics frame is read up to
    # three times (both sides of the triangular join + the grand
    # totals) — without the persist each read re-scans the full
    # cached input.
    stat_aggs = [F.count(F.lit(1)).alias("__gos_cnt")]
    if with_cum:
        stat_aggs.append(F.sum(val).alias("__gos_sum"))
    stats = scoped_persist(srt.groupBy(_PID).agg(*stat_aggs))
    # Exclusive prefix totals: triangular broadcast self-join over the
    # #partitions-row statistics frame. Empty range partitions simply
    # don't appear; the join condition only needs predecessors that
    # hold rows.
    a = stats.alias("a")
    b = stats.alias("b")
    off_aggs = [
        F.coalesce(F.sum("b.__gos_cnt"), F.lit(0)).alias("__gos_cnt_off")
    ]
    if with_cum:
        off_aggs.append(
            F.coalesce(
                F.sum("b.__gos_sum"), F.lit(0).cast("decimal(38,0)")
            ).alias("__gos_sum_off")
        )
    offsets = (
        a.join(
            F.broadcast(b),
            F.col(f"b.{_PID}") < F.col(f"a.{_PID}"),
            "left",
        )
        .groupBy(F.col(f"a.{_PID}").alias(_PID))
        .agg(*off_aggs)
    )
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    out = srt.join(F.broadcast(offsets), _PID)
    if with_cum or count_col is not None:
        total_aggs = []
        if with_cum:
            total_aggs.append(
                F.sum("__gos_sum").cast("decimal(38,0)").alias(total_col)
            )
        total_aggs.append(F.sum("__gos_cnt").alias("__gos_n"))
        out = out.crossJoin(F.broadcast(stats.agg(*total_aggs)))
    out = out.withColumn(
        rank_col,
        (F.col("__gos_cnt_off") + F.row_number().over(w)).cast("bigint"),
    )
    if with_cum:
        out = out.withColumn(
            cum_col,
            (
                F.col("__gos_sum_off")
                + F.sum(val).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
            ).cast("decimal(38,0)"),
        ).drop("__gos_sum_off")
    if count_col is not None:
        out = out.withColumnRenamed("__gos_n", count_col)
    elif with_cum:
        out = out.drop("__gos_n")
    return out.drop(_PID, "__gos_cnt_off")
