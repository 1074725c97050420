"""Streaming Markov transition counting — the incremental twin of
``operators/sequence.py:transition_matrix``.

The batch operator needs every event of a key in one frame to lag
over; a live pipeline sees the stream in micro-batches, so the
transition that straddles a batch boundary (key's last event of batch
N → first event of batch N+1) is invisible to any within-batch window.
This module keeps one row of state per key — the latest event's state
value — and seeds each batch's lag with it, so boundary transitions
are counted exactly once.

Protocol (the versioned-parquet exactly-once discipline of
``streaming/dimension.py``, same as ``streaming/locf.py``):

- STATE: one row per key (``__last_state``), written as
  ``__version = batch_id + 1`` partitions; an absent store means "no
  history", which is exactly batch 0's seed.
- OUTPUT: per-batch transition COUNTS (``prev_state, next_state, n``)
  land in the batch's own version partition via dynamic partition
  overwrite — a replayed batch atomically replaces its own counts and
  re-reads its parent state, so the total is exactly-once without a
  table format. Counts are written pre-aggregated because the final
  result only ever sums them; the per-batch partition is
  |states|²-bounded, not row-bounded.
- RESULT: sum the per-batch counts and derive row probabilities with
  the SAME integer-ppm arithmetic as the batch operator.

Determinism contract: if micro-batch boundaries respect the order
columns (a time-split file stream), every (prev, next) adjacency of
the full stream is seen exactly once — within a batch by the lag
window, across the boundary by the synthetic seed row — so the
streamed counts
are bit-identical to the batch ``transition_matrix``, which is how
the declared query shares its hash oracle.

Scale: state is one row per key; each batch pays one key-window
shuffle (the #keys state rows ride it as synthetic first-of-key seed
rows — no broadcast round); the output write is |states|² rows per
batch. Nothing accumulates beyond key cardinality.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.streaming.dimension import (
    _latest_version_below,
    _versions,
    _write_versions_overlapped,
    _VERSION_COL,
)

__all__ = [
    "transitions_apply_batch",
    "transitions_count_plan",
    "transitions_foreach_batch",
    "transitions_next_state",
    "transition_counts_result",
]


def transitions_count_plan(
    batch: DataFrame,
    state: DataFrame | None,
    *,
    key_col: str,
    state_col: str,
    order_cols: tuple[str, ...],
) -> DataFrame:
    """The pure transition-count plan of one micro-batch: a per-key lag
    window seeded by the ``(key_col, __last_state)`` state frame
    (``None`` means "no history").

    r14: the seed rides the lag window itself — each state row enters
    the union as a synthetic row ordered BEFORE every batch row of its
    key (leading ``__synth`` sort key), so the first batch row's lag IS
    the carried state and the former broadcast seed join (a
    driver-blocking collect per micro-batch) is gone. Synthetic rows
    never count as a transition target: their own lag is NULL (they
    sort first in their key) and the filter drops them. Projecting to
    (key, order, state) first keeps payload columns out of the
    exchange. Extracted from :func:`transitions_apply_batch` so the
    per-batch plan shape can be fingerprinted without driving the
    effectful protocol.

    NULL states never start an edge. A row whose predecessor state is
    NULL (mid-batch, or a key's first row after a batch that ended on
    NULL, whose stored seed is then NULL) has a NULL lag and emits no
    transition; the edge INTO the NULL is counted with ``next_state``
    NULL. That is exactly the batch ``transition_matrix`` lag, so the
    streamed counts stay bit-identical with NULL states present. NULL
    keys form one sequence, as in the batch window."""
    state_type = batch.select(F.col(state_col)).schema[0].dataType
    order_types = {
        f.name: f.dataType
        for f in batch.schema.fields
        if f.name in order_cols
    }
    tagged = batch.select(
        F.col(key_col),
        *[F.col(c) for c in order_cols],
        F.col(state_col),
        F.lit(1).alias("__synth"),
    )
    if state is not None:
        tagged = tagged.unionByName(
            state.select(
                F.col(key_col),
                *[
                    F.lit(None).cast(order_types[c]).alias(c)
                    for c in order_cols
                ],
                F.col("__last_state").cast(state_type).alias(state_col),
                F.lit(0).alias("__synth"),
            )
        )
    w = Window.partitionBy(key_col).orderBy(
        F.asc("__synth"), *[F.asc(c) for c in order_cols]
    )
    lagged = tagged.withColumn("__prev", F.lag(F.col(state_col)).over(w))
    # Within-batch rows lag normally; each key's FIRST batch row lags
    # into the seed row (no seed on a never-seen key = NULL = no edge).
    return (
        lagged.filter(
            (F.col("__synth") == 1) & F.col("__prev").isNotNull()
        )
        .select(
            F.col("__prev").alias("prev_state"),
            F.col(state_col).alias("next_state"),
        )
        .groupBy("prev_state", "next_state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def transitions_next_state(
    batch: DataFrame,
    state: DataFrame | None,
    *,
    key_col: str,
    state_col: str,
    order_cols: tuple[str, ...],
) -> DataFrame:
    """The pure state-advance plan: per key, the state value at the
    greatest order — deterministic when ``(key, order_cols)`` is
    unique, map-side combinable.

    r14: old state rides the same aggregate as a synthetic entry with
    leading priority 0 (batch entries carry 1): it loses the ``max`` to
    any batch row for the key and survives when the key is silent this
    batch — the carry-over the former groupBy + anti-join + union
    computed, now one groupBy with no join."""
    state_type = batch.select(F.col(state_col)).schema[0].dataType
    order_types = {
        f.name: f.dataType
        for f in batch.schema.fields
        if f.name in order_cols
    }
    ordered = F.struct(
        F.lit(1).alias("__p"),
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
        F.col(state_col).alias("__v"),
    )
    cand = batch.select(F.col(key_col), ordered.alias("__s"))
    if state is not None:
        cand = cand.unionByName(
            state.select(
                F.col(key_col),
                F.struct(
                    F.lit(0).alias("__p"),
                    *[
                        F.lit(None).cast(order_types[c]).alias(f"__o{i}")
                        for i, c in enumerate(order_cols)
                    ],
                    F.col("__last_state").cast(state_type).alias("__v"),
                ).alias("__s"),
            )
        )
    return (
        cand.groupBy(key_col)
        .agg(F.max("__s").alias("__s"))
        .select(key_col, F.col("__s.__v").alias("__last_state"))
    )


def transitions_apply_batch(
    batch: DataFrame,
    *,
    state_path: str,
    out_path: str,
    key_col: str,
    state_col: str,
    order_cols: tuple[str, ...],
    batch_id: int,
) -> int:
    """Count one micro-batch's transitions (boundary-seeded) and
    advance the per-key last-state store; returns the version written
    (``batch_id + 1``). Replaying the same ``batch_id`` re-reads the
    same parent state and overwrites the same output and state
    partitions — idempotent under ``foreachBatch`` replay."""
    spark = batch.sparkSession
    target = int(batch_id) + 1
    try:
        parent = _latest_version_below(spark, state_path, target)
        state = (
            spark.read.parquet(state_path)
            .filter(F.col(_VERSION_COL) == parent)
            .select(key_col, "__last_state")
        )
    except FileNotFoundError:
        # No committed state version: correct for batch 0. As with any
        # streaming state backend the store must live on durable
        # storage; a vanished store degrades to "no history" rather
        # than failing — the same contract as a lost checkpoint.
        state = None

    counts = transitions_count_plan(
        batch,
        state,
        key_col=key_col,
        state_col=state_col,
        order_cols=order_cols,
    )
    batch_state = transitions_next_state(
        batch,
        state,
        key_col=key_col,
        state_col=state_col,
        order_cols=order_cols,
    )
    # Output and state are independent publishes on disjoint dirs —
    # overlapped (guide §2.6), identical bytes and crash semantics.
    _write_versions_overlapped(
        [(counts, out_path, target), (batch_state, state_path, target)]
    )
    return target


def transitions_foreach_batch(
    *,
    state_path: str,
    out_path: str,
    key_col: str,
    state_col: str,
    order_cols: tuple[str, ...],
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper around :func:`transitions_apply_batch`."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        transitions_apply_batch(
            batch_df,
            state_path=state_path,
            out_path=out_path,
            key_col=key_col,
            state_col=state_col,
            order_cols=order_cols,
            batch_id=batch_id,
        )

    return apply


def transition_counts_result(
    spark: SparkSession,
    out_path: str,
    *,
    empty_schema: str = "prev_state string, next_state string, n bigint",
) -> DataFrame:
    """Total transition counts across every committed batch plus the
    integer-ppm row probabilities — the exact output contract (and
    arithmetic) of the batch ``transition_matrix``.

    A stream whose every batch carried zero transitions (single-event
    keys only) commits no readable partition — dynamic partition
    overwrite writes nothing for an empty frame — so the store has no
    schema to infer; ``empty_schema`` declares the frame returned in
    that legal-but-empty case (override it for non-string states)."""
    if not _versions(spark, out_path):
        per_batch = spark.createDataFrame([], empty_schema)
    else:
        per_batch = spark.read.parquet(out_path).drop(_VERSION_COL)
    totals = per_batch.groupBy("prev_state", "next_state").agg(
        F.sum("n").cast("bigint").alias("transitions")
    )
    return totals.withColumn(
        "prob_ppm",
        F.expr(
            "(transitions * 1000000) DIV sum(transitions)"
            " OVER (PARTITION BY prev_state)"
        ).cast("bigint"),
    )
