"""Streaming last-observation-carried-forward (LOCF) enrichment —
the CAUSAL twin of the batch gap fill.

``operators/timeseries.py:gap_fill_interpolate`` interpolates between
both neighbors, which needs the future and therefore only exists in
batch. A live pipeline can only carry the last observation forward:
every record is enriched with the most recent "reading" (a row
matching the observation predicate) seen so far for its key — across
micro-batch boundaries, which is what makes it a stateful streaming
operator rather than a window expression.

Protocol (same versioned-parquet exactly-once discipline as
``streaming/dimension.py``, whose helpers this module reuses):

- the STATE table holds one row per key — the latest observation's
  ``(order_cols, value)`` — as ``__version=<n>`` partitions, version
  ``n = batch_id + 1``; no seed version is required (an absent parent
  means "no observations yet", which is exactly batch 0's state);
- the OUTPUT table is also versioned by batch: batch N's enriched
  rows land in partition ``N+1`` via dynamic partition overwrite, so
  a replayed batch (``foreachBatch`` is at-least-once) atomically
  replaces ITS OWN rows and re-reads its parent state — exactly-once
  end to end without a table format;
- within a batch, the fill is one ignore-nulls window over
  ``(key, order_cols)`` seeded by unioning the per-key state rows in
  as synthetic first-of-key rows (state is #keys rows — tiny by
  construction, and it rides the window's one key exchange instead of
  a broadcast round).

Determinism contract: if micro-batch boundaries respect the order
columns (a time-split file stream, a Kafka topic keyed by time), the
streamed result is bit-identical to the batch LOCF window over the
full data — which is how the declared query is hash-oracled against
DuckDB despite being a genuine two-batch stateful replay.

Scale: state is one row per key and the output write is one pass over
each batch; nothing accumulates beyond the key cardinality, and the
window shuffles each batch once on the key — the same exchange any
per-key streaming aggregation pays.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.streaming.dimension import (
    _latest_version_below,
    _write_versions_overlapped,
    _VERSION_COL,
)

__all__ = [
    "locf_apply_batch",
    "locf_enrich",
    "locf_foreach_batch",
    "locf_next_state",
    "locf_result",
]


def locf_enrich(
    batch: DataFrame,
    state: DataFrame | None,
    *,
    key_col: str,
    order_cols: tuple[str, ...],
    obs_col: Column,
    filled_col: str = "filled_value",
    flag_col: str = "was_filled",
) -> DataFrame:
    """The pure enrichment plan of one micro-batch: ignore-nulls window
    over ``(key, order_cols)`` seeded by the per-key ``state`` frame
    (``(key_col, __locf_seed)``; ``None`` means "no observations yet").

    r14: the seed rides the window itself — each state row enters the
    union as a synthetic row ordered BEFORE every batch row of its key
    (a leading ``__locf_synth`` sort key), so ``last(ignorenulls)`` over
    the union IS ``coalesce(last batch obs, seed)``; the former
    broadcast join (a driver-blocking collect per micro-batch) is gone
    and the state rows ride the one key exchange the window already
    pays. Synthetic rows are dropped after the window, so the output is
    row-for-row the old plan's. Extracted from :func:`locf_apply_batch`
    so the per-batch plan shape can be fingerprinted
    (tests/plan_fingerprints.json) without driving the effectful
    protocol.

    NULL keys form ONE group: the window's ``partitionBy`` and the
    state's ``groupBy`` both put every NULL ``key_col`` row together,
    so NULL-key rows fill from each other and are seeded from the
    NULL-key state row like any other key. That is the batch LOCF
    window's behaviour (SQL ``PARTITION BY`` groups NULLs too), so the
    determinism contract holds for NULL keys."""
    # Observation typed against THIS batch: a hardcoded double would
    # fork the output schema between batch 0 (no state) and later
    # batches for non-double observations.
    obs_type = batch.select(obs_col.alias("__t")).schema[0].dataType

    tagged = batch.select(
        *batch.columns,
        obs_col.cast(obs_type).alias("__locf_obs_in"),
        F.lit(1).alias("__locf_synth"),
    )
    if state is not None:
        synth = state.select(
            F.col(key_col),
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in batch.schema.fields
                if f.name != key_col
            ],
            F.col("__locf_seed").cast(obs_type).alias("__locf_obs_in"),
            F.lit(0).alias("__locf_synth"),
        )
        tagged = tagged.unionByName(synth)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.asc("__locf_synth"), *[F.asc(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    enriched = tagged.withColumn(
        "__locf_prev", F.last("__locf_obs_in", ignorenulls=True).over(w)
    )
    return enriched.filter(F.col("__locf_synth") == 1).select(
        *batch.columns,
        F.col("__locf_prev").alias(filled_col),
        F.col("__locf_obs_in").isNull().alias(flag_col),
    )


def locf_next_state(
    batch: DataFrame,
    state: DataFrame | None,
    *,
    key_col: str,
    order_cols: tuple[str, ...],
    obs_col: Column,
) -> DataFrame:
    """The pure state-advance plan: per key, the observation with the
    greatest order — a lexicographic ``max(struct(order..., obs))`` is
    deterministic when ``(key, order_cols)`` is unique, and map-side
    combinable.

    r14: old state rides the same aggregate as a synthetic entry with a
    leading priority field 0 (batch entries carry 1), so it loses the
    ``max`` to any batch observation for the key and survives when the
    key is silent this batch — the same carry-over the former
    groupBy + anti-join + union computed, now one map-combinable
    groupBy with no join."""
    obs_type = batch.select(obs_col.alias("__t")).schema[0].dataType
    order_types = {
        f.name: f.dataType
        for f in batch.schema.fields
        if f.name in order_cols
    }
    ordered_obs = F.struct(
        F.lit(1).alias("__p"),
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
        obs_col.cast(obs_type).alias("__v"),
    )
    cand = batch.filter(obs_col.isNotNull()).select(
        F.col(key_col), ordered_obs.alias("__s")
    )
    if state is not None:
        synth = state.select(
            F.col(key_col),
            F.struct(
                F.lit(0).alias("__p"),
                *[
                    F.lit(None).cast(order_types[c]).alias(f"__o{i}")
                    for i, c in enumerate(order_cols)
                ],
                F.col("__locf_seed").cast(obs_type).alias("__v"),
            ).alias("__s"),
        )
        cand = cand.unionByName(synth)
    return (
        cand.groupBy(key_col)
        .agg(F.max("__s").alias("__s"))
        .select(key_col, F.col("__s.__v").alias("__locf_obs"))
    )


def locf_apply_batch(
    batch: DataFrame,
    *,
    state_path: str,
    out_path: str,
    key_col: str,
    order_cols: tuple[str, ...],
    obs_col: Column,
    batch_id: int,
    filled_col: str = "filled_value",
    flag_col: str = "was_filled",
) -> int:
    """Enrich one micro-batch with the carried-forward observation and
    advance the state; returns the version written (``batch_id + 1``).

    ``obs_col`` is the observation expression: non-NULL where the row
    IS a reading (those rows carry their own value forward), NULL where
    it must be filled from history. Replaying the same ``batch_id``
    re-reads the same parent state and overwrites the same output and
    state partitions — idempotent under ``foreachBatch`` replay.
    """
    spark = batch.sparkSession
    target = int(batch_id) + 1
    try:
        parent = _latest_version_below(spark, state_path, target)
        state = (
            spark.read.parquet(state_path)
            .filter(F.col(_VERSION_COL) == parent)
            .select(key_col, F.col("__locf_obs").alias("__locf_seed"))
        )
    except FileNotFoundError:
        # No committed state version: correct for batch 0 and for a
        # stream whose every batch so far carried zero observations
        # (an all-gap prefix writes no state version). This sentinel
        # CANNOT distinguish an operationally LOST store — as with any
        # streaming state backend, the store must live on durable
        # storage; a vanished store degrades to "no observations yet"
        # rather than failing, exactly like losing a checkpoint dir.
        state = None
    out = locf_enrich(
        batch,
        state,
        key_col=key_col,
        order_cols=order_cols,
        obs_col=obs_col,
        filled_col=filled_col,
        flag_col=flag_col,
    )
    batch_state = locf_next_state(
        batch, state, key_col=key_col, order_cols=order_cols, obs_col=obs_col
    )
    # Output and state are independent publishes on disjoint dirs —
    # overlapped (guide §2.6), identical bytes and crash semantics.
    _write_versions_overlapped(
        [(out, out_path, target), (batch_state, state_path, target)]
    )
    return target


def locf_foreach_batch(
    *,
    state_path: str,
    out_path: str,
    key_col: str,
    order_cols: tuple[str, ...],
    obs_col: Column,
    filled_col: str = "filled_value",
    flag_col: str = "was_filled",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper around :func:`locf_apply_batch`."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        locf_apply_batch(
            batch_df,
            state_path=state_path,
            out_path=out_path,
            key_col=key_col,
            order_cols=order_cols,
            obs_col=obs_col,
            batch_id=batch_id,
            filled_col=filled_col,
            flag_col=flag_col,
        )

    return apply


def locf_result(spark: SparkSession, out_path: str) -> DataFrame:
    """All enriched rows across every committed batch (each batch's
    rows live in their own ``__version`` partition, so this is the
    exactly-once union)."""
    return spark.read.parquet(out_path).drop(_VERSION_COL)
