"""Streaming mergeable Misra-Gries state — the incremental twin of the
batch heavy-hitters detector (``operators/heavyhitters.py``).

The rollup store (``streaming/rollup.py``) proved the pattern for
DECOMPOSABLE aggregates: one state row per key, commutative merges,
final state bit-identical to the batch aggregate. Misra-Gries extends
it to the BOUNDED-state regime: the summary keeps at most ``capacity``
kept-key rows however many distinct keys flow past, because MG
summaries are mergeable (Agarwal et al., "Mergeable Summaries",
PODS'12) — combine two summaries by adding weights per key, then, if
more than ``capacity`` keys remain, subtract the (capacity+1)-th
largest weight from all of them, keep the strictly-positive survivors,
and add the subtracted value to the accumulated decrement total. The
invariant every merge preserves (same as the batch partial's):

    true_count − offset  ≤  Σweight(key)  ≤  true_count

so after the final batch the candidate set provably contains every key
whose true count exceeds ``offset`` — the identical guarantee the
batch ``misra_gries_partial`` pass gives, because the batch pass IS a
merge tree over per-partition summaries and merging is associative.
The streaming half only changes WHERE the tree's internal nodes live:
in a versioned state store between micro-batches instead of inside one
job's shuffle.

Storage protocol: the versioned-parquet exactly-once discipline shared
by ``streaming/{dimension,locf,transitions,rollup}.py`` — state lands
in ``__version = batch_id + 1`` partitions via dynamic partition
overwrite; a replayed batch re-reads its parent version and atomically
rewrites its own. One NULL-key marker row per version carries the
``(offset, rows)`` accounting (the same convention as the batch
partial's marker row); kept keys carry ``mg_weight``.

Scale: per batch, one Arrow-batched MG map pass over the batch (first
shuffle capped at ``capacity`` rows per map task), one summary-sized
merge join against ≤ ``capacity`` state rows, and one summary-sized
ordered ``limit(capacity+1)`` to find the truncation threshold
in-plan — nothing driver-side, nothing proportional to key
cardinality. The exact-verify readout (recount only candidate keys
from the retained source, the lakehouse norm) is what keeps the final
answer EXACT and lets the streaming query share the batch oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.heavyhitters import (
    misra_gries_partial,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    local_table,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.dimension import (
    _latest_version_below,
    _write_version,
    _versions,
    _VERSION_COL,
)

__all__ = [
    "mg_apply_batch",
    "mg_foreach_batch",
    "mg_state_candidates",
    "mg_state_meta",
    "mg_exact_topk",
]


def mg_apply_batch(
    batch: DataFrame,
    *,
    state_path: str,
    key_col: str,
    capacity: int,
    batch_id: int,
) -> int:
    """Merge one micro-batch's MG summary into the bounded state;
    returns the version written (``batch_id + 1``). Replaying the same
    ``batch_id`` re-reads the same parent and overwrites the same
    partition — idempotent under ``foreachBatch`` replay."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    spark = batch.sparkSession
    target = int(batch_id) + 1
    key_type = batch.schema[key_col].dataType

    parts = misra_gries_partial(batch, key_col, capacity)
    try:
        parent = _latest_version_below(spark, state_path, target)
    except FileNotFoundError:
        # No committed state version: correct for batch 0 (and the
        # lost-checkpoint degradation — absent durable state means
        # "no history", the bound simply restarts).
        state = None
    else:
        state = spark.read.parquet(state_path).filter(
            F.col(_VERSION_COL) == parent
        )
    # One union + one groupBy merges batch partials with state rows
    # (r13, guide §2.4 — same rewrite as streaming/rollup.py: weight
    # merging is pure bigint addition, so summing per-key over
    # (batch partial rows ∪ state rows) equals the historical
    # aggregate-then-FullOuter-join, one Exchange instead of three).
    # Kept keys sum their weights; the NULL-key group sums the marker
    # accounting columns — batch partials contribute (mg_offset,
    # mg_rows) on their per-partition marker rows, the state marker
    # carries the accumulated totals, and NULL weights fall out of
    # SUM's null-skipping exactly as the old coalesce(.., 0) did
    # (each side guaranteed ≥1 non-null contribution overall by the
    # marker convention; a keyed group always has ≥1 non-null weight).
    merge_src = parts.select(key_col, "mg_weight", "mg_offset", "mg_rows")
    if state is not None:
        merge_src = merge_src.unionByName(
            state.select(key_col, "mg_weight", "mg_offset", "mg_rows")
        )
    combined = merge_src.groupBy(key_col).agg(
        F.coalesce(F.sum("mg_weight"), F.lit(0)).cast("bigint").alias("__w"),
        F.coalesce(F.sum("mg_offset"), F.lit(0)).cast("bigint").alias("__off"),
        F.coalesce(F.sum("mg_rows"), F.lit(0)).cast("bigint").alias("__rows"),
    )
    # merged/meta/thr/kept all reference the same aggregate subtree;
    # its single Exchange is deduplicated by ReusedExchange, so the
    # Arrow MG pass and the shuffle run once per batch.
    merged = combined.filter(F.col(key_col).isNotNull()).select(key_col, "__w")
    meta = combined.filter(F.col(key_col).isNull()).agg(
        F.coalesce(F.sum("__off"), F.lit(0)).cast("bigint").alias("__off"),
        F.coalesce(F.sum("__rows"), F.lit(0)).cast("bigint").alias("__rows"),
    )

    # Mergeable-summaries truncation, entirely in-plan: the threshold
    # is the (capacity+1)-th largest merged weight when the summary
    # overflows, else 0. The ordered limit runs over summary-sized
    # data (≤ capacity state rows + ≤ capacity·partitions batch rows).
    thr = (
        merged.orderBy(F.col("__w").desc(), F.col(key_col).asc())
        .limit(capacity + 1)
        .agg(
            F.coalesce(F.min("__w"), F.lit(0)).alias("__kth"),
            F.count(F.lit(1)).alias("__m"),
        )
        .select(
            F.when(F.col("__m") == capacity + 1, F.col("__kth"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("__thr")
        )
    )
    kept = (
        merged.crossJoin(F.broadcast(thr))
        .select(
            key_col,
            (F.col("__w") - F.col("__thr")).cast("bigint").alias("mg_weight"),
        )
        .filter(F.col("mg_weight") > 0)
        .select(
            key_col,
            "mg_weight",
            F.lit(None).cast("bigint").alias("mg_offset"),
            F.lit(None).cast("bigint").alias("mg_rows"),
        )
    )
    marker = meta.crossJoin(thr).select(
        F.lit(None).cast(key_type).alias(key_col),
        F.lit(None).cast("bigint").alias("mg_weight"),
        (F.col("__off") + F.col("__thr")).cast("bigint").alias("mg_offset"),
        F.col("__rows").cast("bigint").alias("mg_rows"),
    )
    _write_version(kept.unionByName(marker), state_path, target)
    return target


def mg_foreach_batch(
    *,
    state_path: str,
    key_col: str,
    capacity: int,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` adapter for :func:`mg_apply_batch`."""

    def inner(batch: DataFrame, batch_id: int) -> None:
        mg_apply_batch(
            batch,
            state_path=state_path,
            key_col=key_col,
            capacity=capacity,
            batch_id=batch_id,
        )

    return inner


def _latest_state(spark: SparkSession, state_path: str) -> DataFrame:
    versions = _versions(spark, state_path)
    if not versions:
        raise FileNotFoundError(f"no committed MG versions under {state_path}")
    return (
        spark.read.parquet(state_path)
        .filter(F.col(_VERSION_COL) == versions[-1])
        .drop(_VERSION_COL)
    )


_RESERVED = ("mg_weight", "mg_offset", "mg_rows")


def _key_col(df: DataFrame) -> str:
    # derive the key column by elimination, not position — parquet
    # reads can reorder columns around partition columns
    names = [c for c in df.columns if c not in _RESERVED]
    if len(names) != 1:
        raise ValueError(f"ambiguous MG state schema: {df.columns}")
    return names[0]


def mg_state_candidates(spark: SparkSession, state_path: str) -> DataFrame:
    """The latest committed candidate set ``(key, mg_weight)`` — every
    key whose true stream count exceeds the accumulated decrement total
    (see :func:`mg_state_meta`) is guaranteed present."""
    key_rows = _latest_state(spark, state_path)
    key_col = _key_col(key_rows)
    return key_rows.filter(F.col(key_col).isNotNull()).select(
        key_col, "mg_weight"
    )


def mg_exact_topk(
    spark: SparkSession,
    state_path: str,
    source: DataFrame,
    *,
    key_col: str,
    k: int = 20,
    count_alias: str = "n_events",
) -> DataFrame:
    """EXACT top-``k`` readout over the MG candidate set, with the
    exactness certificate the bare candidates-only recount lacks
    (ADVICE r10): the MG invariant bounds every NON-candidate's true
    count by ``err_bound`` (the accumulated decrement total), so the
    candidates-only recount provably holds the true top-k iff the k-th
    recounted candidate still exceeds ``err_bound``. When the summary
    never decremented (capacity ≥ distinct keys — the fixture regime)
    the certificate is free; when key growth overflows capacity and
    the certificate fails, fall back to ONE full key-sized exact
    recount — the honest cost of exactness — instead of silently
    dropping a decremented true heavy hitter. Only driver-side data
    touched: the 1-row meta and the ≤ k-row head."""
    cand_keys = mg_state_candidates(spark, state_path).select(key_col)
    exact = (
        source.join(F.broadcast(cand_keys), key_col, "inner")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias(count_alias))
    )
    top = exact.orderBy(F.desc(count_alias), F.asc(key_col)).limit(k)
    err_bound = (
        mg_state_meta(spark, state_path).collect()[0]["err_bound"] or 0
    )
    if err_bound > 0:
        head = top.collect()
        if len(head) < k or head[-1][count_alias] <= err_bound:
            top = (
                source.groupBy(key_col)
                .agg(F.count(F.lit(1)).alias(count_alias))
                .orderBy(F.desc(count_alias), F.asc(key_col))
                .limit(k)
            )
        else:
            # Certificate passed: the collected head IS the certified
            # readout — hand it back as a local-relation DataFrame so
            # the caller's materialization doesn't re-run the candidate
            # recount job a second time (ADVICE r11).
            return local_table(spark, head, top.schema)
    return top


def mg_state_meta(spark: SparkSession, state_path: str) -> DataFrame:
    """One row: ``(err_bound, total_rows)`` — the accumulated decrement
    total (max possible undercount for ANY key) and rows processed."""
    key_rows = _latest_state(spark, state_path)
    key_col = _key_col(key_rows)
    return key_rows.filter(F.col(key_col).isNull()).select(
        F.col("mg_offset").alias("err_bound"),
        F.col("mg_rows").alias("total_rows"),
    )
