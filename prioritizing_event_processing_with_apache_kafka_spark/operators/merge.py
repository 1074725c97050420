"""Upsert / merge operators: SCD2 history.

Customer and catalog dimensions drift. Lakehouse tables handle this
with MERGE INTO; this module expresses the same merge as a pure
DataFrame plan, so it runs on any Spark without a table format:

- ``scd2_merge`` — slowly-changing-dimension type 2: merge an update
  batch into a history table, closing changed rows (``valid_to``)
  and opening new current rows, no-op'ing identical ones.
- ``scd2_point_in_time`` — the history's as-of read.

Scale notes (100 TB):

- The merge is a single equi-shuffle on the key.
- SCD2's join touches only the OPEN slice of the history (closed
  rows pass through untouched), and the update batch is typically
  tiny relative to the dimension — pass ``broadcast_updates=True``
  to pin the broadcast-hash plan and skip shuffling the dimension.
- With the history bucketed by key at write time (Spark's
  ``DataFrameWriter.bucketBy``), the remaining shuffle disappears and
  the merge is a map-side join per bucket.

The reference system (a Kafka partitioner/assignor,
BucketPriorityPartitioner.java) has no table maintenance surface;
these are engine additions.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["scd2_merge", "scd2_point_in_time"]


def scd2_merge(
    history: DataFrame,
    updates: DataFrame,
    *,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
    broadcast_updates: bool = False,
) -> DataFrame:
    """Merge an update batch into an SCD2 history table.

    ``history`` holds ``key_cols + tracked_cols + [valid_from,
    valid_to, is_current]`` (open rows have NULL ``valid_to``);
    ``updates`` holds ``key_cols + tracked_cols + [effective_col]``.
    Per update key:

    - tracked values differ from the open row → the open row is
      CLOSED (``valid_to = effective``, ``is_current = false``) and a
      new open row is inserted effective then;
    - tracked values identical → no-op (idempotent re-delivery);
    - key absent from history → new open row inserted.

    Open rows with no update, and all already-closed rows, pass
    through untouched. If ``updates`` may carry several rows per key,
    it is first collapsed to the latest by ``effective_col``
    (latest-wins).

    The plan joins only the OPEN slice of history against the batch —
    closed history is unioned back without touching the join. The
    close/open/no-op decision is a single ``explode`` of per-row
    output structs over ONE join — not three filtered branches, which
    would make Catalyst recompute the join (and rescan the dimension)
    once per branch.

    ``broadcast_updates=False`` (default): one full-outer sort-merge
    join — right when the batch is dimension-sized; with the history
    bucketed by key at write time the shuffle disappears.
    ``broadcast_updates=True``: Spark cannot broadcast a FULL outer
    join, so the plan decomposes into a broadcast LEFT-outer join
    (existing keys; the open slice is never shuffled) plus a
    broadcast semi/anti pair that isolates brand-new keys — the
    dimension's key column is rescanned (pruned scan), never
    shuffled, and every join builds on the small side.
    """
    out_cols = [*key_cols, *tracked_cols, valid_from_col, valid_to_col, current_col]
    open_rows = history.filter(F.col(current_col)).select(*out_cols)
    closed_rows = history.filter(~F.col(current_col)).select(*out_cols)
    vt_type = history.schema[valid_to_col].dataType

    # Rows with a NULL effective timestamp cannot close or open a
    # validity interval, so they are dropped up front. This matters
    # for more than hygiene: ``max_by`` ignores NULL-ordered rows, so
    # a key whose every update has NULL effective would otherwise
    # aggregate to a NULL payload while still LOOKING like an update —
    # closing the open row with valid_to=NULL and inserting an
    # all-NULL open row. Dropping them first makes such keys a no-op.
    upd = updates.filter(F.col(effective_col).isNotNull())
    upd = upd.groupBy(*key_cols).agg(
        F.max_by(
            F.struct(*tracked_cols, effective_col), F.col(effective_col)
        ).alias("__u")
    )
    upd = upd.select(
        *key_cols,
        *[F.col(f"__u.{c}").alias(f"__new_{c}") for c in tracked_cols],
        F.col(f"__u.{effective_col}").alias("__eff"),
    )
    # Presence on each side of the outer join is detected via literal
    # marker columns, NOT via nullability of data columns: an open row
    # whose valid_from is legitimately NULL (the schema permits it)
    # must still be recognized as existing history. (Updates with NULL
    # effective timestamps were already dropped above, so __has_upd
    # marks exactly the keys carrying a usable update.)
    open_side = open_rows.withColumn("__has_open", F.lit(True))
    upd = upd.withColumn("__has_upd", F.lit(True))
    has_open = F.col("__has_open").isNotNull()
    has_upd = F.col("__has_upd").isNotNull()
    same = F.struct(*[F.col(c) for c in tracked_cols]).eqNullSafe(
        F.struct(*[F.col(f"__new_{c}").alias(c) for c in tracked_cols])
    )

    def _out(tracked_exprs, vf, vt, cur):
        return F.struct(
            *[e.alias(c) for e, c in zip(tracked_exprs, tracked_cols)],
            vf.alias(valid_from_col),
            vt.alias(valid_to_col),
            cur.alias(current_col),
        )

    keep = _out(
        [F.col(c) for c in tracked_cols],
        F.col(valid_from_col),
        F.col(valid_to_col),
        F.col(current_col),
    )
    close = _out(
        [F.col(c) for c in tracked_cols],
        F.col(valid_from_col),
        F.col("__eff"),
        F.lit(False),
    )
    reopen = _out(
        [F.col(f"__new_{c}") for c in tracked_cols],
        F.col("__eff"),
        F.lit(None).cast(vt_type),
        F.lit(True),
    )
    emitted = (
        F.when(has_open & (~has_upd | same), F.array(keep))  # no-op
        .when(has_open & has_upd & ~same, F.array(close, reopen))  # change
        .otherwise(F.array(reopen))  # brand-new key
    )

    if not broadcast_updates:
        j = open_side.join(upd, key_cols, "full_outer")
        merged_open = j.select(*key_cols, F.explode(emitted).alias("__r")).select(
            *key_cols, "__r.*"
        )
        return closed_rows.unionByName(merged_open)

    # Broadcast path: FULL outer joins are not broadcastable, so split
    # into (a) broadcast left-outer over the open slice — covers
    # no-op/close/reopen for keys the dimension already has — and
    # (b) brand-new keys, isolated by a broadcast semi/anti pair whose
    # intermediate (open keys that have an update) is at most
    # batch-sized. The dimension is never shuffled.
    j = open_side.join(F.broadcast(upd), key_cols, "left")
    existing = j.select(*key_cols, F.explode(emitted).alias("__r")).select(
        *key_cols, "__r.*"
    )
    matched_keys = open_rows.select(*key_cols).join(
        F.broadcast(upd.select(*key_cols)), key_cols, "left_semi"
    )
    brand_new = upd.join(F.broadcast(matched_keys), key_cols, "left_anti").select(
        *key_cols,
        *[F.col(f"__new_{c}").alias(c) for c in tracked_cols],
        F.col("__eff").alias(valid_from_col),
        F.lit(None).cast(vt_type).alias(valid_to_col),
        F.lit(True).alias(current_col),
    )
    return closed_rows.unionByName(existing).unionByName(brand_new)


def scd2_point_in_time(
    facts: DataFrame,
    history: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
    broadcast_history: bool = True,
) -> DataFrame:
    """Enrich facts with the dimension attributes valid at fact time.

    The canonical consumer of an SCD2 history: each fact row picks up
    the tracked attributes from the interval containing its
    timestamp — ``valid_from <= ts < valid_to`` (open rows have NULL
    ``valid_to`` = infinity). Facts whose key has no covering
    interval keep NULL attributes (left join).

    A well-formed history partitions time per key, so each fact
    matches at most one interval. The equality keys drive a hash
    join; the interval predicate rides along as a join condition, so
    with ``broadcast_history=True`` (dimensions are small next to
    100 TB of facts) this is one broadcast hash join, zero shuffles
    of the fact table. For a fact-sized history use
    ``operators/rangejoin.py``'s bin-bucketed plan instead.
    """
    attr_cols = [
        c
        for c in history.columns
        if c not in {*key_cols, valid_from_col, valid_to_col, current_col}
    ]
    f, h = facts.alias("__f"), history.alias("__h")
    cond = functools.reduce(
        operator.and_,
        [F.col(f"__f.{k}") == F.col(f"__h.{k}") for k in key_cols],
    )
    cond = (
        cond
        & (F.col(f"__f.{ts_col}") >= F.col(f"__h.{valid_from_col}"))
        & (
            F.col(f"__h.{valid_to_col}").isNull()
            | (F.col(f"__f.{ts_col}") < F.col(f"__h.{valid_to_col}"))
        )
    )
    right = F.broadcast(h) if broadcast_history else h
    return f.join(right, cond, "left").select(
        "__f.*", *[F.col(f"__h.{c}").alias(c) for c in attr_cols]
    )
