"""Upsert / merge operators: changelog compaction and SCD2 history.

Training corpora and the dimension tables around them are not static:
crawls re-deliver documents, labels get corrected, customer/catalog
dimensions drift. Lakehouse tables handle this with MERGE INTO; this
module expresses the same two canonical merge shapes as pure
DataFrame plans, so they run on any Spark without a table format:

- ``changelog_latest_snapshot`` — latest-wins compaction of a base
  snapshot plus a stream of keyed upserts/deletes (the read path of
  every merge-on-read table format).
- ``scd2_merge`` — slowly-changing-dimension type 2: merge an update
  batch into a history table, closing changed rows (``valid_to``)
  and opening new current rows, no-op'ing identical ones.

Scale notes (100 TB):

- Both operators are a single equi-shuffle on the key. Compaction is
  one ``groupBy(key).agg(max_by(...))`` — map-side combinable, no
  window sort, so a 1000-executor run shuffles one combined row per
  key per map task, not the raw changelog.
- SCD2's join touches only the OPEN slice of the history (closed
  rows pass through untouched), and the update batch is typically
  tiny relative to the dimension — pass ``broadcast_updates=True``
  to pin the broadcast-hash plan and skip shuffling the dimension.
- With the history/base bucketed by key at write time (Spark's
  ``DataFrameWriter.bucketBy``), the remaining shuffle disappears and
  the merge is a map-side join per bucket.

The reference system (a Kafka partitioner/assignor,
BucketPriorityPartitioner.java) has no table maintenance surface;
these are engine additions for the training-data-pipeline mandate.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["changelog_latest_snapshot", "scd2_merge", "scd2_point_in_time"]


def changelog_latest_snapshot(
    base: DataFrame,
    changes: DataFrame,
    *,
    key_cols: list[str],
    version_col: str,
    delete_col: str | None = None,
    base_version: int = 0,
) -> DataFrame:
    """Latest-wins snapshot of ``base`` + ``changes``.

    ``base`` is a snapshot (implicitly at ``base_version``);
    ``changes`` carries ``version_col`` (higher wins per key) and
    optionally a boolean ``delete_col`` tombstone. Returns the
    compacted snapshot with ``base``'s columns: per key, the payload
    of the highest version, with tombstoned keys dropped.

    One shuffle: ``max_by`` over a struct is map-side combinable, so
    each map task contributes one candidate row per key — the classic
    window ``row_number() = 1`` plan would instead sort every version
    of every key inside the shuffle. Ties on ``version_col`` are
    broken arbitrarily; feed unique versions (e.g. a changelog
    offset) per key.
    """
    payload_cols = [c for c in base.columns if c not in key_cols]
    b = base.withColumn("__v", F.lit(base_version).cast("long")).withColumn(
        "__del", F.lit(False)
    )
    if delete_col is None:
        c = changes.withColumn("__del", F.lit(False))
    else:
        c = changes.withColumnRenamed(delete_col, "__del")
    c = c.withColumn("__v", F.col(version_col).cast("long")).drop(version_col)
    unioned = b.select(
        *key_cols, "__v", "__del", *payload_cols
    ).unionByName(c.select(*key_cols, "__v", "__del", *payload_cols))
    packed = F.struct("__del", *payload_cols)
    latest = unioned.groupBy(*key_cols).agg(
        F.max_by(packed, F.col("__v")).alias("__p")
    )
    return latest.filter(~F.col("__p.__del")).select(
        *key_cols, *[F.col(f"__p.{c}").alias(c) for c in payload_cols]
    )


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
    (latest-wins, same contract as ``changelog_latest_snapshot``).

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
