"""Streaming SCD2 dimension maintenance: apply change batches to a
versioned history table, exactly-once.

A dimension (customer segments, document labels, source metadata)
drifts while the fact stream flows; downstream training-data joins
need BOTH the current value and the point-in-time history. This
module wires :func:`..operators.merge.scd2_merge` into
``foreachBatch``:

- the history lives as a VERSIONED parquet table
  (``__version=<n>`` partitions, one per applied batch, version
  ``n = batch_id + 1``; version 0 is the seed written by
  :func:`scd2_init_history`);
- batch N reads the newest version `< N+1` and writes the merged
  result to version ``N+1`` with dynamic partition overwrite. A
  replayed batch (``foreachBatch`` is at-least-once) re-reads the
  SAME parent version — versions above it are its own possibly
  partial output — and atomically replaces its own partition, so the
  chain is exactly-once without a table format;
- old versions double as time travel (:func:`scd2_history_at`) and
  are pruned by :func:`scd2_prune_versions` once downstream readers
  move on.

Scale: each merge is the batch-broadcast plan from
``operators/merge.py`` (the open slice is never shuffled), and the
rewrite cost is one pass over the dimension per batch — the same
copy-on-write bargain every lakehouse MERGE makes. Dimensions are
orders of magnitude smaller than the 100 TB fact tables this engine
targets; for a dimension that is itself fact-sized, partition the
history by a key prefix and rewrite only touched partitions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.merge import (
    scd2_merge,
)

__all__ = [
    "scd2_init_history",
    "scd2_apply_batch",
    "scd2_foreach_batch",
    "scd2_current",
    "scd2_history_at",
    "scd2_prune_versions",
]

_VERSION_COL = "__version"


def _versions(spark: SparkSession, path: str) -> list[int]:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if name.startswith(_VERSION_COL + "="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def _write_version(df: DataFrame, path: str, version: int) -> None:
    """Publish ``df`` as ``path/__version=<n>/``.

    r13: writes go to a dot-prefixed staging dir (invisible to Spark's
    file listing and to :func:`_versions`) and publish via one atomic
    directory rename — measured ~0.2 s cheaper per call than the
    previous dynamic-partition-overwrite write (which stages, lists,
    and per-file-moves through the committer), and every versioned
    state op pays this once or twice per micro-batch. Crash windows
    are no worse than dynamic overwrite's: a crash before the rename
    leaves only an invisible staging dir (re-staged deterministically
    on replay); a crash between delete and rename leaves the version
    absent, exactly the state replay recovers from.

    r14: the stage itself is a ``partitionBy(__version)`` write. The
    historical contract that an EMPTY frame commits no version (the
    rollup floor twin and empty-batch replay rely on it) holds because
    a partitioned write of an empty frame emits NO partition dirs — a
    plain write emits a schema-only ``part-`` file, which made the
    r13 any-part-file check always pass and published empty versions
    (ADVICE r13, high). Publishing renames the staged partition dir
    itself, so the read side is unchanged: the directory name supplies
    the partition value with the same inferred type.

    Portability caveat: the publish relies on atomic, O(1) directory
    rename — true on local filesystems and HDFS (the only supported
    state stores here). On object stores (S3A and friends) "rename" is
    a non-atomic O(data) copy, which reopens the crash window this
    docstring argues away AND makes delete(target)+rename a visible
    gap for concurrent readers; put the state path on a real
    filesystem, or revert to dynamic partition overwrite there.
    Single-writer discipline is assumed throughout (Structured
    Streaming replays one batch at a time)."""
    jvm = df.sparkSession._jvm
    hconf = df.sparkSession._jsc.hadoopConfiguration()
    target = jvm.org.apache.hadoop.fs.Path(f"{path}/{_VERSION_COL}={int(version)}")
    # Deterministic staging name: a crashed writer's leftover is simply
    # overwritten by the replay's own staging write.
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path}/.{_VERSION_COL}={int(version)}.inprogress"
    )
    staged = jvm.org.apache.hadoop.fs.Path(
        f"{tmp}/{_VERSION_COL}={int(version)}"
    )
    fs = target.getFileSystem(hconf)
    (
        df.withColumn(_VERSION_COL, F.lit(int(version)))
        .write.mode("overwrite")
        .partitionBy(_VERSION_COL)
        .parquet(str(tmp))
    )
    if not fs.exists(staged):  # empty frame: no partition dir staged
        fs.delete(tmp, True)
        return
    if fs.exists(target):
        fs.delete(target, True)
    if not fs.rename(staged, target):
        raise OSError(f"failed to publish state version: {staged} -> {target}")
    fs.delete(tmp, True)  # drop the now-empty staging shell (_SUCCESS)


_CALLER_PROPERTIES = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
    "spark.scheduler.pool",
)


def _write_versions_overlapped(
    writes: list[tuple[DataFrame, str, int]],
) -> None:
    """Run several :func:`_write_version` publishes concurrently.

    The per-batch OUTPUT and STATE publishes of the two-store operators
    (LOCF, transitions) are independent jobs on disjoint directories —
    they were serial only because the driver called them sequentially
    (guide §2.6), so a 2-thread pool overlaps the second job with the
    first's write/commit tail. Each publish's bytes and rename are
    exactly :func:`_write_version`'s; only wall-clock overlaps. Crash
    semantics are unchanged: the serial order already admitted a crash
    between the two commits, and replay regenerates BOTH stores
    deterministically from the parent state, so commit order between
    the pair was never load-bearing. Exceptions from either publish
    propagate (the micro-batch fails and is replayed).

    Spark's job group, description and scheduler pool are thread-local,
    so the caller's are copied into each pool thread: the publishes'
    jobs stay attributed to the stream and are cancelled with it."""
    if len(writes) == 1:
        _write_version(*writes[0])
        return
    from concurrent.futures import ThreadPoolExecutor

    sc = writes[0][0].sparkSession.sparkContext
    props = {k: sc.getLocalProperty(k) for k in _CALLER_PROPERTIES}

    def publish(df: DataFrame, path: str, version: int) -> None:
        for k, v in props.items():
            sc.setLocalProperty(k, v)  # None clears a stale value
        _write_version(df, path, version)

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        for f in [pool.submit(publish, *w) for w in writes]:
            f.result()


def scd2_init_history(
    dimension: DataFrame,
    history_path: str,
    *,
    valid_from: str = "1970-01-01",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> None:
    """Seed the history table (version 0): every dimension row open
    since ``valid_from``. Validity bounds are ISO-date strings —
    exactly comparable across engines and batch replays."""
    seeded = dimension.select(
        "*",
        F.lit(valid_from).alias(valid_from_col),
        F.lit(None).cast("string").alias(valid_to_col),
        F.lit(True).alias(current_col),
    )
    _write_version(seeded, history_path, 0)


def scd2_history_at(
    spark: SparkSession, history_path: str, version: int
) -> DataFrame:
    """Time travel: the full SCD2 table as of ``version``."""
    return (
        spark.read.parquet(history_path)
        .filter(F.col(_VERSION_COL) == version)
        .drop(_VERSION_COL)
    )


def _latest_version_below(
    spark: SparkSession, history_path: str, bound: int
) -> int:
    cands = [v for v in _versions(spark, history_path) if v < bound]
    if not cands:
        raise FileNotFoundError(
            f"no committed history version < {bound} under {history_path}; "
            "seed with scd2_init_history first"
        )
    return max(cands)


def scd2_apply_batch(
    updates: DataFrame,
    *,
    history_path: str,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_col: str,
    batch_id: int,
    broadcast_updates: bool = True,
) -> int:
    """Merge one change batch into the history; returns the version
    written (``batch_id + 1``). Re-applying the same ``batch_id``
    re-reads the same parent version and overwrites the same output
    partition — idempotent under ``foreachBatch`` replay."""
    spark = updates.sparkSession
    target = int(batch_id) + 1
    parent = _latest_version_below(spark, history_path, target)
    history = scd2_history_at(spark, history_path, parent)
    merged = scd2_merge(
        history,
        updates,
        key_cols=key_cols,
        tracked_cols=tracked_cols,
        effective_col=effective_col,
        broadcast_updates=broadcast_updates,
    )
    _write_version(merged, history_path, target)
    return target


def scd2_foreach_batch(
    *,
    history_path: str,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_col: str,
    broadcast_updates: bool = True,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper around :func:`scd2_apply_batch`."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        scd2_apply_batch(
            batch_df,
            history_path=history_path,
            key_cols=key_cols,
            tracked_cols=tracked_cols,
            effective_col=effective_col,
            batch_id=batch_id,
            broadcast_updates=broadcast_updates,
        )

    return apply


def scd2_current(spark: SparkSession, history_path: str) -> DataFrame:
    """The newest committed history version (the live SCD2 table)."""
    versions = _versions(spark, history_path)
    if not versions:
        raise FileNotFoundError(f"no history versions under {history_path}")
    return scd2_history_at(spark, history_path, versions[-1])


def scd2_prune_versions(
    spark: SparkSession, history_path: str, *, keep_last: int = 2
) -> list[int]:
    """Delete all but the newest ``keep_last`` versions; returns the
    versions removed. Keep at least 2 so an in-flight replay of the
    newest batch can still read its parent."""
    if keep_last < 2:
        raise ValueError("keep_last must be >= 2 (replay needs the parent)")
    versions = _versions(spark, history_path)
    doomed = versions[:-keep_last] if len(versions) > keep_last else []
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(history_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    for v in doomed:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{history_path}/{_VERSION_COL}={v}"
            ),
            True,
        )
    return doomed
