"""Streaming SCD2 dimension maintenance: versioned history chain,
exactly-once replay, time travel, pruning."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.streaming.dimension import (
    scd2_apply_batch,
    scd2_current,
    scd2_foreach_batch,
    scd2_history_at,
    scd2_init_history,
    scd2_prune_versions,
)


def _seed(spark, path):
    dim = spark.createDataFrame(
        [(1, "seg-a"), (2, "seg-b"), (3, "seg-c")], "k long, seg string"
    )
    scd2_init_history(dim, path, valid_from="2024-01-01")


def _apply(spark, path, rows, batch_id):
    updates = spark.createDataFrame(rows, "k long, seg string, eff string")
    return scd2_apply_batch(
        updates,
        history_path=path,
        key_cols=["k"],
        tracked_cols=["seg"],
        effective_col="eff",
        batch_id=batch_id,
    )


def _snapshot(spark, path):
    return {
        (r["k"], r["seg"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_current(spark, path).collect()
    }


def test_chain_of_batches(spark, tmp_path):
    path = str(tmp_path / "dim")
    _seed(spark, path)
    assert _apply(spark, path, [(1, "seg-a2", "2024-02-01")], 0) == 1
    assert _apply(
        spark, path, [(1, "seg-a3", "2024-03-01"), (9, "seg-new", "2024-03-01")], 1
    ) == 2
    assert _snapshot(spark, path) == {
        (1, "seg-a"): ("2024-01-01", "2024-02-01", False),
        (1, "seg-a2"): ("2024-02-01", "2024-03-01", False),
        (1, "seg-a3"): ("2024-03-01", None, True),
        (2, "seg-b"): ("2024-01-01", None, True),
        (3, "seg-c"): ("2024-01-01", None, True),
        (9, "seg-new"): ("2024-03-01", None, True),
    }


def test_replay_is_exactly_once(spark, tmp_path):
    """Re-applying batch 1 (at-least-once delivery) reproduces the
    same version 2 instead of double-closing rows."""
    path = str(tmp_path / "dim")
    _seed(spark, path)
    _apply(spark, path, [(2, "seg-b2", "2024-02-01")], 0)
    _apply(spark, path, [(3, "seg-c2", "2024-03-01")], 1)
    before = _snapshot(spark, path)
    _apply(spark, path, [(3, "seg-c2", "2024-03-01")], 1)  # replay
    assert _snapshot(spark, path) == before


def test_time_travel_versions(spark, tmp_path):
    path = str(tmp_path / "dim")
    _seed(spark, path)
    _apply(spark, path, [(1, "seg-a2", "2024-02-01")], 0)
    v0 = scd2_history_at(spark, path, 0)
    assert v0.filter(~F.col("is_current")).count() == 0
    v1 = scd2_history_at(spark, path, 1)
    assert v1.filter(~F.col("is_current")).count() == 1


def test_foreach_batch_over_file_stream(spark, tmp_path):
    """Drive the maintainer through a real availableNow replay with
    one file per micro-batch; the final history equals the same
    batches applied sequentially in batch mode."""
    path = str(tmp_path / "dim")
    updates_dir = str(tmp_path / "updates")
    _seed(spark, path)
    b0 = spark.createDataFrame(
        [(1, "seg-a2", "2024-02-01")], "k long, seg string, eff string"
    )
    b1 = spark.createDataFrame(
        [(1, "seg-a3", "2024-03-01"), (9, "seg-new", "2024-03-01")],
        "k long, seg string, eff string",
    )
    b0.coalesce(1).write.parquet(f"{updates_dir}/f=0")
    b1.coalesce(1).write.parquet(f"{updates_dir}/f=1")

    source = (
        spark.readStream.schema("k long, seg string, eff string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{updates_dir}/f=*")
    )
    q = (
        source.writeStream.foreachBatch(
            scd2_foreach_batch(
                history_path=path,
                key_cols=["k"],
                tracked_cols=["seg"],
                effective_col="eff",
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # Batch-mode reference on a fresh history. File order within the
    # stream is lexicographic (f=0 then f=1) under maxFilesPerTrigger=1.
    ref_path = str(tmp_path / "dim_ref")
    _seed(spark, ref_path)
    _apply(spark, ref_path, [(1, "seg-a2", "2024-02-01")], 0)
    _apply(
        spark, ref_path, [(1, "seg-a3", "2024-03-01"), (9, "seg-new", "2024-03-01")], 1
    )
    assert _snapshot(spark, path) == _snapshot(spark, ref_path)


def test_prune_keeps_parent(spark, tmp_path):
    path = str(tmp_path / "dim")
    _seed(spark, path)
    for i, (k, seg, eff) in enumerate(
        [(1, "x1", "2024-02-01"), (1, "x2", "2024-03-01"), (1, "x3", "2024-04-01")]
    ):
        _apply(spark, path, [(k, seg, eff)], i)
    removed = scd2_prune_versions(spark, path, keep_last=2)
    assert removed == [0, 1]
    # newest version still readable; parent retained for replay
    assert (1, "x3") in _snapshot(spark, path)
    assert scd2_history_at(spark, path, 2).count() > 0
    with pytest.raises(ValueError):
        scd2_prune_versions(spark, path, keep_last=1)


def test_apply_without_seed_raises(spark, tmp_path):
    path = str(tmp_path / "nope")
    with pytest.raises(FileNotFoundError):
        _apply(spark, path, [(1, "z", "2024-02-01")], 0)


def test_crash_after_version_write_heals_on_replay(spark, tmp_path):
    """Failure injection: the maintainer dies AFTER writing its output
    version but BEFORE the streaming checkpoint commits — the worst
    spot, because a naive 'read latest version' merge would now merge
    the replayed batch on top of its OWN (possibly torn) output,
    double-closing rows. Worse still, the pre-crash write may be TORN
    (partial rows). The replay must (a) re-read the parent version,
    not the orphan, and (b) fully replace the orphan partition."""
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.dimension import (
        _write_version,
    )

    path = str(tmp_path / "dim")
    _seed(spark, path)
    _apply(spark, path, [(1, "seg-a2", "2024-02-01")], 0)  # version 1

    # Crash simulation: batch 1's output (version 2) lands TORN — only
    # one of the merged rows got written before the process died, and
    # the checkpoint never committed batch 1.
    torn = spark.createDataFrame(
        [(999, "torn-garbage", "2024-03-01", None, False)],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    )
    _write_version(torn, path, 2)

    # Streaming replay re-delivers batch 1 (at-least-once).
    _apply(
        spark, path, [(1, "seg-a3", "2024-03-01"), (9, "seg-new", "2024-03-01")], 1
    )

    ref = str(tmp_path / "dim_ref")
    _seed(spark, ref)
    _apply(spark, ref, [(1, "seg-a2", "2024-02-01")], 0)
    _apply(
        spark, ref, [(1, "seg-a3", "2024-03-01"), (9, "seg-new", "2024-03-01")], 1
    )
    healed = _snapshot(spark, path)
    assert healed == _snapshot(spark, ref)
    assert not any(k == 999 for (k, _seg) in healed)  # orphan fully replaced


def test_double_crash_replay_chain(spark, tmp_path):
    """Two consecutive replays of the same batch (crash, replay, crash
    again before commit, replay again) still converge to the clean
    chain — idempotence holds under REPEATED failure, not just one."""
    path = str(tmp_path / "dim")
    _seed(spark, path)
    _apply(spark, path, [(2, "seg-b2", "2024-02-01")], 0)
    before = _snapshot(spark, path)
    for _ in range(2):
        _apply(spark, path, [(2, "seg-b2", "2024-02-01")], 0)
    assert _snapshot(spark, path) == before


def test_multi_key_collision_batch(spark, tmp_path):
    """One micro-batch carrying colliding work across keys: the same
    key updated twice (latest effective wins, the intermediate never
    lands), an idempotent re-delivery of the current value (no-op),
    and a brand-new key — all in a single merge."""
    path = str(tmp_path / "dim")
    _seed(spark, path)
    _apply(
        spark,
        path,
        [
            (1, "seg-a1", "2024-02-01"),  # same key twice: earlier...
            (1, "seg-a2", "2024-03-01"),  # ...and later — later wins
            (2, "seg-b", "2024-03-01"),  # identical to current: no-op
            (9, "seg-new", "2024-03-01"),  # brand-new key
        ],
        0,
    )
    assert _snapshot(spark, path) == {
        (1, "seg-a"): ("2024-01-01", "2024-03-01", False),
        (1, "seg-a2"): ("2024-03-01", None, True),
        (2, "seg-b"): ("2024-01-01", None, True),
        (3, "seg-c"): ("2024-01-01", None, True),
        (9, "seg-new"): ("2024-03-01", None, True),
    }


def test_empty_frame_commits_no_version(spark, tmp_path):
    """The versioned-state publish contract: an EMPTY frame commits NO
    version (empty-batch replay and the rollup floor twin rely on the
    absence). r13's any-part-file staging check let a schema-only
    part file through (a plain parquet write of an empty frame still
    emits one — ADVICE r13, high); the partitioned stage writes no
    partition dir for an empty frame, restoring the contract."""
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.dimension import (
        _versions,
        _write_version,
    )

    path = str(tmp_path / "dim")
    _seed(spark, path)  # version 0
    empty = spark.createDataFrame(
        [], "k long, seg string, valid_from string, valid_to string, is_current boolean"
    )
    _write_version(empty, path, 1)
    assert _versions(spark, path) == [0]  # no version 1, no staging leftovers
    # A non-empty frame still publishes, readable with the same layout.
    _apply(spark, path, [(1, "seg-a2", "2024-02-01")], 1)  # version 2
    assert _versions(spark, path) == [0, 2]
    assert (1, "seg-a2") in _snapshot(spark, path)


def test_overlapped_publishes_inherit_the_callers_job_group(spark, tmp_path):
    """The two-store operators publish their OUTPUT and STATE versions
    from a thread pool. Spark's job group is thread-local, so each pool
    thread must carry the caller's group: otherwise the publishes'
    jobs escape ``cancelJobGroup`` (and a stopping stream) and lose
    their attribution in the UI."""
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.dimension import (
        _write_versions_overlapped,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "peps-overlapped-publish"
    a = spark.createDataFrame([(1, "x")], "k long, v string")
    b = spark.createDataFrame([(2, "y")], "k long, v string")
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "overlapped publish", interruptOnCancel=True)
    try:
        _write_versions_overlapped(
            [(a, str(tmp_path / "out"), 1), (b, str(tmp_path / "state"), 1)]
        )
    finally:
        for k in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(k, None)
    grouped = tracker.getJobIdsForGroup(group)
    # one write job per publish, at least; none ran outside the group
    assert len(grouped) >= 2
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
