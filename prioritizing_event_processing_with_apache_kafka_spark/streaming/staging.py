"""Micro-batch staging for the streaming twins' availableNow replays.

Shared by every streaming twin (RFM/ABC/heavy-hitters/Lorenz,
and ``stream_route_lifetime``, which drives ``lifetime.py``, the
package's one lifetime-exact router): a list of batch frames becomes
single-file parquet drops with strictly increasing mtimes, so a
``maxFilesPerTrigger=1`` / availableNow file stream replays them as
separate micro-batches in a deterministic order.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

__all__ = ["stage_two_batch_stream"]


def stage_two_batch_stream(
    root: str, batches: list[DataFrame], *, files_per_batch: int = 1
):
    """Stage ``batches`` as parquet drops under ``root/src`` with
    strictly increasing mtimes. Returns ``(src_dir, schema)``.

    ``files_per_batch=1`` (default): one ``coalesce(1)`` file per
    batch, replayed with ``maxFilesPerTrigger=1``. The coalesce write
    is SERIAL — fine at fixture scale, but it becomes the dominant
    harness cost when a grow probe feeds 50M-row batches through a
    twin (measured 8.7 s of the r13 100× lifetime-router probe).

    ``files_per_batch=K``: each batch lands as K parquet files written
    in parallel (``repartition(K)``), mtime-grouped so Spark's file
    source (which orders files by modification time) puts exactly one
    group per trigger with ``maxFilesPerTrigger=K``. Within a group
    the mtimes ascend in file order 1 s apart and groups are separated
    by an hour, so the K oldest unseen files are always exactly one
    batch. Only valid for twins whose per-batch transform is
    insensitive to intra-batch arrival order (the routers sort by
    ``order_col``; the rollup merges are commutative)."""
    src_dir = os.path.join(root, "src")
    os.makedirs(src_dir)

    def _write_one(i: int, b: DataFrame) -> str:
        stage = os.path.join(root, f"stage{i}")
        if files_per_batch == 1:
            b.coalesce(1).write.parquet(stage)
        else:
            b.repartition(files_per_batch).write.parquet(stage)
        return stage

    # The per-batch staging writes are independent jobs on disjoint
    # output dirs — submit them concurrently (guide §2.6: actions are
    # only sequential because driver code calls them sequentially), so
    # batch 2's scan back-fills the cores batch 1's single write task
    # leaves idle. Every batch's FILE CONTENT is byte-identical to the
    # serial write (same per-batch plan, same coalesce/repartition);
    # only wall-clock overlaps. The mtime stamping below stays serial
    # driver-side work.
    if len(batches) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(batches)) as pool:
            stages = list(pool.map(lambda ib: _write_one(*ib), enumerate(batches)))
    else:
        stages = [_write_one(i, b) for i, b in enumerate(batches)]

    schema = None
    for i, (stage, b) in enumerate(zip(stages, batches)):
        parts = sorted(p for p in os.listdir(stage) if p.endswith(".parquet"))
        for j, part in enumerate(parts):
            dst = os.path.join(src_dir, f"batch-{i}-{j:04d}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            os.utime(dst, (1_700_000_000 + i * 3600 + j,) * 2)
        schema = b.schema
        if files_per_batch > 1 and len(parts) != files_per_batch:
            # A short batch (fewer rows than partitions) can produce
            # fewer files; maxFilesPerTrigger=K would then misalign
            # the batch boundaries. Refuse rather than silently merge.
            raise ValueError(
                f"batch {i} wrote {len(parts)} files, expected "
                f"{files_per_batch}; use files_per_batch=1 for tiny batches"
            )
    return src_dir, schema
