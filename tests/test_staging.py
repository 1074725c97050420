"""Parallel K-file staging (streaming/staging.py): one file group per
micro-batch, and the short-batch refusal."""

from __future__ import annotations


class TestParallelStaging:
    def test_k_file_groups_align_with_micro_batches(self, spark):
        # files_per_batch=K staging (a serial coalesce(1) write was
        # 8.7 s of a 100x lifetime-probe wall) relies on the file
        # source taking the K oldest unseen files per trigger. Three
        # 4-file groups must replay as exactly three micro-batches,
        # each holding one complete group.
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from prioritizing_event_processing_with_apache_kafka_spark.streaming.staging import (
            stage_two_batch_stream,
        )

        root = tempfile.mkdtemp(prefix="peps-kstage-")
        chk = tempfile.mkdtemp(prefix="peps-kstage-chk-")
        seen: dict[int, set[int]] = {}
        try:
            batches = [
                spark.range(100 * g, 100 * g + 40).select(
                    F.col("id").cast("long").alias("id")
                )
                for g in range(3)
            ]
            src_dir, schema = stage_two_batch_stream(
                root, batches, files_per_batch=4
            )
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 4)
                .parquet(src_dir)
            )

            def capture(batch_df, batch_id):
                seen[batch_id] = {r["id"] for r in batch_df.collect()}

            q = (
                stream.writeStream.foreachBatch(capture)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            assert seen == {
                g: set(range(100 * g, 100 * g + 40)) for g in range(3)
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
            shutil.rmtree(chk, ignore_errors=True)

    def test_short_batch_refuses_k_staging(self, spark):
        import shutil
        import tempfile

        import pytest as _pytest

        from prioritizing_event_processing_with_apache_kafka_spark.streaming.staging import (
            stage_two_batch_stream,
        )

        root = tempfile.mkdtemp(prefix="peps-kstage-short-")
        try:
            with _pytest.raises(ValueError, match="use files_per_batch=1"):
                stage_two_batch_stream(
                    root, [spark.range(2)], files_per_batch=16
                )
        finally:
            shutil.rmtree(root, ignore_errors=True)
